package hepbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The driver-query layer: every `SparkEntry.queries` entry over the
  * generated tables, run once each, cold, writing its output as parquet
  * for the DuckDB oracle; the timing includes the parquet write. */
object QueryLayer {
  /** Oracles that pin VALUES computed from the driver's own data files;
    * over generated tables these queries only need to return rows. */
  val pinnedToDriverData = Set("ann_topk", "ivf_topk", "dedup_simhash", "drift_by_day")

  def run(spark: SparkSession, tables: String, out: File, tracer: Tracer): LayerResult = {
    val oracle = SparkEntry.oracleSql -- pinnedToDriverData
    var failed = 0L
    val timed = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      val path = new File(out, name).getPath
      val t0 = System.nanoTime()
      val wrote = try {
        tracer.span(3000000L, 0, s"query.$name")(_ => q(spark, tables).write.parquet(path))
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[hepbench] query $name threw: $e")
          false
      }
      val t = Main.secs(t0)
      if (!wrote || !(oracle.contains(name) || spark.read.parquet(path).count() > 0)) {
        System.err.println(s"[hepbench] query $name failed its check")
        failed += 1
      }
      s"query.${name}_s" -> t
    }
    val w = new java.io.PrintWriter(new File(out, "oracle_sql.json"), "UTF-8")
    try w.println(Json.obj(oracle.toSeq.sortBy(_._1))) finally w.close()
    LayerResult((timed :+ ("query.suite_s" -> timed.map(_._2).sum)).toMap,
      timed.size.toLong, failed)
  }
}
