package hepbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.ConstraintCompiler
import graft.engine.{PageValidator, Passes}
import graft.testdata.PagesGen

/** `page_pipeline`: the flagship page-table path. Set-up stages `dirty`
  * PagesGen pages (and the clean expected-text table) as parquet, spread
  * over files by a seeded hash; each operation runs `PageValidator.validate`,
  * persists the violations and sinks violations and verdicts to noop, with
  * column stats observed on the way.
  *
  * Checks: per-rule violation counts and per-partition verdict counts must
  * equal the counts derived here, independently of the Spark expressions,
  * from the `PagesGen.Dirty` residues; one verdict per partition. */
final class PagePipeline(seed: Long, corrupt: Boolean,
    queryTables: Option[(String, File)]) extends Workload {
  val HtmlCap = 10000L
  val docs: Long = 100000L + Math.floorMod(seed, 1000L)
  private val cpus = Runtime.getRuntime.availableProcessors

  /** Scala mirror of the dirty profile's injection precedence. */
  private def urlKind(id: Long): String =
    if (id % 1000 == 3) "null"
    else if (id % 1000 == 5) "bad_scheme"
    else if (id % 997 == 29) "hot"
    else if (id % 1000 == 17) "dup"
    else "clean"

  private val (expectedRules, expectedParts) = {
    val rules = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val parts = Array.fill(PagesGen.NumParts)(0L)
    val urls = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var id = 0L
    while (id < docs) {
      val kind = urlKind(id)
      val hits = Seq(
        "not_null:url" -> (kind == "null"),
        "regex:url" -> (kind == "bad_scheme"),
        "between:warc_ts" -> (id % 1000 == 41),
        "max_bytes:html" -> (id % 1000 == 37),
        "referential:lang" -> (id % 500 == 11),
        // rows whose url is an expected url but whose text is not its text
        "invariant:text" -> ((kind == "clean" && id % 1000 == 31) || kind == "dup"))
        .collect { case (r, true) => r }
      hits.foreach(r => rules(r) += 1)
      parts((id % PagesGen.NumParts).toInt) += hits.size
      kind match {
        case "null" =>
        case "bad_scheme" => urls(s"ftp:$id") += 1
        case "hot" => urls("hot") += 1
        case "dup" => urls(s"p/${id - 1}") += 1
        case _ => urls(s"p/$id") += 1
      }
      id += 1
    }
    rules("unique:url") = urls.valuesIterator.count(_ > 1).toLong
    if (corrupt) rules("unique:url") += 1
    (rules.toMap, parts.toSeq)
  }

  private var pagesPath: String = _
  private var expectedPath: String = _

  def stage(spark: SparkSession, dir: File): Unit = {
    pagesPath = new File(dir, "pages").getPath
    expectedPath = new File(dir, "expected").getPath
    PagesGen.pages(spark, docs, "dirty")
      .withColumn("_k", xxhash64(col("url"), col("text"), lit(seed)))
      .repartition(cpus * 2, col("_k")).drop("_k")
      .write.parquet(pagesPath)
    PagesGen.expectedText(spark, docs).repartition(cpus * 2).write.parquet(expectedPath)
  }

  private def inputs(spark: SparkSession): (DataFrame, DataFrame) =
    (spark.read.parquet(pagesPath), spark.read.parquet(expectedPath))

  def op(spark: SparkSession, i: Int): OpResult = {
    val (pages, expected) = inputs(spark)
    val obs = Observation()
    val res = PageValidator.validate(spark, pages, PagesGen.langDim(spark), expected,
      htmlMaxBytes = HtmlCap, observation = Some(obs),
      observeCols = Seq("url", "warc_ts", "text", "lang", "part_id"))
    res.violations.persist()
    Main.noop(res.violations)
    Main.noop(res.verdicts)
    val rows = obs.get("n_rows").asInstanceOf[Long]
    OpResult(docs, () => try {
      val byRule = res.violations.groupBy("rule_id").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val verdicts = res.verdicts.collect()
        .map(r => r.getInt(0) -> r.getAs[Long]("n_violations")).toMap
      val ok = rows == docs && byRule == expectedRules.filter(_._2 > 0) &&
        verdicts == expectedParts.zipWithIndex.map { case (n, p) => p -> n }.toMap
      if (!ok) System.err.println(s"[hepbench] MISMATCH rows=$rows rules=$byRule " +
        s"expected=$expectedRules verdicts=$verdicts expected=$expectedParts")
      ok
    } finally res.violations.unpersist())
  }

  def warmUpSeconds: Double = 5

  def jobLayer(callSite: String): String = "engine"

  /** Each pass of the pipeline as its own call under its own job group,
    * on the same staged inputs; a listener sums the group's task counters. */
  def layers(spark: SparkSession, tracer: Tracer, ops: Seq[Int]): LayerResult = {
    val (pages, expected) = inputs(spark)
    val spec = PageValidator.pageSpec(Nil, HtmlCap)
    val rowSpec = spec.copy(rules = spec.rules.filterNot(_.id.startsWith("enum:")))
    val full = PageValidator.validate(spark, pages, PagesGen.langDim(spark), expected,
      htmlMaxBytes = HtmlCap)
    full.violations.persist()
    Main.noop(full.violations)
    val passes: Seq[(String, () => DataFrame)] = Seq(
      "compile.row_rules" -> (() => ConstraintCompiler.violations(rowSpec, pages)),
      "engine.uniqueness" -> (() => Passes.duplicates(pages, "url")),
      "engine.referential" -> (() =>
        Passes.referentialViolations(pages, "lang", PagesGen.langDim(spark), "lang")),
      "engine.text_invariant" -> (() => Passes.textInvariantViolations(
        pages.select(col("part_id"), col("url"), col("text")), "url", "text",
        expected, "text_sha256", carry = Seq("part_id"))),
      "engine.verdicts" -> (() => full.verdicts),
      "engine.stats" -> (() => Passes.columnStats(pages,
        Seq("url", "warc_ts", "text", "lang", "part_id"))))
    val rec = Recorder.attach(spark)
    val sc = spark.sparkContext
    val timed = passes.map { case (name, df) =>
      sc.setJobGroup(name, name)
      val obs = Observation()
      val t0 = System.nanoTime()
      tracer.span(2000000L, 0, name)(_ => Main.noop(df().observe(obs, count(lit(1)).as("n"))))
      val t = Main.secs(t0)
      sc.clearJobGroup()
      (name, t, obs.get("n").asInstanceOf[Long])
    }
    Recorder.detach(spark, rec)
    full.violations.unpersist()
    val passMetrics = timed.flatMap { case (name, t, n) =>
      val g = rec.group(name)
      Seq(s"${name}_s" -> t,
        s"$name.shuffle_write_mb" -> g.shuffleWriteBytes / 1048576.0,
        s"$name.spill_mb" -> g.spillBytes / 1048576.0,
        s"$name.peak_mem_mb" -> g.peakMemBytes / 1048576.0,
        s"$name.records_out" -> n.toDouble)
    }.toMap
    val queries = queryTables.fold(LayerResult(Map.empty)) { case (tables, out) =>
      QueryLayer.run(spark, tables, out, tracer) }
    LayerResult(passMetrics ++ queries.metrics, queries.attempted, queries.failed)
  }
}
