package graft.report

import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-partition lineage + metrics manifest and snapshot-style resume
  * (BASELINE.json north_star; FIXTURES.md §2).
  *
  * No Iceberg runtime ships in /opt/spark/jars (BASELINE.md), so snapshot
  * semantics are emulated over an append-only parquet table with the same
  * shape an Iceberg manifest would have: one row per (snapshot_id, part_id)
  * run with status, row/violation counts, timings and a lineage string.
  * Resumability = LEFT ANTI join of the input's partitions against the
  * manifest's completed rows — only unprocessed partitions are touched, so a
  * restarted 10^12-row run re-reads nothing it already validated.
  *
  * [[runIncremental]] is the one resume driver (CLI, snapshot catalog,
  * streaming): the only code that reads the frontier or writes rows. A
  * partition is done only at the `snapshot_id` it was validated at. Paths
  * go through the Hadoop FileSystem API (`file:`, `hdfs:`, `s3a:`, ...).
  *
  * Uniqueness is per run: duplicate-url rows carry `part_id = -1` and
  * verdicts drop them, so no manifest row counts them, and a resumed run
  * reports duplicates only among the rows it validated. */
object Manifest {

  val schema: StructType = StructType(Seq(
    StructField("part_id", IntegerType),
    StructField("snapshot_id", LongType),
    StructField("status", StringType),
    StructField("docs", LongType),
    StructField("violations", LongType),
    StructField("started_ts", TimestampType),
    StructField("finished_ts", TimestampType),
    StructField("lineage", StringType)))

  /** Read the manifest; empty-but-typed when it doesn't exist yet. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(schema).parquet(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Restrict `input` to the partitions not done at `snapshotId`, run
    * `process` over them, append one `done` row each, return their ids
    * (empty ⇒ the resume no-op, `process` never runs). Rows are written
    * after the verdicts are collected, so a run that throws records
    * nothing; `started_ts`/`finished_ts` are the driver's clock around
    * `process` and that collect. */
  def runIncremental(
      spark: SparkSession,
      path: String,
      input: DataFrame,
      snapshotId: Long,
      lineage: String)(
      process: DataFrame => DataFrame /* input → verdicts(part_id, n_violations, pass) */)
      : Seq[Int] = {
    val done = read(spark, path)
      .where(col("status") === "done" && col("snapshot_id") === snapshotId)
      .select(col("part_id"))
    val todo = input.select(col("part_id")).distinct()
      .join(broadcast(done), Seq("part_id"), "left_anti")
      .collect().map(_.getInt(0)).sorted.toSeq
    if (todo.isEmpty) return Seq.empty
    val slice = input.where(col("part_id").isin(todo.map(Integer.valueOf): _*))
    val started = Timestamp.from(Instant.now())
    val docsPerPart = slice.groupBy(col("part_id")).agg(count(lit(1)).as("docs"))
    val verdicts = process(slice).join(docsPerPart, Seq("part_id"), "left")
      .select(col("part_id").cast("int"),
        coalesce(col("docs"), lit(0L)), col("n_violations").cast("long"))
      .collect()
    val finished = Timestamp.from(Instant.now())
    val rows = verdicts.toSeq.map(r => Row(r.getInt(0), snapshotId, "done",
      r.getLong(1), r.getLong(2), started, finished, lineage))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode(SaveMode.Append).parquet(path)
    todo
  }
}
