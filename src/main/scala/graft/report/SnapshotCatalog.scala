package graft.report

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Thin Iceberg-shaped snapshot seam over partitioned parquet (SURVEY.md
  * §7.4: no Iceberg runtime in /opt/spark/jars — this keeps the API
  * snapshot-shaped so a real catalog drops in).
  *
  * Layout: `<root>/snapshot=<id>/part-*.parquet`. `snapshot` is a real
  * partition column, so `readUpTo`/`readSnapshot` prune at the directory
  * level — a 10^12-row table scan of one snapshot touches only that
  * snapshot's files. Incremental validation = [[Manifest.runIncremental]]
  * per snapshot.
  */
final class SnapshotCatalog(spark: SparkSession, root: String) {

  def append(df: DataFrame, snapshotId: Long): Unit =
    df.withColumn("snapshot", lit(snapshotId))
      .write.mode(SaveMode.Append).partitionBy("snapshot").parquet(root)

  def snapshots(): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snapshot="))
      .map(_.getPath.getName.stripPrefix("snapshot=").toLong).sorted
  }

  def readSnapshot(snapshotId: Long): DataFrame =
    spark.read.parquet(root).where(col("snapshot") === snapshotId)

  def readUpTo(snapshotId: Long): DataFrame =
    spark.read.parquet(root).where(col("snapshot") <= snapshotId)

  /** Validate every snapshot with `process` (slice → verdicts) through
    * [[Manifest.runIncremental]], one call per snapshot; returns the
    * snapshot ids that had pending partitions. Re-running after a crash
    * resumes exactly at the first partition not recorded at its snapshot. */
  def runIncremental(manifestPath: String, lineage: String)(
      process: DataFrame => DataFrame): Seq[Long] =
    snapshots().filter { snap =>
      Manifest.runIncremental(spark, manifestPath, readSnapshot(snap), snap,
        s"$lineage snapshot=$snap")(process).nonEmpty
    }
}
