package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.compile.ConstraintCompiler
import graft.spec.TableSpec

/** Structured-Streaming face of the engine (SURVEY.md §2.7).
  *
  * The compiled row-rule scan is STATELESS — the exact same Catalyst
  * expressions run unchanged on a streaming DataFrame, so per-batch
  * validation is `violations(spec, stream)` with zero extra code. The
  * stateful pieces use the standard streaming operators:
  *  - [[dedupStream]]: first-seen url dedup via `dropDuplicates` +
  *    watermark (state store backed, scales with the state store);
  *  - [[firstSeenWithState]]: the same semantics spelled out with
  *    `mapGroupsWithState` for custom-state extensions;
  *  - [[windowedViolationCounts]]: watermarked tumbling-window violation
  *    counts per partition;
  *  - [[runIncremental]]: `foreachBatch` bridge into the batch engine +
  *    manifest, mirroring the reference's batch-at-a-time orchestration
  *    with checkpointed resume.
  */
object StreamingValidator {

  /** Row-rule violations on a streaming DataFrame — same compiled plan as
    * batch (ConstraintCompiler is stateless). */
  def violationStream(spec: TableSpec, stream: DataFrame): DataFrame =
    ConstraintCompiler.violations(spec, stream)

  /** Continuous raw-YAML ingestion: a STREAM of whole data-file documents
    * (Spark's file source with `wholetext`, one row per arriving file) →
    * executor-side PyYamlParse/YamlIngest → the same stateless
    * HepDataRules scan as batch. The production shape for a landing zone
    * that data files drop into: new files become violation rows with
    * checkpointed exactly-once file tracking, no extra state (the nested
    * rules are a pure projection).
    *
    * Returns (file, seq, message, level). Files whose YAML fails to parse
    * or whose shape exits the row model surface as INGEST rows (seq -1 /
    * -2) rather than being dropped — a streaming analogue of
    * [[graft.ingest.RawSubmission]]'s parse-error and quarantine paths.
    *
    * Boundary: Spark's text source emits NO row for a zero-byte file, so
    * the "No data found in file." case can't surface here — route empty
    * files from the LISTING (like RawSubmission's size-aware walk) in a
    * landing zone where they matter. */
  def rawDataFileViolations(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    import graft.ingest._
    import graft.hep.{HepDataRules, HepRow, SchemaVersion}
    val files = spark.readStream.format("text")
      .option("wholetext", "true").load(pathGlob)
      .select(input_file_name().as("path"), col("value"))
    // ONE parse per file per micro-batch: the previous shape unioned two
    // branches over the SAME typed map (rule rows + ingest rows), and Spark
    // does not share common subplans across union branches, so every file
    // was read and YAML-parsed twice (round-5 verdict item). The parse now
    // emits a tagged union — (HepRow, ingestSeq, ingestMsg) — and the split
    // happens downstream on the packed stage: failed parses carry an
    // empty-array placeholder row (the rule kernels run harmlessly on it;
    // the generator's when() discards its `_v` in favour of the ingest
    // message riding in the carry columns), so no filter has to sit
    // between the parse and the kernel — the old double-parse union AND
    // its filter-reordering NPE hazard are both gone.
    val typed = files.as[(String, String)]
    val parsed = typed.map { case (path, text) =>
      val fname = path.substring(path.lastIndexOf('/') + 1)
      def placeholder = HepRow(fname, emptyDoc = false,
        hasIndep = false, indep = Nil, hasDep = false, dep = Nil)
      try (YamlIngest.parseDataFile(fname, text),
        None: Option[Int], None: Option[String])
      catch {
        case e: PyYamlError => (placeholder, Some(-1),
          Some("There was a problem parsing the file:\n\t\t" +
            e.rendered.replace("\n", "\n\t\t")))
        case e: UnrepresentableShape => (placeholder, Some(-2),
          Some(s"Unrepresentable YAML shape: ${e.what}"))
      }
    }
    val flat = parsed.toDF("row", "ingestSeq", "ingestMsg")
      .select(col("row.*"), col("ingestSeq"), col("ingestMsg"))
    val packed = HepDataRules.packedViolations(flat, SchemaVersion.Default,
      carry = Seq("ingestSeq", "ingestMsg"))
    // one generator: ingest rows explode their single synthetic message,
    // parse-OK rows explode `_v` (null/empty arrays emit nothing)
    val ingestVio = struct(lit(0).as("phase"), lit(0).as("k1"),
      lit(0).as("k2"), lit(0).as("k3"), lit(0).as("k4"), lit(0).as("k5"),
      col("ingestMsg").as("message"))
    packed
      .select(col("file"), col("ingestSeq"),
        posexplode(when(col("ingestSeq").isNotNull, array(ingestVio))
          .otherwise(col("_v"))))
      .select(col("file"),
        coalesce(col("ingestSeq"), col("pos")).cast("int").as("seq"),
        col("col.message").as("message"), lit("error").as("level"))
  }

  /** First-seen deduplication over the stream. Watermark bounds the state:
    * urls older than the delay are evicted (exactly the bounded-state
    * tradeoff a 10^12-doc stream needs). */
  def dedupStream(stream: DataFrame, tsCol: String, keyCol: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(keyCol, tsCol)

  final case class SeenUpdate(key: String, firstSeen: Boolean, timesSeen: Long)

  /** mapGroupsWithState variant: emits (key, firstSeen, timesSeen) per
    * batch — the shape to extend when dedup needs custom state (e.g.
    * keep-best-by-quality instead of keep-first). */
  def firstSeenWithState(spark: SparkSession, stream: DataFrame,
      keyCol: String): DataFrame = {
    import spark.implicits._
    stream.select(col(keyCol).cast("string")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[String], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val n = rows.size
          state.update(prev + n)
          SeenUpdate(key, firstSeen = prev == 0, timesSeen = prev + n)
      }.toDF()
  }

  /** Watermarked tumbling-window violation counts per partition. */
  def windowedViolationCounts(spec: TableSpec, stream: DataFrame,
      tsCol: String, windowLen: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    val withTs = stream.withWatermark(tsCol, watermarkDelay)
    val failing = withTs.where(!ConstraintCompiler.rowPasses(spec))
    failing.groupBy(window(col(tsCol), windowLen),
        col(spec.partitionColumn))
      .agg(count(lit(1)).as("n_violations"))
  }

  /** Watermarked per-window KLL sketches of a numeric column — the
    * streaming face of [[graft.engine.DriftPass]]. Streaming state per open
    * window is ONE mergeable sketch (few KB), never the raw values: the
    * kll_sketch TypedImperativeAggregate's partial buffers live in the
    * state store and merge across micro-batches. Output (append mode) emits
    * a closed window's (window, sketch bytes, n) once its watermark
    * passes. */
  def windowedSketches(spark: SparkSession, stream: DataFrame,
      valueExpr: String, tsCol: String,
      windowLen: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    graft.sketch.KllSketchAgg.register(spark)
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen))
      .agg(expr(s"kll_sketch(cast(($valueExpr) as double))").as("sketch"),
        count(lit(1)).as("n"))
  }

  /** Streaming drift monitor: each closed window's sketch is KS/χ²-tested
    * against a FIXED baseline sketch (e.g. last snapshot's distribution,
    * persisted in the manifest) inside foreachBatch, appending DriftReport
    * rows to `outPath`. Checkpointed — a restarted monitor resumes without
    * re-testing committed windows. */
  def driftMonitor(
      spark: SparkSession,
      stream: DataFrame,
      valueExpr: String,
      tsCol: String,
      baselineBytes: Array[Byte],
      outPath: String,
      checkpointDir: String,
      windowLen: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): org.apache.spark.sql.streaming.StreamingQuery = {
    windowedSketches(spark, stream, valueExpr, tsCol, windowLen, watermarkDelay)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.engine.DriftPass
        val baseline = graft.sketch.KllSketchAgg.heapify(baselineBytes)
        val rows = batch.select(col("window.start").cast("long").as("w"),
            col("sketch"), col("n")).collect()
        if (rows.nonEmpty) {
          val reports = rows.toSeq.map { r =>
            val sk = graft.sketch.KllSketchAgg.heapify(r.getAs[Array[Byte]]("sketch"))
            val n = r.getAs[Long]("n")
            val ks = DriftPass.ksStatistic(sk, baseline)
            val ksThr = DriftPass.ksThreshold(n, baseline.getN, 1.628)
            val (c2, dof) = DriftPass.chi2Statistic(sk, baseline)
            DriftPass.DriftReport(r.getAs[Long]("w").toInt, n, ks, ksThr,
              ks > ksThr, c2, DriftPass.chi2Threshold(dof),
              c2 > DriftPass.chi2Threshold(dof))
          }
          val session = batch.sparkSession
          import session.implicits._
          reports.toDF().withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .start()
  }

  /** foreachBatch bridge: every micro-batch runs the BATCH validator
    * through [[graft.report.Manifest.runIncremental]], checkpointed. A batch
    * replayed after a crash between the manifest write and the checkpoint
    * commit finds its partitions done and appends nothing; so the stream
    * must deliver all of a partition's rows for one snapshot in one batch,
    * or move to a new `snapshotId`. */
  def runIncremental(
      spark: SparkSession,
      stream: DataFrame,
      spec: TableSpec,
      manifestPath: String,
      checkpointDir: String,
      snapshotId: Long): org.apache.spark.sql.streaming.StreamingQuery = {
    val p = spec.partitionColumn
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.report.Manifest.runIncremental(spark, manifestPath,
          batch.withColumn("part_id", col(p)), snapshotId,
          s"stream batch=$batchId") { slice =>
          graft.engine.Passes.verdicts(ConstraintCompiler.violations(spec, slice),
            p, slice.select(col(p))).withColumnRenamed(p, "part_id")
        }
        ()
      }
      .start()
  }
}
