package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.PageValidator
import graft.streaming.StreamingValidator
import graft.testdata.PagesGen

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val N = 4000L

  def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString

  /** Stage dirty pages as a file-stream source. */
  lazy val stagingDir: String = {
    val dir = tmp("stream_src")
    PagesGen.pages(spark, N, "dirty").write.mode("overwrite").parquet(dir)
    dir
  }
  lazy val pagesSchema = spark.read.parquet(stagingDir).schema
  def spec = PageValidator.pageSpec(PagesGen.Langs, htmlMaxBytes = 10000)

  test("raw-YAML data files stream into the same violations as batch ingest") {
    // a landing zone: whole YAML documents arrive as files; the stream
    // emits the exact batch messages plus INGEST rows for parse errors
    val dir = java.nio.file.Files.createTempDirectory("graft_rawstream_")
    try {
      graft.ingest.RawYamlFixtures.docs.foreach { case (n, text) =>
        java.nio.file.Files.write(dir.resolve(n), text.getBytes("UTF-8"))
      }
      java.nio.file.Files.write(dir.resolve("broken.yaml"),
        "a: b:\n - ]\n".getBytes("UTF-8"))
      val q = StreamingValidator.rawDataFileViolations(spark, dir.toString + "/*.yaml")
        .writeStream.format("memory").queryName("stream_rawyaml")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val got = spark.sql("select * from stream_rawyaml").collect()
        .map(r => (r.getAs[String]("file"), r.getAs[String]("message"))).toSet
      val batch = graft.hep.HepDataRules.violations(
          spark.createDataFrame(graft.ingest.RawYamlFixtures.docs.map { case (n, t) =>
            graft.ingest.YamlIngest.parseDataFile(n, t) }))
        .collect().map(r => (r.getAs[String]("file"), r.getAs[String]("message"))).toSet
      // (zero-byte files emit no row through Spark's text source — the
      // "No data found" case is a listing-level concern, see Scaladoc)
      val comparable = batch.filterNot(_._1 == "raw_empty.yaml")
      assert(comparable.subsetOf(got), (comparable -- got).take(3))
      assert(comparable.size > 20)
      assert(got.exists { case (f, m) =>
        f == "broken.yaml" && m.startsWith("There was a problem parsing the file:") })
      // single-parse plan: exactly ONE MapElements (the YAML parse) — the
      // old two-branch union read and parsed every file twice per batch
      val planStr = StreamingValidator
        .rawDataFileViolations(spark, dir.toString + "/*.yaml")
        .queryExecution.analyzed.toString
      val nParses = "MapElements".r.findAllIn(planStr).length
      assert(nParses === 1, s"expected one parse node, plan:\n$planStr")
    } finally {
      import scala.util.Try
      Try(org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile))
    }
  }

  test("streaming violations match the batch result (same compiled plan)") {
    val stream = spark.readStream.schema(pagesSchema).parquet(stagingDir)
    val q = StreamingValidator.violationStream(spec, stream)
      .writeStream.format("memory").queryName("stream_viol")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("select * from stream_viol").count()
    val batch = graft.compile.ConstraintCompiler
      .violations(spec, spark.read.parquet(stagingDir)).count()
    assert(streamed === batch && batch > 0)
  }

  test("watermarked windowed violation counts emit per-window rows") {
    val stream = spark.readStream.schema(pagesSchema).parquet(stagingDir)
    val q = StreamingValidator.windowedViolationCounts(
        spec, stream, "warc_ts", windowLen = "30 days",
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("stream_win")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.sql("select * from stream_win").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_violations")).sum > 0)
  }

  test("stateful first-seen dedup counts duplicates once") {
    val stream = spark.readStream.schema(pagesSchema).parquet(stagingDir)
    val q = StreamingValidator.firstSeenWithState(spark,
        stream.where(col("url").isNotNull), "url")
      .writeStream.format("memory").queryName("stream_seen")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.sql("select * from stream_seen")
    val hot = out.where("key = 'https://h0.example.org/p/hot'").collect()
    assert(hot.length === 1)
    assert(hot(0).getAs[Long]("timesSeen") > 1) // the planted hot duplicate
    assert(hot(0).getAs[Boolean]("firstSeen")) // first batch containing it
  }

  test("custom JSON-Schema validation runs unchanged on a stream (stateless)") {
    import spark.implicits._
    val schema = graft.spec.JsonSchema.compile(
      """{"type": "object", "properties": {"a": {"type": "integer"}},
         |"required": ["a"], "additionalProperties": false}""".stripMargin)
    val srcDir = tmp("schema_src")
    Seq(
      ("d1", """{"a": 1}""", "t"),
      ("d2", """{"a": "x"}""", "t"),
      ("d3", """{"b": 2}""", "t"))
      .toDF("file", "json", "schemaType")
      .write.mode("overwrite").parquet(srcDir)
    val sch = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(sch).parquet(srcDir)
    val q = graft.compile.CustomSchemas.violations(
        stream, "file", "json", "schemaType", Seq("t" -> schema))
      .writeStream.format("memory").queryName("stream_schema")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("select file, message from stream_schema")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val batch = graft.compile.CustomSchemas.violations(
        spark.read.parquet(srcDir), "file", "json", "schemaType",
        Seq("t" -> schema))
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(streamed === batch && batch.size === 3)
  }

  test("streaming drift monitor: windowed sketches vs baseline, per-window reports") {
    import graft.engine.DriftPass
    val batchDf = spark.read.parquet(stagingDir)
    // shifted baseline -> every closed window must drift
    val shifted = DriftPass.pooledBaseline(spark,
      batchDf.withColumn("v", length(col("text")) + lit(10000)), "v", "part_id")
    val out1 = tmp("drift_out1"); val ck1 = tmp("drift_ck1")
    val s1 = spark.readStream.schema(pagesSchema).parquet(stagingDir)
    val q1 = StreamingValidator.driftMonitor(spark, s1, "length(text)",
      "warc_ts", shifted.toByteArray, out1, ck1,
      windowLen = "30 days", watermarkDelay = "0 seconds")
    q1.processAllAvailable(); q1.stop()
    val r1 = spark.read.parquet(out1)
    assert(r1.count() > 3, "expected several closed 30-day windows")
    assert(r1.where(!col("ksDrifted")).count() === 0)
    // matched baseline -> no KS drift anywhere
    val matched = DriftPass.pooledBaseline(spark,
      batchDf.withColumn("v", length(col("text"))), "v", "part_id")
    val out2 = tmp("drift_out2"); val ck2 = tmp("drift_ck2")
    val s2 = spark.readStream.schema(pagesSchema).parquet(stagingDir)
    val q2 = StreamingValidator.driftMonitor(spark, s2, "length(text)",
      "warc_ts", matched.toByteArray, out2, ck2,
      windowLen = "30 days", watermarkDelay = "0 seconds")
    q2.processAllAvailable(); q2.stop()
    val r2 = spark.read.parquet(out2)
    assert(r2.count() > 3)
    assert(r2.where(col("ksDrifted")).count() === 0, r2.collect().mkString("\n"))
  }

  test("foreachBatch incremental validation appends checkpointed manifest rows") {
    val manifest = tmp("stream_manifest") + "/m"
    val ckpt = tmp("stream_ckpt")
    val stream = spark.readStream.schema(pagesSchema).parquet(stagingDir)
    val q = StreamingValidator.runIncremental(spark, stream, spec,
      manifest, ckpt, snapshotId = 7L)
    q.processAllAvailable()
    q.stop()
    val m = graft.report.Manifest.read(spark, manifest)
    assert(m.count() === PagesGen.NumParts)
    assert(m.where("snapshot_id = 7 and status = 'done'").count() ===
      PagesGen.NumParts)
    assert(m.agg(sum("violations")).collect()(0).getLong(0) > 0)
    assert(m.select("lineage").distinct().collect()
      .map(_.getString(0)).forall(_.startsWith("stream batch=")))
  }

  test("foreachBatch: a batch replayed after a crash before its checkpoint commit appends nothing") {
    val manifest = tmp("stream_replay_manifest") + "/m"
    val ckpt = tmp("stream_replay_ckpt")
    def runToEnd(): Unit = {
      val q = StreamingValidator.runIncremental(spark,
        spark.readStream.schema(pagesSchema).parquet(stagingDir), spec,
        manifest, ckpt, snapshotId = 7L)
      q.processAllAvailable()
      q.stop()
    }
    runToEnd()
    val n = graft.report.Manifest.read(spark, manifest).count()
    assert(n === PagesGen.NumParts)
    // the crash: manifest rows written, commit log entry not — the restarted
    // query replays the batch from its offset log
    new java.io.File(ckpt, "commits").listFiles().foreach(_.delete())
    runToEnd()
    assert(graft.report.Manifest.read(spark, manifest).count() === n)
  }
}
