package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{DriftPass, PageValidator}
import graft.report.Manifest
import graft.sketch.KllSketchAgg
import org.apache.datasketches.kll.KllDoublesSketch

class DriftAndManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val N = 16000L

  test("KLL sketch aggregate: quantiles ~ exact, sketches merge") {
    import graft.testdata.PagesGen
    KllSketchAgg.register(spark)
    val df = spark.range(10000).selectExpr("cast(id as double) as v",
      "cast(id % 4 as int) as g")
    val rows = df.groupBy(col("g")).agg(expr("kll_sketch(v)").as("sk")).collect()
    assert(rows.length === 4)
    val merged = KllDoublesSketch.newHeapInstance(200)
    rows.foreach(r => merged.merge(KllSketchAgg.heapify(r.getAs[Array[Byte]]("sk"))))
    assert(merged.getN === 10000L)
    val med = merged.getQuantile(0.5,
      org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE)
    assert(math.abs(med - 5000.0) < 200.0)
  }

  test("drift pass: clean profile has no drifting partition") {
    val reports = DriftPass.detect(spark,
      graft.testdata.PagesGen.pages(spark, N, "clean"), "length(text)")
    assert(reports.size === graft.testdata.PagesGen.NumParts)
    assert(reports.forall(r => !r.ksDrifted), reports.mkString("\n"))
    assert(reports.forall(r => !r.chi2Drifted), reports.mkString("\n"))
  }

  test("drift pass: shifted partitions are detected by KS and chi2") {
    val reports = DriftPass.detect(spark,
      graft.testdata.PagesGen.pages(spark, N, "drift"), "length(text)")
    // upper-half partitions carry +40-word documents (PagesGen drift profile)
    val shifted = reports.filter(_.partId >= graft.testdata.PagesGen.NumParts / 2)
    assert(shifted.forall(_.ksDrifted), reports.mkString("\n"))
    assert(shifted.forall(_.chi2Drifted), reports.mkString("\n"))
    // the shift is enormous relative to the clean profile's statistics
    val cleanMax = DriftPass.detect(spark,
      graft.testdata.PagesGen.pages(spark, N, "clean"), "length(text)")
      .map(_.ksStat).max
    assert(shifted.map(_.ksStat).min > cleanMax * 3)
  }

  test("drift vs fixed baseline: only the shifted partitions flag") {
    val baseline = DriftPass.pooledBaseline(spark,
      graft.testdata.PagesGen.pages(spark, N, "clean"), "length(text)")
    val reports = DriftPass.detectAgainstBaseline(spark,
      graft.testdata.PagesGen.pages(spark, N, "drift"), "length(text)", baseline)
    val (shifted, unshifted) = reports.partition(
      _.partId >= graft.testdata.PagesGen.NumParts / 2)
    assert(shifted.forall(r => r.ksDrifted && r.chi2Drifted), reports.mkString("\n"))
    // unshifted partitions match the clean baseline — they must NOT flag
    assert(unshifted.forall(r => !r.ksDrifted), reports.mkString("\n"))
  }

  test("manifest: incremental run processes only pending partitions, resume is a no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString + "/manifest"
    val pages = graft.testdata.PagesGen.pages(spark, 4000, "dirty")
    def process(df: org.apache.spark.sql.DataFrame) = {
      val res = PageValidator.validate(spark, df,
        graft.testdata.PagesGen.langDim(spark),
        graft.testdata.PagesGen.expectedText(spark, 4000), htmlMaxBytes = 10000)
      res.verdicts
    }
    // snapshot 1: everything pending
    val first = Manifest.runIncremental(spark, dir, pages, 1L, "sf=test run=1")(process)
    assert(first === (0 until graft.testdata.PagesGen.NumParts))
    // resume at same snapshot: nothing to do, process not invoked
    val second = Manifest.runIncremental(spark, dir, pages, 1L,
      "sf=test run=2")(_ => fail("process must not run on resume"))
    assert(second === Seq.empty)
    // snapshot 2 (wider repartitioning): a partition is done only at the
    // snapshot it was validated at, so every one of its 12 ids runs
    val pages2 = graft.testdata.PagesGen.pages(spark, 4000, "dirty", numParts = 12)
    val third = Manifest.runIncremental(spark, dir, pages2, 2L, "sf=test run=3")(process)
    assert(third === (0 until 12))
    // manifest rows carry lineage + metrics
    val m = Manifest.read(spark, dir)
    assert(m.count() === 20)
    assert(m.where("lineage = 'sf=test run=1'").count() === 8)
    val v = m.agg(sum("violations")).collect()(0).getLong(0)
    assert(v > 0)
  }

  // ---- the one resume driver: failure paths ------------------------------

  def tmpManifest(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString + "/manifest"

  /** Row-rule verdicts (part_id, n_violations, pass) — the streaming shape. */
  def rowVerdicts(df: org.apache.spark.sql.DataFrame) = {
    val spec = PageValidator.pageSpec(graft.testdata.PagesGen.Langs,
      htmlMaxBytes = 10000)
    graft.engine.Passes.verdicts(
      graft.compile.ConstraintCompiler.violations(spec, df), "part_id",
      df.select(col("part_id")))
  }

  /** Manifest content without the time and lineage columns, sorted. */
  def content(path: String): Seq[String] =
    Manifest.read(spark, path)
      .select("part_id", "snapshot_id", "status", "docs", "violations")
      .collect().map(_.toString).sorted.toSeq

  test("manifest: recorded runs carry real start and finish times") {
    val dir = tmpManifest("manifest_ts")
    val pages = graft.testdata.PagesGen.pages(spark, 2000, "dirty")
    Manifest.runIncremental(spark, dir, pages, 1L, "ts")(rowVerdicts)
    val rows = Manifest.read(spark, dir).collect()
    assert(rows.length === graft.testdata.PagesGen.NumParts)
    rows.foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("finished_ts")
        .after(r.getAs[java.sql.Timestamp]("started_ts")), r.toString)
    }
  }

  test("manifest: a file: URI resumes — the second run is a no-op") {
    val dir = "file:" + tmpManifest("manifest_uri")
    val pages = graft.testdata.PagesGen.pages(spark, 2000, "dirty")
    val first = Manifest.runIncremental(spark, dir, pages, 1L, "uri")(rowVerdicts)
    assert(first === (0 until graft.testdata.PagesGen.NumParts))
    val n = Manifest.read(spark, dir).count()
    assert(n === graft.testdata.PagesGen.NumParts)
    assert(Manifest.runIncremental(spark, dir, pages, 1L, "uri")(
      _ => fail("process must not run on resume")) === Seq.empty)
    assert(Manifest.read(spark, dir).count() === n)
  }

  test("manifest: a run that throws records nothing; the rerun equals a clean run") {
    val pages = graft.testdata.PagesGen.pages(spark, 4000, "dirty")
    val clean = tmpManifest("manifest_clean")
    Manifest.runIncremental(spark, clean, pages, 1L, "clean")(rowVerdicts)
    val dir = tmpManifest("manifest_crash")
    // the first four partitions finished before the crash
    assert(Manifest.runIncremental(spark, dir, pages.where(col("part_id") < 4),
      1L, "run=1")(rowVerdicts) === (0 until 4))
    val before = content(dir)
    intercept[IllegalStateException] {
      Manifest.runIncremental(spark, dir, pages, 1L, "run=2") { df =>
        rowVerdicts(df).count()
        throw new IllegalStateException("injected failure")
      }
    }
    assert(content(dir) === before)
    assert(Manifest.runIncremental(spark, dir, pages, 1L, "run=3")(rowVerdicts) ===
      (4 until graft.testdata.PagesGen.NumParts))
    assert(content(dir) === content(clean))
  }

  test("manifest: uniqueness never reaches the manifest; a resume sees only its own rows") {
    // one url of partition 0 re-appears in partition 5 (same text, so the
    // only violation is the duplicate)
    val base = graft.testdata.PagesGen.pages(spark, 4000, "clean")
    val pages = base.unionByName(
      base.where(col("part_id") === 0).orderBy("url").limit(1).withColumn("part_id", lit(5)))
    var dupRows = -1L
    def process(df: org.apache.spark.sql.DataFrame) = {
      val res = PageValidator.validate(spark, df,
        graft.testdata.PagesGen.langDim(spark),
        graft.testdata.PagesGen.expectedText(spark, 4000), htmlMaxBytes = 10000)
      dupRows = res.violations.where(col("part_id") === -1).count()
      res.verdicts
    }
    val full = tmpManifest("manifest_dup_full")
    Manifest.runIncremental(spark, full, pages, 1L, "full")(process)
    assert(dupRows === 1L) // the full run reports the duplicate ...
    val fullRows = Manifest.read(spark, full).collect()
    assert(fullRows.length === graft.testdata.PagesGen.NumParts)
    assert(fullRows.forall(_.getAs[Long]("violations") === 0L)) // ... as no partition's
    val resumed = tmpManifest("manifest_dup_resumed")
    Manifest.runIncremental(spark, resumed, pages.where(col("part_id") < 5),
      1L, "run=1")(process)
    assert(Manifest.runIncremental(spark, resumed, pages, 1L, "run=2")(process) ===
      (5 until graft.testdata.PagesGen.NumParts))
    assert(dupRows === 0L) // partition 0's copy is done: not reported
    assert(content(resumed) === content(full))
  }
}
