package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.report.{Manifest, SnapshotCatalog}
import graft.testdata.PagesGen

class CatalogAndCliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString

  test("snapshot catalog: append/list/prune/incremental resume") {
    val root = tmp("catalog") + "/pages"
    val manifest = tmp("catalog_m") + "/manifest"
    val cat = new SnapshotCatalog(spark, root)
    cat.append(PagesGen.pages(spark, 2000, "dirty"), 1L)
    cat.append(PagesGen.pages(spark, 1000, "clean"), 2L)
    assert(cat.snapshots() === Seq(1L, 2L))
    assert(cat.readSnapshot(2L).count() === 1000L)
    assert(cat.readUpTo(2L).count() === 3000L)
    // snapshot pruning reaches the scan (partition filter on `snapshot`)
    val scan = cat.readSnapshot(2L).queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(scan.contains("snapshot"), scan)

    def process(df: org.apache.spark.sql.DataFrame) =
      graft.engine.PageValidator.validate(spark, df.drop("snapshot"),
        PagesGen.langDim(spark), PagesGen.expectedText(spark, 2000),
        htmlMaxBytes = 10000).verdicts
    val first = cat.runIncremental(manifest, "test")(process)
    assert(first === Seq(1L, 2L))
    // resume: nothing to do
    assert(cat.runIncremental(manifest, "test")(
      _ => fail("must not reprocess")) === Seq.empty)
    // a third snapshot arrives; only it is processed
    cat.append(PagesGen.pages(spark, 500, "clean"), 3L)
    assert(cat.runIncremental(manifest, "test")(process) === Seq(3L))
    assert(Manifest.read(spark, manifest)
      .select("snapshot_id").distinct().count() === 3L)
  }

  test("CLI transcript: valid run prints the reference-shaped verdict lines") {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out)) {
      Cli.run(Array("--synthetic", "3000:clean"))
    }
    assert(code === 0)
    val lines = out.toString("UTF-8").split("\n").toSeq
    assert(lines.head === "synthetic:3000:clean is valid.")
    assert(lines.count(_.matches("\t partition \\d+ is valid")) ===
      PagesGen.NumParts)
  }

  test("CLI transcript: spec-file run reports violations") {
    val specPath = tmp("cli_spec") + "/spec.json"
    val spec = graft.spec.TableSpec("pages", "part_id", Seq("url"), Seq(
      graft.spec.NotNull("url"), graft.spec.MatchesRegex("url", "^https?://")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specPath),
      graft.spec.SpecJson.toJson(spec))
    val pagesPath = tmp("cli_pages") + "/pages"
    PagesGen.pages(spark, 3000, "dirty").write.parquet(pagesPath)
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out)) {
      Cli.run(Array("--pages", pagesPath, "--spec", specPath))
    }
    assert(code === 1)
    val text = out.toString("UTF-8")
    assert(text.contains(s"ERROR: $pagesPath is invalid."))
    assert(text.contains("None is not of type 'string' in 'url'"))
  }

  test("CLI rejects unknown or misaligned flags with usage and exit 2") {
    Seq(Array("--page", "/data"), Array("--pages"), Array("pages", "/data"),
        Array("--dir", "/data", "--bogus", "x")).foreach { args =>
      val out = new java.io.ByteArrayOutputStream()
      val err = new java.io.ByteArrayOutputStream()
      val code = Console.withOut(new java.io.PrintStream(out)) {
        Console.withErr(new java.io.PrintStream(err)) { Cli.run(args) }
      }
      assert(code === 2, args.mkString(" "))
      assert(out.size === 0, args.mkString(" "))
      assert(err.toString("UTF-8").trim === Cli.Usage)
    }
  }

  /** Manifest content without the time and lineage columns, sorted. */
  def content(path: String): Seq[String] =
    Manifest.read(spark, path)
      .select("part_id", "snapshot_id", "status", "docs", "violations")
      .collect().map(_.toString).sorted.toSeq

  test("snapshot catalog: a crash on snapshot 2 keeps snapshot 1; the rerun runs only 2") {
    val root = tmp("catalog_crash") + "/pages"
    val cat = new SnapshotCatalog(spark, root)
    cat.append(PagesGen.pages(spark, 2000, "dirty"), 1L)
    cat.append(PagesGen.pages(spark, 1000, "dirty"), 2L)
    def process(df: org.apache.spark.sql.DataFrame) =
      graft.engine.PageValidator.validate(spark, df.drop("snapshot"),
        PagesGen.langDim(spark), PagesGen.expectedText(spark, 2000),
        htmlMaxBytes = 10000).verdicts
    val clean = tmp("catalog_crash_clean") + "/manifest"
    assert(cat.runIncremental(clean, "clean")(process) === Seq(1L, 2L))

    val manifest = tmp("catalog_crash_m") + "/manifest"
    var calls = 0
    intercept[IllegalStateException] {
      cat.runIncremental(manifest, "run=1") { df =>
        calls += 1
        if (calls == 2) throw new IllegalStateException("injected failure")
        process(df)
      }
    }
    assert(Manifest.read(spark, manifest).select("snapshot_id").distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(cat.runIncremental(manifest, "run=2")(process) === Seq(2L))
    assert(content(manifest) === content(clean))
  }

  test("CLI --manifest: a rerun and a resume print the same verdicts and exit code") {
    val pagesPath = tmp("cli_resume_pages") + "/pages"
    PagesGen.pages(spark, 3000, "dirty").write.parquet(pagesPath)
    def cli(manifest: String): (Int, Seq[String]) = {
      val out = new java.io.ByteArrayOutputStream()
      val code = Console.withOut(new java.io.PrintStream(out)) {
        Cli.run(Array("--pages", pagesPath, "--manifest", manifest,
          "--snapshot", "3"))
      }
      (code, out.toString("UTF-8").split("\n").toSeq)
    }
    def verdictLines(lines: Seq[String]) =
      lines.filterNot(_.startsWith("\t error - "))
    val manifest = tmp("cli_resume_m") + "/manifest"
    val (code1, first) = cli(manifest)
    assert(code1 === 1)
    assert(first.head === s"ERROR: $pagesPath is invalid.")
    assert(first.count(_.startsWith("\t partition ")) === PagesGen.NumParts)
    assert(first.exists(_.startsWith("\t error - ")))
    // rerun: nothing pending, same verdict transcript, no violation detail
    val (code2, second) = cli(manifest)
    assert(code2 === code1)
    assert(second === verdictLines(first))
    // resume: half the partitions were recorded before an interruption
    val resumed = tmp("cli_resume_r") + "/manifest"
    Manifest.runIncremental(spark, resumed,
      spark.read.parquet(pagesPath).where(col("part_id") < 4), 3L, "run=1") { df =>
      graft.engine.PageValidator.validate(spark, df, PagesGen.langDim(spark),
        PagesGen.expectedText(spark, 0)).verdicts
    }
    val (code3, third) = cli(resumed)
    assert(code3 === code1)
    assert(verdictLines(third) === verdictLines(first).map(_.replace(manifest, resumed)))
  }

  test("CLI run on another thread leaves the caller's session running") {
    assert(!spark.sparkContext.isStopped)
    var code = -1
    val t = new Thread(() => {
      // a thread with no active session, like a pool thread started
      // before the caller's session existed
      org.apache.spark.sql.SparkSession.clearActiveSession()
      code = Console.withOut(new java.io.PrintStream(
        new java.io.ByteArrayOutputStream())) {
        Cli.run(Array("--synthetic", "3000:clean"))
      }
    })
    t.start(); t.join()
    assert(code === 0)
    assert(!spark.sparkContext.isStopped)
  }
}
