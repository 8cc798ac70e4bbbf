package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{DriftPass, PageValidator}
import graft.report.Manifest
import graft.spec.SpecJson
import graft.testdata.PagesGen

/** CLI entry point — the analogue of the reference's `hepdata-validate`
  * (hepdata_validator/cli.py): validate a page table, print verdicts in the
  * reference's transcript shape ("X is valid." / "ERROR: X is invalid.",
  * then per-file "\t error - <message>" lines), exit 1 when invalid; see
  * [[Usage]] for the flags, exit 2 on any other argument.
  *
  * `--dir`/`--file` run the RAW-YAML path (cli.py:12-30 byte-for-byte:
  * header, print_valid_files in SchemaType order, per-file message blocks,
  * exit 1 when invalid), with one documented delta: unreferenced-file
  * blocks print in name order, where the reference follows os.listdir's
  * filesystem-specific order. */
object Cli {

  val Usage: String =
    """usage: graft.Cli --pages <parquet> [--expected <parquet>] [--spec <spec.json>]
      |                 [--manifest <path> --snapshot <id>] [--drift <sqlExpr>]
      |                 [--max-violations <n>] [--synthetic <n>:<profile>]
      |       graft.Cli --dir <submission dir> | --file <single .yaml[.gz]>""".stripMargin

  private val Flags = Set("pages", "expected", "spec", "manifest", "snapshot",
    "drift", "max-violations", "synthetic", "dir", "file")

  /** `--flag value` pairs by flag name; None when a flag is unknown or
    * has no value. */
  private def parseArgs(args: Array[String]): Option[Map[String, String]] = {
    val pairs = args.grouped(2).toSeq
    if (pairs.forall(p => p.length == 2 && p(0).startsWith("--") &&
        Flags(p(0).drop(2))))
      Some(pairs.map(p => p(0).drop(2) -> p(1)).toMap)
    else None
  }

  /** hepdata-validate transcript for a raw directory or single file.
    * Returns (lines, exitCode). */
  def rawTranscript(spark: SparkSession, mode: String, target: String): (Seq[String], Int) = {
    val res = mode match {
      case "dir" => graft.ingest.RawSubmission.validateDir(spark, target)
      case _ => graft.ingest.RawSubmission.validateFile(spark, target)
    }
    val collected = res.messages.orderBy("file", "seq").collect()
      .map(r => (r.getAs[String]("file"),
        (r.getAs[String]("level"), r.getAs[String]("message"))))
    val byFile = collected.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val valid = collected.isEmpty
    val out = Seq.newBuilder[String]
    out += (if (valid) s"$target is valid." else s"ERROR: $target is invalid.")
    // print_valid_files (ref :47-55), SchemaType declaration order
    if (mode == "dir") {
      if (res.subValid)
        out += s"\t $target/submission.yaml is valid HEPData submission YAML."
      res.validDataFiles.foreach(f =>
        out += s"\t $target/$f is valid HEPData data YAML.")
    } else if (res.subValid) {
      out += s"\t ${res.fileOrder.head} is valid HEPData single file YAML."
    }
    res.fileOrder.foreach { f =>
      byFile.getOrElse(f, Array.empty[(String, String)]).foreach {
        case (lvl, m) => out += s"\t $lvl - $m"
      }
    }
    (out.result(), if (valid) 0 else 1)
  }
  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }

  /** Testable entry: returns the exit code instead of calling sys.exit. */
  def run(args: Array[String]): Int = {
    val opts = parseArgs(args) match {
      case Some(o) => o
      case None =>
        Console.err.println(Usage)
        return 2
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // don't tear down a session we didn't create (in-process callers/tests,
    // on any thread: the active session is thread-local, the default is not)
    val ownSession = SparkSession.getActiveSession.isEmpty &&
      SparkSession.getDefaultSession.isEmpty
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-validate")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // raw-YAML submission modes short-circuit the page-table pipeline
    (opts.get("dir").map("dir" -> _) orElse opts.get("file").map("file" -> _))
      .foreach { case (mode, tgt) =>
        val (lines, code) = rawTranscript(spark, mode, tgt)
        lines.foreach(println)
        if (ownSession) spark.stop()
        return code
      }

    val target = opts.getOrElse("pages", opts.getOrElse("synthetic", "20000:dirty"))
    val pages = opts.get("pages") match {
      case Some(p) => spark.read.parquet(p)
      case None =>
        val Array(n, profile) = target.split(":")
        PagesGen.pages(spark, n.toLong, profile)
    }
    val expected = opts.get("expected") match {
      case Some(p) => spark.read.parquet(p)
      case None => PagesGen.expectedText(spark,
        opts.get("pages").fold(target.split(":")(0).toLong)(_ => 0L))
    }

    val name = opts.getOrElse("pages", s"synthetic:$target")
    // violations of the rows validated in THIS run (none on a no-op resume)
    var validated: Option[DataFrame] = None
    def verdictsOf(df: DataFrame): DataFrame = {
      val (violations, verdicts) = opts.get("spec") match {
        case Some(path) =>
          val spec = SpecJson.load(path)
          val violations = graft.compile.ConstraintCompiler.violations(spec, df)
          (violations, graft.engine.Passes.verdicts(violations,
            spec.partitionColumn, df.select(col(spec.partitionColumn))))
        case None =>
          val r = PageValidator.validate(spark, df,
            PagesGen.langDim(spark), expected)
          (r.violations, r.verdicts)
      }
      validated = Some(violations.persist())
      verdicts
    }
    // (part_id, n_violations); with --manifest, read back from the manifest's
    // done rows at the snapshot, so a rerun or resume prints the same verdicts
    val verdicts = opts.get("manifest") match {
      case Some(mPath) =>
        val snap = opts.getOrElse("snapshot", "1").toLong
        Manifest.runIncremental(spark, mPath, pages, snap,
          s"cli run target=$name")(verdictsOf)
        Manifest.read(spark, mPath)
          .where(col("status") === "done" && col("snapshot_id") === snap)
          .select(col("part_id"), col("violations"))
      case None =>
        verdictsOf(pages).select(col("part_id").cast("int"), col("n_violations"))
    }
    val verdictRows = verdicts.orderBy("part_id").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val allValid = verdictRows.forall(_._2 == 0L)
    if (allValid) println(s"$name is valid.")
    else println(s"ERROR: $name is invalid.")
    verdictRows.foreach { case (p, n) =>
      val status = if (n == 0L) "valid" else s"invalid ($n violations)"
      println(s"\t partition $p is $status")
    }
    val maxShow = opts.getOrElse("max-violations", "20").toInt
    validated.foreach(_.orderBy("part_id", "rule_seq").limit(maxShow).collect()
      .foreach { r =>
        println(s"\t ${r.getAs[String]("level")} - ${r.getAs[String]("message")}")
      })
    opts.get("manifest").foreach { mPath =>
      println(s"\t manifest: ${Manifest.read(spark, mPath).count()} rows at $mPath")
    }

    opts.get("drift").foreach { valueExpr =>
      DriftPass.detect(spark, pages, valueExpr).foreach { r =>
        val flag = if (r.ksDrifted || r.chi2Drifted) "DRIFT" else "ok"
        println(f"\t drift partition ${r.partId}: ks=${r.ksStat}%.4f " +
          f"chi2=${r.chi2Stat}%.1f -> $flag")
      }
    }

    validated.foreach(_.unpersist())
    if (ownSession) spark.stop()
    if (allValid) 0 else 1
  }
}
