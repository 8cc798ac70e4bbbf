package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.hep._
import graft.hep.HepModel._
import graft.hep.SubModel._

/** End-to-end composition mirroring the reference's whole-directory flow
  * (test_full_submission_validator.py:24-40, TestHEPSubmission): submission
  * metadata validated by SubmissionRules, every data file by HepDataRules,
  * orchestration joins by FullSubmission — a fully valid 8-table submission
  * produces zero messages and the full valid-files list. */
class EndToEndSubmissionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val tableNames = (1 to 8).map(i => s"Table $i")
  val dataFiles = (1 to 8).map(i => s"data$i.yaml")

  def subFile = SubFile("submission.yaml",
    addInfoDoc() +: (1 to 8).map(i =>
      tableDoc(s"Table $i", s"data$i.yaml",
        keywords = Seq(kw("reactions", Seq(kvs("P P --> Z0 Z0 X"))),
          kw("observables", Seq(kvs("SIG"))),
          kw("cmenergies", Seq(kvn("7000")))))))

  def hepRows = (1 to 8).map(i =>
    HepFixtures.validFile.copy(file = s"data$i.yaml"))

  def docsDf = (1 to 8).map(i =>
    (i, s"Table $i", true, s"data$i.yaml",
      if (i == 1) Seq("analysis.py", "http://example.org/code") else Seq.empty[String]))
    .toDF("docIdx", "name", "hasDataFile", "dataFile", "resources")

  def filesDf = (Seq(("submission.yaml", 2000L), ("analysis.py", 400L)) ++
    dataFiles.map(f => (f, 900L)))
    .map { case (f, s) => (f, s, true, null.asInstanceOf[String]) }
    .toDF("fname", "size", "parseable", "parseError")

  test("a fully valid 8-table submission: zero messages, complete valid-files list") {
    // stage 3: submission.yaml must validate
    assert(SubmissionRules.violations(Seq(subFile).toDS().toDF()).count() === 0)
    // stage 4: all data files must validate
    val dataViolations = HepDataRules.violations(hepRows.toDS().toDF())
    assert(dataViolations.count() === 0)
    // orchestration: existence, sizes, sweep — all clean
    val out = FullSubmission.validate(spark, Seq(subFile).toDS().toDF(),
      "submission.yaml", docsDf, filesDf,
      dataViolations.select(col("file"), col("seq"), col("message"))).messages
    assert(out.count() === 0)
    val valid = FullSubmission.checks(spark, "submission.yaml", docsDf, filesDf,
      dataViolations.select(col("file"), col("seq"), col("message")))
      .validDataFiles.collect().map(_.getString(0)).sorted.toSeq
    assert(valid === dataFiles.sorted)
  }

  test("one broken table flips exactly its file and the overall verdict") {
    val broken = hepRows.updated(4,
      HepFixtures.zeroUncertainty.copy(file = "data5.yaml"))
    val dv = HepDataRules.violations(broken.toDS().toDF())
      .select(col("file"), col("seq"), col("message"))
    val out = FullSubmission.validate(spark, Seq(subFile).toDS().toDF(),
      "submission.yaml", docsDf, filesDf, dv).messages
      .collect().map(r => r.getAs[String]("file") -> r.getAs[String]("message"))
    assert(out.length === 2)
    assert(out(0) === ("data5.yaml" -> "data5.yaml is invalid HEPData YAML."))
    assert(out(1) === ("data5.yaml" ->
      "Uncertainties should not all be zero in 'dependent_variables.values[1].errors'"))
    val valid = FullSubmission.checks(spark, "submission.yaml", docsDf, filesDf, dv)
      .validDataFiles.collect().map(_.getString(0)).sorted.toSeq
    assert(valid === dataFiles.filterNot(_ == "data5.yaml").sorted)
  }
}
