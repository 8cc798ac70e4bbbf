package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.hep.{FullSubmission, HepDepVal, HepModel, SubFixtures}
import graft.hep.HepModel._

/** Single-YAML-file submission mode, translating the reference's 1512299
  * fixtures (full_submission_validator.py:116-142,252-261;
  * test_full_submission_validator.py:56-74,194-203): one combined stream is
  * logically split into derived per-table data files, validated end-to-end,
  * and failures are attributed to the submission path with a table suffix. */
class SingleYamlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val path = "1512299.yaml"

  def docsDf(names: Seq[String]) = {
    import spark.implicits._
    ((1, null.asInstanceOf[String], Seq.empty[String]) +:
      names.zipWithIndex.map { case (n, i) => (i + 2, n, Seq.empty[String]) })
      .toDF("docIdx", "name", "resources")
  }

  def validRow(file: String) = HepModel.row(file,
    indep = Seq(indepVar("W", Seq(point("1.1", isString = false)))),
    dep = Seq(depVar("DN/DW", Seq(dval("1.32", Seq(sym("0.11", "stat")))))))

  test("valid single-YAML submission: logical split validates green (:56-63)") {
    import spark.implicits._
    val out = FullSubmission.validateSingleYaml(spark,
      Seq(SubFixtures.validRelated.copy(file = path)).toDS().toDF(),
      path, docsDf(Seq("Table 1", "Table 2")),
      Seq(validRow("Table_1.yaml"), validRow("Table_2.yaml")).toDS().toDF())
      .messages
    assert(out.isEmpty, out.collect().mkString("\n"))
  }

  test("table names derive data files: spaces to _ and / to - (:255)") {
    import spark.implicits._
    // a doc named "a/b c" must key its data rows as "a-b_c.yaml"
    val out = FullSubmission.validateSingleYaml(spark,
      Seq(SubFixtures.validRelated.copy(file = path)).toDS().toDF(),
      path, docsDf(Seq("a/b c")),
      Seq(validRow("a-b_c.yaml")).toDS().toDF())
      .messages
    assert(out.isEmpty, out.collect().mkString("\n"))
  }

  test("invalid table: header with table suffix + propagated message (:194-203)") {
    import spark.implicits._
    val invalidPath = "1512299_invalid.yaml"
    // Table 1's dependent_variables[0].values[0] carries the extra key
    // 'errorss' (the reference fixture's deliberate typo)
    val badRow = HepModel.row("Table_1.yaml",
      indep = Seq(indepVar("W", Seq(point("1.1", isString = false)))),
      dep = Seq(depVar("DN/DW", Seq(
        HepDepVal(hasValue = true, valueRaw = "1.320076", hasErrors = false,
          errors = Nil, extraKeys = Seq("errorss"))))))
    val out = FullSubmission.validateSingleYaml(spark,
      Seq(SubFixtures.validRelated.copy(file = invalidPath)).toDS().toDF(),
      invalidPath, docsDf(Seq("Table 1", "Table 2")),
      Seq(badRow, validRow("Table_2.yaml")).toDS().toDF())
      .messages.collect().map(r => (r.getAs[String]("file"), r.getAs[String]("message")))
    assert(out.length === 2)
    // everything attributes to the submission path (ref :327 user_data_file_path)
    assert(out.forall(_._1 == invalidPath))
    assert(out(0)._2 === s"$invalidPath (Table 1) is invalid HEPData YAML.")
    assert(out(1)._2.startsWith(
      "Additional properties are not allowed ('errorss' was unexpected) in 'dependent_variables[0].values[0]' (expected: {'type': 'object', 'properties': {'value': {'type': ['string', 'number']}, 'errors': {'type': 'array', 'items': {'type': 'object', 'prop"))
  }
}
