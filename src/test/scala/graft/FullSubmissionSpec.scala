package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.hep.{FullSubmission, SubFixtures}

/** Orchestration tests mirroring the message kinds and per-file allocation of
  * /root/reference/testsuite/test_full_submission_validator.py:246-284. */
class FullSubmissionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import FullSubmission._

  def fixture() = {
    import spark.implicits._
    val docs = Seq(
      // (docIdx, name, hasDataFile, dataFile, resources)
      (1, "Table 1", true, "data1.yaml", Seq("analysis.py")),
      (2, "Table 2", true, "mydirectory/data2.yaml",
        Seq("../other/figFigure8B.png", "figFigure9A.png")),
      (3, "Table 3", true, "data3.yaml", Seq.empty[String]),
      (4, "Table 4", true, "data8.yaml", Seq.empty[String]),
      (5, "Table 5", true, "data11.yaml", Seq.empty[String]),
      (6, "Table 6", true, "data9.yaml", Seq.empty[String]),
      (7, "Table 7", true, "data4.yaml", Seq("http://github.com/HEPData/hepdata")))
      .toDF("docIdx", "name", "hasDataFile", "dataFile", "resources")
    val files = Seq(
      ("submission.yaml", 2000L, true, null),
      ("data1.yaml", 1000L, true, null),
      ("data4.yaml", 1000L, true, null),
      ("data8.yaml", 1000L, false, "mapping values are not allowed here"),
      ("data9.yaml", 1000L, true, null),
      ("data10.yaml", 1000L, true, null),
      ("data11.yaml", 12180000L, true, null),
      ("analysis.py", 300L, true, null),
      ("figFigure8B.png", 50L, true, null),
      ("._data10.yaml", 10L, true, null),
      ("._data11.yaml", 10L, true, null))
      .toDF("fname", "size", "parseable", "parseError")
    val dataViolations = Seq(
      ("data9.yaml", 0, "Uncertainties should not all be zero in 'dependent_variables.values[1].errors'"))
      .toDF("file", "seq", "message")
    (docs, files, dataViolations)
  }

  lazy val result: Result = {
    val (docs, files, dv) = fixture()
    FullSubmission.checks(spark, "submission.yaml", docs, files, dv)
  }

  def msgsFor(file: String): Seq[(String, String)] =
    result.messages.where(s"file = '$file'")
      .orderBy("k0", "k1", "k2", "k3").collect()
      .map(r => r.getAs[String]("level") -> r.getAs[String]("message")).toSeq

  test("F7/F8/J2: '/'-checks and missing resources allocate to submission.yaml") {
    assert(msgsFor("submission.yaml") === Seq(
      "error" -> "Location of 'additional_resources' file '../other/figFigure8B.png' should not contain '/'.",
      "error" -> "Missing 'additional_resources' file 'figFigure9A.png'.",
      "error" -> "Name of data_file 'mydirectory/data2.yaml' should not contain '/'."))
  }

  test("J1: missing data_file allocates to the data-file path") {
    assert(msgsFor("data3.yaml") === Seq(
      "error" -> "Missing data_file 'data3.yaml'."))
  }

  test("parse failure propagates with the reference's message shape") {
    assert(msgsFor("data8.yaml") === Seq(
      "error" -> "There was a problem parsing the file:\n\t\tmapping values are not allowed here"))
  }

  test("S10: oversized data_file (test_full_submission_validator.py:284)") {
    assert(msgsFor("data11.yaml") === Seq(
      "error" -> "Size of data_file 'data11.yaml' (12180000 bytes) is bigger than the limit of 10485760 bytes. Try adding the file as an additional_resource instead."))
  }

  test("invalid data file gets header + propagated validator messages") {
    assert(msgsFor("data9.yaml") === Seq(
      "error" -> "data9.yaml is invalid HEPData YAML.",
      "error" -> "Uncertainties should not all be zero in 'dependent_variables.values[1].errors'"))
  }

  test("J3: unreferenced files + MacOS ._ hint (:278-283)") {
    assert(msgsFor("figFigure8B.png") === Seq(
      "error" -> "figFigure8B.png is not referenced in the submission."))
    assert(msgsFor("data10.yaml") === Seq(
      "error" -> "data10.yaml is not referenced in the submission."))
    assert(msgsFor("._data10.yaml") === Seq(
      "error" -> "._data10.yaml is not referenced in the submission.",
      "hint" -> "._data10.yaml might be a file created by tar on MacOS. Set COPYFILE_DISABLE=1 before creating the archive."))
    assert(msgsFor("._data11.yaml") === Seq(
      "error" -> "._data11.yaml is not referenced in the submission.",
      "hint" -> "._data11.yaml might be a file created by tar on MacOS. Set COPYFILE_DISABLE=1 before creating the archive."))
  }

  test("valid_files bookkeeping: fully-valid data files only") {
    assert(result.validDataFiles.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("data1.yaml", "data4.yaml"))
  }

  test("remote schema dispatch: not-found / not-allowed / against-schema header (:331-366)") {
    import spark.implicits._
    val docs = Seq(
      (1, "T1", true, "data1.yaml", Seq.empty[String], "https://example.org/good.json"),
      (2, "T2", true, "data9.yaml", Seq.empty[String], "https://example.org/also-good.json"),
      (3, "T3", true, "data4.yaml", Seq.empty[String], "https://example.org/missing.json"),
      (4, "T4", true, "data10.yaml", Seq.empty[String], null))
      .toDF("docIdx", "name", "hasDataFile", "dataFile", "resources", "dataSchema")
    val (_, files, dv) = fixture()
    val known = Set("https://example.org/good.json", "https://example.org/also-good.json")
    // autoload on: unknown-to-loader schema -> "not found"
    val r1 = FullSubmission.checks(spark, "submission.yaml", docs, files, dv,
      resolvableSchemas = known, autoloadRemote = true)
    val m1 = r1.messages.collect().map(_.getAs[String]("message"))
    assert(m1.contains("Remote schema https://example.org/missing.json not found."))
    // data9 is invalid and carries a schema -> "against schema" header
    assert(m1.contains("data9.yaml is invalid against schema https://example.org/also-good.json."))
    assert(m1.contains("data10.yaml is invalid HEPData YAML.") === false) // data10 has no violations
    // autoload off: same doc -> "not allowed"
    val r2 = FullSubmission.checks(spark, "submission.yaml", docs, files, dv,
      knownSchemas = known, autoloadRemote = false)
    assert(r2.messages.collect().map(_.getAs[String]("message"))
      .contains("Autoloading of remote schema https://example.org/missing.json is not allowed."))
    // data4 (the doc with the bad schema) is excluded from valid files
    assert(!r1.validDataFiles.collect().map(_.getString(0)).contains("data4.yaml"))
    assert(r1.validDataFiles.collect().map(_.getString(0)).toSet ===
      Set("data1.yaml", "data10.yaml"))
  }

  test("version gates: v0 skips /resource/ prefix, <1.1.0 skips sweep + size cap") {
    import graft.hep.SchemaVersion
    val (docs0, files, dv) = fixture()
    import spark.implicits._
    val docs = docs0.unionByName(Seq(
      (8, "Table 8", false, null.asInstanceOf[String], Seq("/resource/x.png")))
      .toDF("docIdx", "name", "hasDataFile", "dataFile", "resources"))
    val v0 = FullSubmission.checks(spark, "submission.yaml", docs, files, dv,
      version = SchemaVersion.parse("0.1.0"))
      .messages.collect().map(_.getAs[String]("message"))
    assert(!v0.exists(_.contains("is not referenced"))) // sweep off
    assert(!v0.exists(_.contains("bigger than the limit"))) // size cap off
    assert(!v0.exists(_.contains("/resource/x.png"))) // v0 prefix skipped
    val v1 = FullSubmission.checks(spark, "submission.yaml", docs, files, dv)
      .messages.collect().map(_.getAs[String]("message"))
    assert(v1.exists(_.contains("Missing 'additional_resources' file '/resource/x.png'"))
      || v1.exists(_.contains("Location of 'additional_resources' file '/resource/x.png'")))
  }

  // ---- TestRemoteSubmission end-to-end (ref :77-119) --------------------

  val refData = java.nio.file.Paths.get("/root/reference/testsuite/test_data")
  def refFile(name: String): String =
    new String(java.nio.file.Files.readAllBytes(refData.resolve(name)),
      java.nio.charset.StandardCharsets.UTF_8)

  val pyhfUrl = "https://scikit-hep.org/pyhf/schemas/1.0.0/workspace.json"
  val notRealUrl = "https://hepdata.net/notarealproject/schemas/v0.0.0/thisisnotarealfile.json"
  def registry = Map(pyhfUrl -> refFile("custom_remote_data_schema.json"))

  def remoteFixture(invalid: Boolean) = {
    import spark.implicits._
    val resources = Seq(
      "https://atlas.web.cern.ch/Atlas/GROUPS/PHYSICS/PAPERS/SUSY-2018-31/",
      "Sbottom_MB2018.cxx", "HEPData_workspaces.tar.gz", "SbMB_SLHAs.tar.gz")
    val docs = (if (invalid) Seq(
        (1, null, false, null, resources, null),
        (2, "RegionA/BkgOnly.json", true, "valid_file_custom_remote.json",
          Seq.empty[String], notRealUrl),
        (3, "RegionB/BkgOnly.json", true, "invalid_file_custom_remote.json",
          Seq.empty[String], pyhfUrl))
      else Seq(
        (1, null, false, null, resources, null),
        (2, "RegionA/BkgOnly.json", true, "valid_file_custom_remote.json",
          Seq.empty[String], pyhfUrl)))
      .toDF("docIdx", "name", "hasDataFile", "dataFile", "resources", "dataSchema")
    val dir = if (invalid) "TestRemoteSubmission_invalid" else "TestRemoteSubmission"
    val names = Seq("HEPData_workspaces.tar.gz", "SbMB_SLHAs.tar.gz",
      "Sbottom_MB2018.cxx", "submission.yaml", "valid_file_custom_remote.json") ++
      (if (invalid) Seq("invalid_file_custom_remote.json") else Nil)
    val files = names.map(n => (n, 1000L, true, null.asInstanceOf[String]))
      .toDF("fname", "size", "parseable", "parseError")
    // data-file violations via the compiled custom-schema validator over the
    // actual fixture contents
    val dataDocs = (if (invalid)
        Seq(("valid_file_custom_remote.json", refFile(s"$dir/valid_file_custom_remote.json"), notRealUrl),
          ("invalid_file_custom_remote.json", refFile(s"$dir/invalid_file_custom_remote.json"), pyhfUrl))
      else
        Seq(("valid_file_custom_remote.json", refFile(s"$dir/valid_file_custom_remote.json"), pyhfUrl)))
      .toDF("file", "json", "schemaType")
    (docs, files, dataDocs)
  }

  test("TestRemoteSubmission: loader autoload end-to-end valid (:77-88)") {
    val (docs, files, dataDocs) = remoteFixture(invalid = false)
    val loader = new graft.spec.SchemaLoader(graft.spec.SchemaLoader.mapFetcher(registry))
    loader.loadRemoteSchema(pyhfUrl)
    val dv = graft.compile.CustomSchemas.violations(
      dataDocs, "file", "json", "schemaType", loader.loadedSchemas.toSeq)
    val res = FullSubmission.checksWithLoader(
      spark, "submission.yaml", docs, files, dv, loader)
    assert(res.messages.isEmpty, res.messages.collect().mkString("\n"))
    assert(res.validDataFiles.collect().map(_.getString(0)).toSeq ===
      Seq("valid_file_custom_remote.json"))
  }

  test("TestRemoteSubmission: no-autoload golden, then preload and revalidate (:91-105)") {
    val (docs, files, dataDocs) = remoteFixture(invalid = false)
    val loader = new graft.spec.SchemaLoader(graft.spec.SchemaLoader.mapFetcher(registry))
    val dv0 = graft.compile.CustomSchemas.violations(
      dataDocs, "file", "json", "schemaType", loader.loadedSchemas.toSeq)
    val res = FullSubmission.checksWithLoader(
      spark, "submission.yaml", docs, files, dv0, loader, autoloadRemote = false)
    assert(res.messages.collect().map(r => (r.getAs[String]("file"),
        r.getAs[String]("message"))).toSeq ===
      Seq("submission.yaml" ->
        s"Autoloading of remote schema $pyhfUrl is not allowed."))
    // load remote schema and try again (reference: clear_all + load + validate)
    loader.loadRemoteSchema(pyhfUrl)
    val dv1 = graft.compile.CustomSchemas.violations(
      dataDocs, "file", "json", "schemaType", loader.loadedSchemas.toSeq)
    val res2 = FullSubmission.checksWithLoader(
      spark, "submission.yaml", docs, files, dv1, loader, autoloadRemote = false)
    assert(res2.messages.isEmpty)
  }

  test("TestRemoteSubmission_invalid: not-found + against-schema header + jsonschema details (:352-372)") {
    val (docs, files, dataDocs) = remoteFixture(invalid = true)
    val loader = new graft.spec.SchemaLoader(graft.spec.SchemaLoader.mapFetcher(registry))
    loader.loadRemoteSchema(pyhfUrl)
    val dv = graft.compile.CustomSchemas.violations(
      dataDocs, "file", "json", "schemaType", loader.loadedSchemas.toSeq)
    val res = FullSubmission.checksWithLoader(
      spark, "submission.yaml", docs, files, dv, loader)
    val byFile = res.messages.orderBy("file", "k0", "k1", "k2", "k3").collect()
      .groupBy(_.getAs[String]("file"))
      .view.mapValues(_.map(_.getAs[String]("message")).toSeq).toMap
    assert(byFile.keySet ===
      Set("submission.yaml", "invalid_file_custom_remote.json"))
    assert(byFile("submission.yaml") ===
      Seq(s"Remote schema $notRealUrl not found."))
    val golden = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(getClass.getResource(
          "/golden/pyhf_invalid_messages.txt").toURI)),
      java.nio.charset.StandardCharsets.UTF_8).split("\n\n").toSeq
    assert(byFile("invalid_file_custom_remote.json") ===
      (s"invalid_file_custom_remote.json is invalid against schema $pyhfUrl." +: golden))
    // the doc with the unresolvable schema is excluded from valid files
    assert(res.validDataFiles.collect().isEmpty)
  }

  test("message seq is partition-independent (derived from sort keys, not row ids)") {
    import spark.implicits._
    val (docs, files, dv) = fixture()
    def run(docsIn: org.apache.spark.sql.DataFrame,
        dvIn: org.apache.spark.sql.DataFrame) =
      FullSubmission.validate(spark, Seq(SubFixtures.validRelated).toDS().toDF(),
          "submission.yaml", docsIn, files, dvIn).messages
        .collect().map(r => (r.getAs[String]("file"), r.getAs[Long]("seq"),
          r.getAs[String]("message"))).toSeq
    val base = run(docs, dv)
    assert(base.nonEmpty)
    // seq values are consecutive per file from 0 (not 2^33-strided ids)
    base.groupBy(_._1).foreach { case (f, ms) =>
      assert(ms.map(_._2).sorted === ms.indices.map(_.toLong), f)
    }
    val scrambled = run(docs.repartition(7), dv.repartition(5))
    assert(scrambled === base)
  }

  test("ordered window: a 10MiB-cap-worst-case message file stays one healthy task") {
    // the per-file window sort serializes each file's messages through one
    // task — bounded by the reference's 10 MiB size cap at roughly one
    // message per line ≈ 175k messages (FullSubmission.ordered doc). Push a
    // file at that worst case through the pipeline: it must complete with
    // consecutive seq 0..n-1 in sort-key order (i.e. the window buffer held
    // in one task without spill-failure), alongside normally-sized files.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (docs, files, _) = fixture()
    val n = 175000
    val big = spark.range(n).select(
      lit("data9.yaml").as("file"), col("id").cast("int").as("seq"),
      concat(lit("Uncertainties should not all be zero in "),
        lpad(col("id").cast("string"), 7, "0")).as("message"))
    val out = FullSubmission.validate(spark,
      Seq(SubFixtures.validRelated).toDS().toDF(),
      "submission.yaml", docs, files, big.repartition(8)).messages
    val got = out.where(col("file") === "data9.yaml")
      .select("seq", "message").collect()
    // header + n propagated messages, seq consecutive, messages sorted
    assert(got.length === n + 1)
    val bySeq = got.sortBy(_.getLong(0))
    assert(bySeq.map(_.getLong(0)).toSeq === (0L until (n + 1).toLong))
    assert(bySeq.head.getString(1) === "data9.yaml is invalid HEPData YAML.")
    val msgs = bySeq.tail.map(_.getString(1))
    assert(msgs === msgs.sorted, "messages must be in sort-key order")
  }

  test("short-circuit: invalid submission.yaml returns only its messages (:180-188)") {
    import spark.implicits._
    val (docs, files, dv) = fixture()
    val out = FullSubmission.validate(spark,
      Seq(SubFixtures.invalidDuplicates).toDS().toDF(),
      "submission.yaml", docs, files, dv).messages
      .collect().map(_.getAs[String]("message")).toSeq
    assert(out === Seq(
      "submission.yaml is invalid HEPData YAML.",
      "Duplicate table name: Table 2",
      "Duplicate table data_file: data1.yaml"))
  }
}
