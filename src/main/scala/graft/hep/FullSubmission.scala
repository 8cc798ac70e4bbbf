package graft.hep

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-submission orchestration
  * (ref: hepdata_validator/full_submission_validator.py:70-234) re-expressed
  * as joins over three tables instead of filesystem walks:
  *
  *  - `docs`   — table-metadata docs of submission.yaml (small),
  *  - `files`  — the "directory listing" (name, size, parseable, parseError)
  *               — at scale this is a catalog/partition listing,
  *  - `dataViolations` — output of [[HepDataRules.violations]] keyed by file.
  *
  * The referential checks are the reference's filesystem lookups turned into
  * broadcast anti-joins (SURVEY.md §2.5 J1-J3):
  *  - J1 data_file existence (:304-316)  → docs ⟕̸ files
  *  - J2 resource existence (:271-291)   → resources ⟕̸ files
  *  - J3 unreferenced sweep (:200-228)   → files ⟕̸ included, with the
  *    MacOS `._` companion hint via a self-join on the stripped name.
  * F7 '/'-in-name checks (:279-301), F8 http-prefix skip (:273-279), and the
  * S10 size cap (:318-325) are row-level predicates on the doc table.
  */
object FullSubmission {

  val SizeLimit = 10485760L // ref: full_submission_validator.py:18

  final case class Result(
      messages: DataFrame, // (file, k0..k3, level, message) — sort by keys
      validDataFiles: DataFrame) // (file, docIdx) data files that fully validated

  private def msg(file: Column, k0: Column, k1: Int, k2: Column, k3: Column,
      level: String, m: Column): Column =
    struct(file.as("file"), k0.cast("int").as("k0"), lit(k1).as("k1"),
      k2.cast("int").as("k2"), k3.cast("int").as("k3"),
      lit(level).as("level"), m.as("message"))

  /** All orchestration messages, assuming the submission file itself already
    * passed [[SubmissionRules]] (the reference short-circuits otherwise,
    * :180-188 — see [[validate]]).
    *
    * `docs` may carry a `dataSchema` column (remote-schema URL analogue,
    * ref :331-347): a doc whose dataSchema is not in `knownSchemas` gets
    * "Autoloading of remote schema <url> is not allowed." when autoload is
    * off, or "Remote schema <url> not found." when the loader can't resolve
    * it (`resolvableSchemas`). Spec loading itself is driver-side
    * (SpecJson), mirroring the reference's downloader/cache. */
  def checks(
      spark: SparkSession,
      submissionPath: String,
      docs: DataFrame, // (docIdx, name, hasDataFile, dataFile, resources[, dataSchema])
      files: DataFrame, // (fname, size, parseable, parseError)
      dataViolations: DataFrame, // (file, seq, message)
      sizeLimit: Long = SizeLimit,
      knownSchemas: Set[String] = Set.empty,
      resolvableSchemas: Set[String] = Set.empty,
      autoloadRemote: Boolean = true,
      version: SchemaVersion = SchemaVersion.Default,
      singleYaml: Boolean = false): Result = {

    val subPath = lit(submissionPath)
    val fileNames = files.select(col("fname"))

    // ---- F8/F7/J2: additional_resources checks (per resource) ----------
    // v0 also skips '/resource/'-prefixed locations (ref :273-279)
    val unchecked =
      if (version.major == 0)
        col("loc").startsWith("http") || col("loc").startsWith("/resource/")
      else col("loc").startsWith("http")
    val resources = docs
      .select(col("docIdx"), posexplode(col("resources")).as(Seq("resIdx", "loc")))
      .where(!unchecked)
    val resSlash = resources.where(col("loc").contains("/"))
      .select(msg(subPath, col("docIdx"), 0, col("resIdx"), lit(0), "error",
        concat(lit("Location of 'additional_resources' file '"), col("loc"),
          lit("' should not contain '/'."))).as("m"))
    val resMissing = resources.where(!col("loc").contains("/"))
      .join(broadcast(fileNames), resources("loc") === fileNames("fname"), "left_anti")
      .select(msg(subPath, col("docIdx"), 0, col("resIdx"), lit(1), "error",
        concat(lit("Missing 'additional_resources' file '"), col("loc"),
          lit("'."))).as("m"))

    // ---- F7/J1/S10: data_file checks ------------------------------------
    val dataDocs = docs.where(col("hasDataFile"))
    val dfSlash = dataDocs.where(col("dataFile").contains("/"))
      .select(msg(subPath, col("docIdx"), 1, lit(0), lit(0), "error",
        concat(lit("Name of data_file '"), col("dataFile"),
          lit("' should not contain '/'."))).as("m"))
    val cleanDocs = dataDocs.where(!col("dataFile").contains("/"))
    val dfMissing = cleanDocs
      .join(broadcast(fileNames), cleanDocs("dataFile") === fileNames("fname"), "left_anti")
      .select(msg(col("dataFile"), col("docIdx"), 1, lit(1), lit(0), "error",
        concat(lit("Missing data_file '"), col("dataFile"), lit("'."))).as("m"))
    val present = cleanDocs.join(broadcast(files),
      cleanDocs("dataFile") === files("fname"))
    // size cap only ≥ 1.1.0 (ref :318-325)
    val sizeGate = if (version >= SchemaVersion.V110) lit(true) else lit(false)
    val dfTooBig = present.where(sizeGate && col("size") > sizeLimit)
      .select(msg(col("dataFile"), col("docIdx"), 1, lit(2), lit(0), "error",
        concat(lit("Size of data_file '"), col("dataFile"), lit("' ("),
          col("size"), lit(s" bytes) is bigger than the limit of $sizeLimit bytes. Try adding the file as an additional_resource instead."))).as("m"))

    // remote-schema dispatch (ref :331-347): checked after the size gate,
    // before the parse; failure skips the doc's remaining checks
    val withSchema = (if (present.columns.contains("dataSchema")) present
      else present.withColumn("dataSchema", lit(null).cast("string")))
      .where(!sizeGate || col("size") <= sizeLimit)
    val schemaOkSet = if (autoloadRemote) resolvableSchemas else knownSchemas
    val schemaOk = if (schemaOkSet.isEmpty) lit(false)
      else col("dataSchema").isin(schemaOkSet.toSeq.map(x => x: Any): _*)
    val schemaBad = withSchema.where(col("dataSchema").isNotNull && !schemaOk)
    val schemaMsgs = schemaBad
      .select(msg(subPath, col("docIdx"), 1, lit(3), lit(0), "error",
        if (autoloadRemote)
          concat(lit("Remote schema "), col("dataSchema"), lit(" not found."))
        else
          concat(lit("Autoloading of remote schema "), col("dataSchema"),
            lit(" is not allowed."))).as("m"))
    val dfUnparseable = withSchema
      .join(schemaBad.select(col("docIdx")), Seq("docIdx"), "left_anti")
      .where(!col("parseable"))
      .select(msg(col("dataFile"), col("docIdx"), 1, lit(4), lit(0), "error",
        concat(lit("There was a problem parsing the file:\n\t\t"),
          col("parseError"))).as("m"))

    // data-file validation verdict + message propagation
    val checkable = withSchema
      .join(schemaBad.select(col("docIdx")), Seq("docIdx"), "left_anti")
      .where(col("parseable"))
      .select(col("docIdx"), col("name"), col("dataFile"), col("dataSchema"))
    // No per-file message collection: the reference buffers each file's
    // violations in a list, but collect_list would buffer a data-dependent
    // group (a pathological file can carry millions of violations) before
    // any filter runs — the exact shape this repo bans. The header needs
    // only EXISTENCE of violations (distinct file names, broadcastable by
    // construction) and the per-violation messages propagate through a
    // plain join where the big violation side streams.
    val vFiles = dataViolations.select(col("file")).distinct()
    val invalid = checkable.join(broadcast(vFiles),
      checkable("dataFile") === vFiles("file"), "left_semi")
    // header says "against schema <url>" for remote-schema docs (ref :366)
    val invalidWhat = when(col("dataSchema").isNotNull,
      concat(lit("against schema "), col("dataSchema")))
      .otherwise(lit("HEPData YAML"))
    // single-YAML mode attributes data failures to the submission path and
    // appends the table name: "<path> (<name>) is invalid ..." (ref :327,365)
    val userPath = if (singleYaml) subPath else col("dataFile")
    val tableMsg = if (singleYaml)
      concat(lit(" ("), col("name"), lit(")")) else lit("")
    val dfInvalidHdr = invalid
      .select(msg(userPath, col("docIdx"), 1, lit(5), lit(-1), "error",
        concat(userPath, tableMsg, lit(" is invalid "), invalidWhat, lit("."))).as("m"))
    val dfInvalidMsgs = dataViolations
      .join(broadcast(checkable), dataViolations("file") === checkable("dataFile"))
      .select(msg(userPath, col("docIdx"), 1, lit(5), col("seq"),
        "error", col("message")).as("m"))

    // ---- J3: unreferenced-file sweep + MacOS `._` hint -------------------
    // included_files mirrors the reference exactly: submission.yaml, every
    // non-http resource location (even '/'-containing ones — appended before
    // the '/' check, :281), and every data_file WITHOUT '/' (:296-310)
    val included = resources.select(col("loc").as("fname"))
      .union(cleanDocs.select(col("dataFile").as("fname")))
      .union(spark.createDataFrame(Seq(Tuple1(submissionPath))).toDF("fname"))
      .distinct()
    // unreferenced sweep only ≥ 1.1.0 and never in single-YAML mode
    // (ref :201 `not self.single_yaml_file and schema_version >= 1.1.0`)
    val unref0 = fileNames.join(broadcast(included), Seq("fname"), "left_anti")
    val unref = if (version >= SchemaVersion.V110 && !singleYaml) unref0
      else unref0.where(lit(false))
    val unrefMsgs = unref
      .select(msg(col("fname"), lit(999999), 2, lit(0), lit(0), "error",
        concat(col("fname"), lit(" is not referenced in the submission."))).as("m"))
    val companions = unref.where(col("fname").startsWith("._"))
      .join(broadcast(fileNames.select(col("fname").as("base"))),
        expr("substring(fname, 3) = base"), "left_semi")
    val hintMsgs = companions
      .select(msg(col("fname"), lit(999999), 2, lit(0), lit(1), "hint",
        concat(col("fname"),
          lit(" might be a file created by tar on MacOS. Set COPYFILE_DISABLE=1 before creating the archive."))).as("m"))

    val allMsgs = Seq(resSlash, resMissing, dfSlash, dfMissing, dfTooBig,
      schemaMsgs, dfUnparseable, dfInvalidHdr, dfInvalidMsgs, unrefMsgs, hintMsgs)
      .reduce(_ unionByName _)
      .select(col("m.file"), col("m.k0"), col("m.k1"), col("m.k2"),
        col("m.k3"), col("m.level"), col("m.message"))

    // valid data files: referenced, no '/', exist, within size, parse, and
    // zero data-validator violations (ref: valid_files DATA bookkeeping)
    val validData = checkable.join(broadcast(vFiles),
        checkable("dataFile") === vFiles("file"), "left_anti")
      .select(col("dataFile").as("file"), col("docIdx"))

    Result(allMsgs, validData)
  }

  /** [[checks]] with the schema sets COMPUTED from the docs table through a
    * [[graft.spec.SchemaLoader]] instead of passed in — the engine-side
    * translation of `_check_doc`'s remote-schema branch
    * (full_submission_validator.py:331-347) backed by `load_remote_schema`
    * (:395-421). Distinct schema URLs are config-cardinality (a handful per
    * submission), so collecting them driver-side mirrors the reference's
    * driver-side downloader cache, not a data-plane collect. */
  def checksWithLoader(
      spark: SparkSession,
      submissionPath: String,
      docs: DataFrame,
      files: DataFrame,
      dataViolations: DataFrame,
      loader: graft.spec.SchemaLoader,
      autoloadRemote: Boolean = true,
      sizeLimit: Long = SizeLimit,
      version: SchemaVersion = SchemaVersion.Default): Result = {
    val urls: Seq[String] =
      if (docs.columns.contains("dataSchema"))
        docs.select(col("dataSchema")).where(col("dataSchema").isNotNull)
          .distinct().collect().map(_.getString(0)).toSeq
      else Nil
    // pre-loaded schemas count as known even with autoload off (the
    // reference's custom_data_schemas membership test, :337)
    val known = urls.filter(loader.isLoaded).toSet
    val resolvable =
      if (autoloadRemote) urls.filter(loader.resolvable).toSet else known
    checks(spark, submissionPath, docs, files, dataViolations, sizeLimit,
      known, resolvable, autoloadRemote, version)
  }

  /** Single-YAML-file submission mode (ref: full_submission_validator.py:
    * 116-142, 174-176, 252-261): one combined stream carries the submission
    * header plus table docs with their data INLINE. The reference physically
    * writes each table's data to `<name with ' '→'_', '/'→'-'>.yaml` and
    * validates as usual; here the split is logical — the derived file name
    * keys the data rows, the "directory" is exactly the derived file set,
    * and [[validate]] runs with `singleYaml = true`.
    *
    * `docs`: (docIdx, name, resources) — name null for the header doc.
    * `dataRows`: HepRow-shaped, `file` = the derived data-file name. */
  def validateSingleYaml(
      spark: SparkSession,
      sub: DataFrame,
      submissionPath: String,
      docs: DataFrame,
      dataRows: DataFrame): Report = {
    val derived = concat(
      regexp_replace(regexp_replace(col("name"), " ", "_"), "/", "-"),
      lit(".yaml"))
    val docs2 = docs
      .withColumn("hasDataFile", col("name").isNotNull)
      .withColumn("dataFile", when(col("name").isNotNull, derived))
    val files = docs2.where(col("hasDataFile"))
      .select(col("dataFile").as("fname"), lit(1000L).as("size"),
        lit(true).as("parseable"), lit(null).cast("string").as("parseError"))
    val dataViolations = HepDataRules.violations(dataRows)
      .select(col("file"), col("seq"), col("message"))
    validate(spark, sub, submissionPath, docs2, files, dataViolations,
      singleYaml = true)
  }

  /** (file, seq, message, level) in emission order. `seq` is DERIVED from
    * the sort keys (per-file row_number), never from physical row ids:
    * monotonically_increasing_id after a sort is only monotone while the
    * planner keeps range partitioning, and its values jump by 2^33 across
    * partitions — a repartition-invariance test pins this.
    *
    * Single-task bound: the window sorts each FILE's messages inside one
    * task — intentional, because the reference buffers the same per-file
    * list in RAM and the 10 MiB file cap (SizeLimit) bounds how many
    * messages one file can emit. Worst case ≈ one message per YAML line ≈
    * 10 MiB of ~60-byte lines ≈ 175k messages ≈ tens of MB of window
    * buffer — comfortably one task (FullSubmissionSpec pins a
    * many-thousand-message file through this path). Revisit only if the
    * size cap is ever lifted. */
  private[graft] def ordered(messages: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("file"))
      .orderBy(col("k0"), col("k1"), col("k2"), col("k3"), col("message"))
    messages
      .select(col("file"), (row_number().over(w) - 1).cast("long").as("seq"),
        col("message"), col("level"))
      .orderBy("file", "seq")
  }

  /** What `hepdata-validate` reports for one submission (ref cli.py:12-30). */
  final case class Report(
      messages: DataFrame, // (file, seq, message, level)
      validDataFiles: Seq[String], // bare names, submission-doc order
      subValid: Boolean, // print_valid_files' SUBMISSION/SINGLE_YAML entry
      fileOrder: Seq[String]) // reference messages-dict insertion order

  /** The report of a submission that stops at `file`: only its error
    * `message` prints. */
  def failed(spark: SparkSession, file: String, message: String): Report =
    rejected(file, errorRow(spark, file, 0L, message))

  private def rejected(file: String, messages: DataFrame): Report =
    Report(messages, Nil, subValid = false, Seq(file))

  private def errorRow(spark: SparkSession, file: String, seq: Long,
      message: String): DataFrame =
    spark.createDataFrame(Seq((file, seq, message, "error")))
      .toDF("file", "seq", "message", "level")

  /** One submission from its ingested tables — the single driver behind
    * directories, single files and in-memory tables. If `sub` (the
    * single-row SubFile table) fails [[SubmissionRules]], only its own
    * messages are reported under one header line (the reference's
    * short-circuit, :180-188). Otherwise [[checks]] runs over
    * `docs`, `files` and `dataViolations`, messages come out [[ordered]],
    * and print_valid_files' bookkeeping is worked out once.
    *
    * The keyed messages are materialised by an eager local checkpoint: the
    * report stays valid after the inputs are gone, nothing enters the
    * session's cache, and the blocks are freed once the report is dropped. */
  def validate(
      spark: SparkSession,
      sub: DataFrame,
      submissionPath: String,
      docs: DataFrame,
      files: DataFrame,
      dataViolations: DataFrame,
      singleYaml: Boolean = false): Report = {
    val subMsgs = SubmissionRules.violations(sub)
    // driver-side branch on a tiny aggregate — same shape as the reference's
    // short-circuit; the expensive distributed work only runs when needed
    if (!subMsgs.isEmpty)
      return rejected(submissionPath,
        errorRow(spark, submissionPath, -1L,
          s"$submissionPath is invalid HEPData YAML.")
          .unionByName(subMsgs.select(lit(submissionPath).as("file"),
            col("seq").cast("long").as("seq"), col("message"), col("level")))
          .orderBy("seq"))

    val res = checks(spark, submissionPath, docs, files, dataViolations,
      singleYaml = singleYaml)
    val keyed = res.messages.localCheckpoint()
    // print_valid_files lists the submission unless a message flips
    // is_valid_submission_doc. In directory mode that is a resource check,
    // a data_file '/' check or a failed schema dispatch — missing/oversized
    // data files, parse errors and invalid data all `return` WITHOUT
    // flipping it (ref: _check_doc, :271-347). In single-YAML mode every
    // message is attributed to the one file and invalidates it.
    val invalidating =
      if (singleYaml) lit(1)
      else when(col("k1") === 0 ||
          (col("k1") === 1 && (col("k2") === 0 || col("k2") === 3)), 1)
        .otherwise(0)
    val firsts = keyed.groupBy(col("file"))
      .agg(min(struct(col("k0"), col("k1"), col("k2"), col("k3"))).as("fk"),
        sum(invalidating).as("invalidating"))
      .collect()
    val subValid = firsts.forall(_.getAs[Long]("invalidating") == 0)
    val messages = ordered(keyed)
    if (singleYaml) Report(messages, Nil, subValid, Seq(submissionPath))
    else {
      val fileOrder = firsts
        .map(r => (r.getString(0), r.getStruct(1)))
        .sortBy { case (f, k) =>
          (k.getInt(0), k.getInt(1), k.getInt(2), k.getInt(3), f) }
        .map(_._1).toSeq
      // submission-doc order, like the reference's valid_files bookkeeping
      val valid = res.validDataFiles.collect()
        .sortBy(_.getAs[Int]("docIdx")).map(_.getString(0)).toSeq
      Report(messages, valid, subValid, fileOrder)
    }
  }
}
