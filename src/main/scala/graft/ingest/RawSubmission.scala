package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.hep._

/** One directory entry after the executor-side read+parse pass.
  * `hepRow` is present for data-shaped documents (root mapping without a
  * custom-schema 'type', or an empty doc); `rootViolation` carries the
  * reference's message for non-mapping roots / unregistered custom types
  * (probed live: "[1, 2] is not of type 'object'", "There is no schema
  * defined for the 'X' data type." — int-like roots CRASH the reference
  * with a TypeError; here they get the type message, fail-closed) and for
  * a shape outside the row model ("Unrepresentable YAML shape: ..."; such
  * a file carries no data rows). */
final case class ParsedFile(
    fname: String, size: Long,
    parseable: Boolean, parseError: Option[String],
    hepRow: Option[HepRow], rootViolation: Option[String] = None)

/** Raw-directory ingestion: actual YAML bytes → the engine's row model,
  * then the existing FullSubmission orchestration — the production path
  * the reference walks with os.listdir + yaml.load
  * (ref: full_submission_validator.py:144-234, data_file_validator.py:
  * 100-114).
  *
  * Scale shape: the LISTING is driver-side metadata (the reference's
  * os.listdir; a catalog/partition listing at scale), file READ+PARSE is
  * executor-side over a Dataset of (name, size) — each task opens its own
  * files through the Hadoop FS API, so a million-file submission store
  * fans out across the cluster while the driver only ever holds names.
  * mapPartitions is warranted here for the same reason as the multimodal
  * codec: no Catalyst expression can run a YAML parser. */
object RawSubmission {

  /** Whole-file read through the Hadoop FS API; `size` comes from the
    * caller's listing or file status. */
  private def readAll(fs: FileSystem, path: Path, size: Long): Array[Byte] = {
    val in = fs.open(path)
    try {
      val buf = new Array[Byte](size.toInt)
      in.readFully(0, buf); buf
    } finally in.close()
  }

  /** The message for a submission-level YAML file that cannot be ingested:
    * the loader text, or a loud fail-closed message for a shape outside the
    * row model (the reference emits a schema message or crashes here,
    * shape-dependent; never a silent pass). */
  private def ingestFailure(e: Throwable): String = e match {
    case e: PyYamlError =>
      "There was a problem parsing the file:\n\t\t" +
        e.rendered.replace("\n", "\n\t\t")
    case e: UnrepresentableShape => s"Unrepresentable YAML shape: ${e.what}"
  }

  /** Executor-side read + parse of every non-submission file within the
    * size cap (mirrors the reference's per-data-file yaml.load; parse
    * errors carry the loader text with the \n→\n\t\t indentation the
    * messages embed, ref full_submission_validator.py:358-363). */
  def parsedFiles(spark: SparkSession, dir: String,
      listing: Seq[(String, Long)],
      sizeLimit: Long = FullSubmission.SizeLimit): Dataset[ParsedFile] = {
    import spark.implicits._
    val dirStr = dir
    // ship the SESSION's Hadoop configuration (fs credentials/endpoints)
    // to the tasks — a fresh Configuration() only sees core-defaults and
    // breaks any non-default filesystem (review finding)
    val confEntries: Array[(String, String)] = {
      val c = spark.sparkContext.hadoopConfiguration
      val it = c.iterator()
      val buf = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
      buf.result()
    }
    spark.createDataset(listing).mapPartitions { entries =>
      lazy val conf = {
        val c = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => c.set(k, v) }
        c
      }
      entries.map { case (fname, size) =>
        if (fname == "submission.yaml" || size > sizeLimit)
          ParsedFile(fname, size, parseable = true, None, None)
        else {
          val path = new Path(dirStr, fname)
          val bytes = readAll(path.getFileSystem(conf), path, size)
          try {
            val doc = PyYamlParse.load(PyYamlParse.decode(bytes, fname), fname)
            val row = doc match {
              case PNone => Some(YamlIngest.dataRow(fname, PNone))
              case m: PMap if !m.has("type") => Some(YamlIngest.dataRow(fname, m))
              case _ => None // non-mapping roots / custom-schema 'type'
                             // docs get synthetic violations below
            }
            // the reference rejects non-mapping roots ("X is not of type
            // 'object'") and unregistered custom types — reproduce the
            // messages instead of silently passing the file (review
            // finding; probed live)
            val rootVio = doc match {
              case PNone | _: PMap if row.isDefined => None
              case m: PMap => // 'type'-keyed custom-schema doc
                val t = m.get("type").map(_.pyStr).getOrElse("")
                Some(s"There is no schema defined for the '$t' data type.")
              case other =>
                Some(s"${other.pyRepr} is not of type 'object'")
            }
            ParsedFile(fname, size, parseable = true, None, row, rootVio)
          } catch {
            case e: PyYamlError =>
              ParsedFile(fname, size, parseable = false,
                Some(e.rendered.replace("\n", "\n\t\t")), None)
            case e: UnrepresentableShape =>
              ParsedFile(fname, size, parseable = true, None, None,
                Some(ingestFailure(e)))
          }
        }
      }
    }
  }

  /** Single-file submission (`hepdata-validate -f`, ref
    * full_submission_validator.py:116-142): one combined YAML stream,
    * optionally gzipped, logically split into submission + derived data
    * files by [[FullSubmission.validateSingleYaml]]. Message attribution
    * uses the file's own name (for .yaml.gz the reference unzips into a
    * temp dir and strips it, leaving the .yaml basename). */
  def validateFile(spark: SparkSession, path: String): FullSubmission.Report = {
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isFile)
      return FullSubmission.failed(spark, path, s"File $path does not exist.")
    val bytes = readAll(fs, p, fs.getFileStatus(p).getLen)
    val isGz = path.endsWith(".yaml.gz")
    val attrName = if (isGz) new Path(path.dropRight(3)).getName else path
    val raw =
      if (isGz) {
        try {
          val gz = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try gz.readAllBytes() finally gz.close()
        } catch {
          case e: java.io.IOException =>
            return FullSubmission.failed(spark, path,
              s"Unable to extract file $path. Error was: ${e.getMessage}")
        }
      } else bytes
    val tables =
      try YamlIngest.splitSingleYaml(attrName, PyYamlParse.decode(raw, attrName))
      catch {
        case e @ (_: PyYamlError | _: UnrepresentableShape) =>
          return FullSubmission.failed(spark, attrName, ingestFailure(e))
      }
    FullSubmission.validateSingleYaml(spark, Seq(tables.sub).toDS().toDF(),
      attrName, tables.docs.toDF("docIdx", "name", "resources"),
      tables.hepRows.toDF())
  }

  /** Raw-directory validation: list, parse submission.yaml driver-side
    * (small by construction; the reference holds the doc list in memory
    * too), fan file parsing out to executors, and hand the tables to
    * [[FullSubmission.validate]]. The listing is driver-side metadata (the
    * reference's os.listdir), sorted by name. Message `file` values are
    * directory-relative (callers prefix for display, like the reference's
    * full paths). */
  def validateDir(spark: SparkSession, dir: String): FullSubmission.Report = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory)
      return FullSubmission.failed(spark, dir, s"Directory $dir does not exist.")
    val listing = fs.listStatus(p).toSeq.filter(_.isFile)
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
    val subSize = listing.collectFirst { case ("submission.yaml", n) => n }
    if (subSize.isEmpty)
      return FullSubmission.failed(spark, "submission.yaml",
        "No submission.yaml file found in submission.")

    val (sub, docsMeta) =
      try {
        val parsed = PyYamlParse.loadAll(PyYamlParse.decode(
          readAll(fs, new Path(dir, "submission.yaml"), subSize.get),
          "submission.yaml"), "submission.yaml")
        (SubFile("submission.yaml", parsed.map(YamlIngest.subDoc)),
          YamlIngest.docMeta(parsed))
      } catch {
        case e @ (_: PyYamlError | _: UnrepresentableShape) =>
          return FullSubmission.failed(spark, "submission.yaml", ingestFailure(e))
      }

    // lazy local checkpoint: every file is read and parsed once, by the
    // first job that needs it, and not at all when submission.yaml stops
    // the run
    val parsed = parsedFiles(spark, dir, listing).localCheckpoint(eager = false)
    val files = parsed.toDF()
      .select(col("fname"), col("size"), col("parseable"), col("parseError"))
    val hepRows = parsed.flatMap(_.hepRow.toSeq).toDF()
    val rootVios = parsed
      .flatMap(f => f.rootViolation.map(m => (f.fname, 0, m)).toSeq)
      .toDF("file", "seq", "message")
    val dv = HepDataRules.violations(hepRows)
      .select(col("file"), col("seq").cast("int").as("seq"), col("message"))
      .unionByName(rootVios)
    val docs = docsMeta
      .map(d => (d.docIdx, d.name, d.hasDataFile, d.dataFile, d.resources,
        d.dataSchema.orNull))
      .toDF("docIdx", "name", "hasDataFile", "dataFile", "resources",
        "dataSchema")
    FullSubmission.validate(spark, Seq(sub).toDS().toDF(), "submission.yaml",
      docs, files, dv)
  }
}
