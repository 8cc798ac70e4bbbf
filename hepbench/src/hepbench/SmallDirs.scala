package hepbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Cli
import graft.hep.{HepDataRules, HepModel, HepRow, SubFile, SubmissionRules}
import graft.ingest._

/** `hep_small_dirs`: `hepdata-validate` on small submission directories,
  * one `Cli.rawTranscript(spark, "dir", d)` per operation, over the
  * directories rebuilt from the reference-recorded golden corpora: the 40
  * generated directories of `cli_transcripts.jsonl` (the TestHEPSubmission
  * transcript is left out: its directory is a reference-repo fixture that
  * the corpus does not carry) and the 120 of
  * `fullsubmission_conformance.jsonl`, in seeded order.
  *
  * Checks: a transcript must equal its golden lines byte for byte after
  * the directory prefix becomes `<DIR>`. For the full-submission corpus,
  * the verdict line and every `level - message` line must equal the
  * golden per-file messages, in the golden file order with the
  * unreferenced-file blocks in name order (the CLI's documented delta). */
final case class RawFile(fname: String, kind: String, data: String)

final class SmallDirs(root: File, seed: Long, corrupt: Boolean) extends Workload {
  private implicit val fmts: Formats = DefaultFormats

  private def rawFiles(j: JValue): List[RawFile] = (j \ "rawFiles").children.map(f =>
    RawFile((f \ "fname").extract[String], (f \ "kind").extract[String],
      (f \ "data").extract[String]))

  /** Golden expectation: a whole transcript, or per-file message blocks. */
  private case class Case(name: String, files: List[RawFile],
      transcript: Option[(List[String], Int)], blocks: Seq[(String, Seq[String])])

  private def golden(name: String): List[JValue] = {
    val lenient = new com.fasterxml.jackson.databind.ObjectMapper()
    lenient.enable(com.fasterxml.jackson.core.json.JsonReadFeature
      .ALLOW_NON_NUMERIC_NUMBERS.mappedFeature())
    val src = scala.io.Source.fromFile(
      new File(root, s"src/test/resources/golden/$name"), "UTF-8")
    try src.getLines().map(l => JsonMethods.fromJsonNode(lenient.readTree(l))).toList
    finally src.close()
  }

  private val cases: Vector[Case] = {
    val transcripts = golden("cli_transcripts.jsonl").filter { j =>
      (j \ "mode").extract[String] == "dir" && (j \ "refDir") == JNothing &&
        !(j \ "missing").extractOpt[Boolean].getOrElse(false)
    }.map { j =>
      Case("cli_" + (j \ "case").extract[String], rawFiles(j),
        Some(((j \ "lines").extract[List[String]], (j \ "exit").extract[Int])), Nil)
    }
    val full = golden("fullsubmission_conformance.jsonl").map { j =>
      val blocks = (j \ "messages") match {
        case JObject(fs) => fs.map { case (f, ms) =>
          f -> ms.extract[List[List[String]]].map(p => s"\t ${p(0)} - ${p(1)}")
        }
        case _ => Nil
      }
      // sweep-order normalisation: the unreferenced-file blocks close the
      // transcript in name order (the reference follows os.listdir)
      val (sweep, rest) = blocks.partition(_._2.headOption.exists(
        _.endsWith(" is not referenced in the submission.")))
      Case("full_" + (j \ "file").extract[String], rawFiles(j),
        None, rest ++ sweep.sortBy(_._1))
    }
    (transcripts ++ full).toVector
  }
  require(cases.size == 160, s"expected 160 golden directories, found ${cases.size}")

  /** Directories whose submission.yaml fails its own checks stop there and
    * cost a fraction of a full validation. */
  private def stopsAtSubmission(c: Case): Boolean = {
    val first = c.transcript.map(_._1.drop(1).take(1)).getOrElse(
      c.blocks.collect { case ("submission.yaml", ms) => ms.take(1) }.flatten)
    first.exists(l => l.startsWith("\t error - submission.yaml is invalid") ||
      l.startsWith("\t error - There was a problem parsing the file"))
  }

  /** Cost class of a directory: the ones that stop at their own
    * submission.yaml, then the fully validated ones by file count (two or
    * fewer, three, four or more); the time a submission takes grows with
    * its file count. */
  private def costClass(c: Case): Int =
    if (stopsAtSubmission(c)) 0 else math.min(math.max(c.files.size, 2), 4) - 1

  /** Seeded order: each cost class shuffled by the seed and spread evenly
    * through the sequence, which is rotated by the seed, so every window of
    * a few operations holds the same mix of cheap and costly directories. */
  private val order: Vector[Int] = {
    val rnd = new scala.util.Random(seed)
    val byClass = cases.indices.groupBy(i => costClass(cases(i))).toSeq.sortBy(_._1)
    val merged = byClass.flatMap { case (k, members) =>
      rnd.shuffle(members.toVector).zipWithIndex.map { case (c, j) =>
        ((j + 0.5 + k * 1e-3) / members.size, c) }
    }.sortBy(_._1).map(_._2).toVector
    val rot = rnd.nextInt(merged.size)
    merged.drop(rot) ++ merged.take(rot)
  }
  /** Set-up warms up on one fixed directory, the smallest that is fully
    * validated, so set-up time does not depend on the seed. */
  private val warmUpCase = cases.indices.filterNot(i => stopsAtSubmission(cases(i)))
    .minBy(i => cases(i).files.map(_.data.length).sum)

  private def caseAt(i: Int): Int = if (i < 0) warmUpCase else order(i % order.size)

  private var dirRoot: File = _
  private val messagesSeen = scala.collection.mutable.Map.empty[Int, Int]

  def stage(spark: SparkSession, dir: File): Unit = {
    cases.foreach { c =>
      val d = new File(dir, c.name).toPath
      Files.createDirectories(d)
      c.files.foreach { rf =>
        val p = d.resolve(rf.fname)
        rf.kind match {
          case "text" => Files.write(p, rf.data.getBytes("UTF-8"))
          case "b64" => Files.write(p, java.util.Base64.getDecoder.decode(rf.data))
          case "big" =>
            val raf = new java.io.RandomAccessFile(p.toFile, "rw")
            try raf.setLength(rf.data.toLong) finally raf.close()
        }
      }
    }
    dirRoot = dir
  }

  private def dirOf(c: Int): String = new File(dirRoot, cases(c).name).getPath

  def op(spark: SparkSession, i: Int): OpResult = {
    val c = caseAt(i)
    val dir = dirOf(c)
    System.err.println(s"[hepbench] op $i validates ${cases(c).name}")
    val (lines0, exit) = Cli.rawTranscript(spark, "dir", dir)
    val lines = lines0.map(_.replace(dir + "/", "").replace(dir, "<DIR>")).toList
    val msgs = lines.tail.filter(SmallDirs.MessageLine.matches)
    messagesSeen(c) = msgs.size
    // the negative control corrupts the expectation of the first timed op
    val corrupted = if (corrupt && i == 0) List("\t error - (corrupted expectation)") else Nil
    OpResult(1, () => {
      val ok = cases(c) match {
        case Case(_, _, Some((exp, expExit)), _) =>
          lines == exp ++ corrupted && exit == expExit
        case Case(_, _, None, blocks) =>
          val expMsgs = blocks.flatMap(_._2).toList ++ corrupted
          val header = if (expMsgs.isEmpty) "<DIR> is valid." else "ERROR: <DIR> is invalid."
          lines.head == header && msgs == expMsgs
      }
      if (!ok) System.err.println(
        s"[hepbench] MISMATCH ${cases(c).name}: ${lines.mkString(" | ").take(800)}")
      ok
    })
  }

  def warmUpSeconds: Double = 0

  def jobLayer(callSite: String): String =
    if (callSite.contains("Cli.scala")) "cli" else "hep"

  /** Separate calls into each layer on the same directories: the
    * executor-side read+parse (`RawSubmission.parsedFiles`), driver-side
    * `PyYamlParse` and `YamlIngest` translation, and the two rule kernels. */
  def layers(spark: SparkSession, tracer: Tracer, ops: Seq[Int]): LayerResult = {
    import spark.implicits._
    var ingestJobs, parseS, translateS, dataRulesS, subRulesS = 0.0
    var files, bytes, rows, messages = 0L
    val todo = ops.map(caseAt)
    todo.foreach { c =>
      val dir = new File(dirOf(c))
      tracer.span(1000000L + c, 0, s"layers ${cases(c).name}") { parent =>
        val listing = dir.listFiles().filter(_.isFile)
          .map(f => (f.getName, f.length())).sortBy(_._1).toSeq
        val t0 = System.nanoTime()
        tracer.span(1000000L + c, parent, "ingest.parsedFiles") { _ =>
          RawSubmission.parsedFiles(spark, dir.getPath, listing).collect() }
        ingestJobs += Main.secs(t0)
        var hepRows = Vector.empty[HepRow]
        var sub: Option[SubFile] = None
        listing.filter(_._2 <= graft.hep.FullSubmission.SizeLimit).foreach { case (name, size) =>
          val raw = Files.readAllBytes(new File(dir, name).toPath)
          files += 1; bytes += size
          val p0 = System.nanoTime()
          val parsed: Option[Vector[PyVal]] =
            try {
              val text = PyYamlParse.decode(raw, name)
              Some(if (name == "submission.yaml") PyYamlParse.loadAll(text, name)
                   else Vector(PyYamlParse.load(text, name)))
            } catch { case _: PyYamlError => None }
          parseS += Main.secs(p0)
          val q0 = System.nanoTime()
          parsed.foreach { docs =>
            try {
              if (name == "submission.yaml") sub = Some(SubFile(name, docs.map(YamlIngest.subDoc)))
              else docs.head match {
                case m: PMap if m.has("type") =>
                case d @ (PNone | _: PMap) => hepRows :+= YamlIngest.dataRow(name, d)
                case _ =>
              }
            } catch { case _: UnrepresentableShape => }
          }
          translateS += Main.secs(q0)
        }
        rows += hepRows.size
        messages += messagesSeen.getOrElse(c, 0)
        val r0 = System.nanoTime()
        tracer.span(1000000L + c, parent, "hep.data_rules") { _ =>
          Main.noop(HepDataRules.violations(
            spark.createDataset(hepRows)(HepModel.hepRowEncoder).toDF())) }
        dataRulesS += Main.secs(r0)
        sub.foreach { s =>
          val s0 = System.nanoTime()
          tracer.span(1000000L + c, parent, "hep.submission_rules") { _ =>
            Main.noop(SubmissionRules.violations(Seq(s).toDS().toDF())) }
          subRulesS += Main.secs(s0)
        }
      }
    }
    val n = todo.size.toDouble
    LayerResult(Map(
      "ingest.jobs_s" -> ingestJobs / n,
      "ingest.parse_mb_per_s" -> bytes / 1048576.0 / parseS,
      "ingest.translate_s" -> translateS / n,
      "ingest.files" -> files / n,
      "ingest.bytes" -> bytes / n,
      "hep.data_rules_s" -> dataRulesS / n,
      "hep.submission_rules_s" -> subRulesS / n,
      "hep.rows" -> rows / n,
      "hep.messages" -> messages / n))
  }
}

object SmallDirs {
  /** A `level - message` line of a transcript (error, warning or hint). */
  val MessageLine = "(?s)\t [a-z]+ - .*".r
}
