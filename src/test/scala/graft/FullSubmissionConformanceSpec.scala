package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.hep.{FullSubmission, HepDataRules, HepRow, SubFile}

/** Differential conformance replay for the whole-directory orchestration:
  * 120 seeded-random submission DIRECTORIES (tools/
  * gen_fullsubmission_corpus.py, seed 47 — real temp dirs with
  * submission.yaml, data files, stray files) validated by the live
  * reference FullSubmissionValidator; the corpus carries the translated
  * sub/docs/files/hepRows tables, so the graft side replays
  * SubmissionRules short-circuit + HepDataRules + FullSubmission joins and
  * must reproduce every per-file (level, message) sequence. Covers J1-J3
  * (missing files, '/' checks, unreferenced sweep + MacOS hints), S10 size
  * caps, parse failures, invalid-data propagation, short-circuits on
  * invalid metadata, and empty data files. */
class FullSubmissionConformanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private implicit val fmts: Formats = DefaultFormats

  private case class DocRow(docIdx: Int, name: Option[String],
      hasDataFile: Boolean, dataFile: Option[String], resources: Seq[String])
  private case class FileRow(fname: String, size: Long, parseable: Boolean,
      parseError: Option[String])

  test("replays the reference-generated 120-directory corpus byte-exact") {
    import spark.implicits._
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden/fullsubmission_conformance.jsonl"),
      "UTF-8")
    val cases = try src.getLines().map(JsonMethods.parse(_)).toList
    finally src.close()
    assert(cases.size === 120)

    var nMsgs = 0
    val bad = cases.flatMap { j =>
      val name = (j \ "file").extract[String]
      val sub = (j \ "sub").extract[SubFile]
      val docs = (j \ "docs").extract[List[DocRow]]
        .map(d => (d.docIdx, d.name.orNull, d.hasDataFile,
          d.dataFile.orNull, d.resources))
        .toDF("docIdx", "name", "hasDataFile", "dataFile", "resources")
      val files = (j \ "files").extract[List[FileRow]]
        .map(f => (f.fname, f.size, f.parseable, f.parseError.orNull))
        .toDF("fname", "size", "parseable", "parseError")
      val hepRows = (j \ "hepRows").extract[List[HepRow]]
      val dv = HepDataRules.violations(hepRows.toDS().toDF())
        .select(org.apache.spark.sql.functions.col("file"),
          org.apache.spark.sql.functions.col("seq"),
          org.apache.spark.sql.functions.col("message"))
      val expected = (j \ "messages") match {
        case JObject(fs) => fs.map { case (f, ms) =>
          f -> ms.extract[List[List[String]]].map(p => (p(0), p(1)))
        }.toMap
        case _ => Map.empty[String, List[(String, String)]]
      }
      nMsgs += expected.valuesIterator.map(_.size).sum

      val got = FullSubmission.validate(spark, Seq(sub).toDS().toDF(),
          "submission.yaml", docs, files, dv).messages
        .orderBy("file", "seq").collect()
        .map(r => (r.getAs[String]("file"),
          (r.getAs[String]("level"), r.getAs[String]("message"))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

      val gotN = got.view.mapValues(_.toList).toMap
      if (gotN == expected) None else Some((name, gotN, expected))
    }
    bad.take(2).foreach { case (name, g, e) =>
      info(s"MISMATCH $name")
      (g.keySet ++ e.keySet).toSeq.sorted.foreach { f =>
        val gv = g.getOrElse(f, Nil)
        val ev = e.getOrElse(f, Nil)
        if (gv != ev) {
          info(s"  file $f")
          gv.zipAll(ev, ("-", "<missing>"), ("-", "<missing>")).foreach {
            case (a, b) if a != b =>
              info(s"    got: $a"); info(s"    exp: $b")
            case _ => ()
          }
        }
      }
    }
    assert(bad.isEmpty, s"${bad.size} of 120 cases mismatch")
    info(s"120 directories, $nMsgs reference messages replayed")
    assert(nMsgs > 250)
  }
}
