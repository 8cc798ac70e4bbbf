package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.hep.{FullSubmission, HepRow, SubFile}

/** Differential conformance replay for SINGLE-YAML submissions: 80
  * seeded-random combined streams (tools/gen_singleyaml_corpus.py, seed 48)
  * run through the live reference FullSubmissionValidator(file=...) — the
  * graft side replays validateSingleYaml (logical split, derived data-file
  * names with ' '→'_' and '/'→'-', submission-path attribution with the
  * table suffix, sweep off) and must reproduce every (level, message)
  * sequence, including metadata short-circuits and duplicate-derived-name
  * cases. */
class SingleYamlConformanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private implicit val fmts: Formats = DefaultFormats

  private case class DocRow(docIdx: Int, name: Option[String],
      resources: Seq[String])

  test("replays the reference-generated 80-stream corpus byte-exact") {
    import spark.implicits._
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden/singleyaml_conformance.jsonl"),
      "UTF-8")
    val cases = try src.getLines().map(JsonMethods.parse(_)).toList
    finally src.close()
    assert(cases.size === 80)

    var nMsgs = 0
    val bad = cases.flatMap { j =>
      val name = (j \ "file").extract[String]
      val sub = (j \ "sub").extract[SubFile]
      val docs = (j \ "docs").extract[List[DocRow]]
        .map(d => (d.docIdx, d.name.orNull, d.resources))
        .toDF("docIdx", "name", "resources")
      val hepRows = (j \ "hepRows").extract[List[HepRow]]
      val expected = (j \ "messages") match {
        case JObject(fs) => fs.map { case (f, ms) =>
          f -> ms.extract[List[List[String]]].map(p => (p(0), p(1)))
        }.toMap
        case _ => Map.empty[String, List[(String, String)]]
      }
      nMsgs += expected.valuesIterator.map(_.size).sum
      val got = FullSubmission.validateSingleYaml(spark,
          Seq(sub).toDS().toDF(), name, docs, hepRows.toDS().toDF())
        .messages.orderBy("seq").collect()
        .map(r => (r.getAs[String]("file"),
          (r.getAs[String]("level"), r.getAs[String]("message"))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
      if (got == expected) None else Some((name, got, expected))
    }
    bad.take(2).foreach { case (name, g, e) =>
      info(s"MISMATCH $name")
      (g.keySet ++ e.keySet).toSeq.sorted.foreach { f =>
        val (gv, ev) = (g.getOrElse(f, Nil), e.getOrElse(f, Nil))
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
    assert(bad.isEmpty, s"${bad.size} of 80 cases mismatch")
    info(s"80 streams, $nMsgs reference messages replayed")
    assert(nMsgs > 100)
  }
}
