package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** `hepdata-validate` transcript parity over RAW directories/files: 63
  * reference-recorded CLI transcripts (tools/gen_cli_corpus.py — 40
  * random submission dirs, the reference repo's own TestHEPSubmission,
  * 20 single-YAML files incl. gzipped, and the missing-file/dir edge
  * cases) replayed through Cli.rawTranscript byte-for-byte, exit codes
  * included. Lines are compared after the documented normalization
  * (directory prefix stripped, sweep blocks name-ordered). The 62
  * transcripts the corpus carries in full always run; TestHEPSubmission
  * is a reference-repo directory and fails while that fixture is absent. */
class CliRawTranscriptSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private implicit val fmts: Formats = DefaultFormats

  private case class RawFile(fname: String, kind: String, data: String)

  private def materialize(dir: Path, rf: RawFile): Unit = {
    val p = dir.resolve(rf.fname)
    rf.kind match {
      case "text" => Files.write(p, rf.data.getBytes("UTF-8"))
      case "b64" => Files.write(p, java.util.Base64.getDecoder.decode(rf.data))
      case "big" =>
        val raf = new java.io.RandomAccessFile(p.toFile, "rw")
        try raf.setLength(rf.data.toLong) finally raf.close()
    }
  }

  private lazy val cases: List[JValue] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden/cli_transcripts.jsonl"), "UTF-8")
    val all = try src.getLines().map(JsonMethods.parse(_)).toList
    finally src.close()
    assert(all.size === 63)
    all
  }

  private def needsReference(j: JValue): Boolean = (j \ "refDir") != JNothing

  private def withRoot[T](body: Path => T): T = {
    val root = Files.createTempDirectory("graft_cli_")
    try body(root) finally {
      import scala.util.Try
      Try(org.apache.commons.io.FileUtils.deleteDirectory(root.toFile))
    }
  }

  private def replay(selected: List[JValue]): Unit = withRoot { root =>
    // 4-way case parallelism (see RawSubmissionConformanceSpec)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val bad = try Await.result(Future.traverse(selected) { j => Future {
      val mode = (j \ "mode").extract[String]
      val name = (j \ "case").extract[String]
      val expLines = (j \ "lines").extract[List[String]]
      val expExit = (j \ "exit").extract[Int]

      val (target, normPrefix): (String, String) =
        if ((j \ "missing").toOption.exists(_.extract[Boolean]))
          (name, null) // nonexistent target, relative
        else if (mode == "dir") (j \ "refDir").extractOpt[String] match {
          case Some(rd) =>
            val p = s"/root/reference/testsuite/test_data/$rd"
            assert(new java.io.File(p).isDirectory, s"$p missing")
            (p, p)
          case None =>
            val dir = root.resolve(name)
            Files.createDirectory(dir)
            (j \ "rawFiles").extract[List[RawFile]].foreach(materialize(dir, _))
            (dir.toString, dir.toString)
        } else (j \ "yaml").extractOpt[String] match {
          case None => (name, null) // notarealfile
          case Some(raw) =>
            val dir = root.resolve(name + ".d")
            Files.createDirectory(dir)
            val f = dir.resolve(name)
            if ((j \ "gzip").extract[Boolean]) {
              val bos = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bos)
              gz.write(raw.getBytes("UTF-8")); gz.close()
              Files.write(f, bos.toByteArray)
            } else Files.write(f, raw.getBytes("UTF-8"))
            (f.toString, dir.toString)
        }

      val (lines0, exit) = Cli.rawTranscript(spark, mode, target)
      val lines =
        if (normPrefix == null) lines0
        else lines0.map(_.replace(normPrefix + "/", "").replace(normPrefix, "<DIR>"))
      if (lines.toList == expLines && exit == expExit) None
      else {
        Some((name, lines.toList.zipAll(expLines, "<missing>", "<missing>")
          .filter { case (a, b) => a != b }, exit, expExit))
      }
    } }, Duration.Inf).flatten finally pool.shutdown()
    bad.take(3).foreach { case (n, diffs, ge, ee) =>
      info(s"MISMATCH $n (exit $ge vs $ee)")
      diffs.take(6).foreach { case (g, e) =>
        info(s"  got: ${g.take(300)}"); info(s"  exp: ${e.take(300)}")
      }
    }
    assert(bad.isEmpty, s"${bad.size} of ${selected.size} transcripts mismatch")
  }

  test("62 hermetic CLI transcripts replay byte-exact") {
    val hermetic = cases.filterNot(needsReference)
    assert(hermetic.size === 62)
    replay(hermetic)
  }

  test("TestHEPSubmission CLI transcript replays byte-exact") {
    replay(cases.filter(needsReference))
  }

  test("a transcript leaves no entry in the session's cache") {
    import org.apache.spark.sql.graft.CacheEntries
    // a directory that gets past submission.yaml, and a single file
    def golden(name: String) =
      cases.find(j => (j \ "case").extract[String] == name).get
    withRoot { root =>
      val dir = root.resolve("dir_000")
      Files.createDirectory(dir)
      (golden("dir_000") \ "rawFiles").extract[List[RawFile]]
        .foreach(materialize(dir, _))
      val file = root.resolve("single_002.yaml")
      Files.write(file, (golden("single_002.yaml") \ "yaml").extract[String]
        .getBytes("UTF-8"))
      Seq("dir" -> dir, "file" -> file).foreach { case (mode, target) =>
        val before = CacheEntries(spark)
        val (lines, _) = Cli.rawTranscript(spark, mode, target.toString)
        assert(lines.size > 2)
        assert(CacheEntries(spark) === before, mode)
      }
    }
  }

  test("a data file whose YAML shape is outside the row model is listed invalid, with its message") {
    withRoot { root =>
      val dir = root.resolve("unrepresentable")
      Files.createDirectory(dir)
      def table(n: Int) =
        s"data_file: data$n.yaml\ndescription: d\nkeywords:\n" +
          s"- name: reactions\n  values:\n  - P P --> X\nname: Table $n\n"
      Files.write(dir.resolve("submission.yaml"),
        (table(1) + "---\n" + table(2)).getBytes("UTF-8"))
      Files.write(dir.resolve("data1.yaml"),
        ("dependent_variables:\n- header:\n    name: Y\n  values:\n" +
          "  - errors:\n    - symerror: 0.1\n    value: 6.7\n" +
          "independent_variables:\n- header:\n    name: X\n  values:\n" +
          "  - value: 7000\n").getBytes("UTF-8"))
      Files.write(dir.resolve("data2.yaml"),
        "dependent_variables: []\nindependent_variables: [5]\n".getBytes("UTF-8"))
      val (lines, exit) = Cli.rawTranscript(spark, "dir", dir.toString)
      assert(exit === 1)
      assert(lines === Seq(
        s"ERROR: $dir is invalid.",
        s"\t $dir/submission.yaml is valid HEPData submission YAML.",
        s"\t $dir/data1.yaml is valid HEPData data YAML.",
        "\t error - data2.yaml is invalid HEPData YAML.",
        "\t error - Unrepresentable YAML shape: independent variable: 5"))
    }
  }
}
