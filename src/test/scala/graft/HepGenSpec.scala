package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.hep.HepDataRules
import graft.testdata.HepGen

/** Scaled nested-rule validation: the fused HEP projection over a generated
  * corpus produces exactly the injected defect counts. */
class HepGenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val N = 50000L

  test("nested rules at 50k docs: violation counts match injection residues") {
    val v = HepDataRules.violations(HepGen.rows(spark, N))
    val byKind = v.collect().groupBy { r =>
      val m = r.getAs[String]("message")
      if (m.contains("should not all be zero")) "zero"
      else if (m.contains("cannot be empty")) "empty"
      else if (m.contains("Invalid error value")) "numeric"
      else if (m.contains("Inconsistent length")) "length"
      else if (m.contains("not valid under any of the given schemas")) "oneof"
      else "other"
    }.view.mapValues(_.length.toLong).toMap
    val exp = HepGen.Residues.expected(N)
    assert(byKind.getOrElse("other", 0L) === 0L)
    assert(byKind("zero") === exp("zero"))
    assert(byKind("empty") === exp("empty"))
    assert(byKind("numeric") === exp("numeric"))
    assert(byKind("length") === exp("length"))
    assert(byKind("oneof") === exp("oneof"))
    // verdicts: a file fails iff it hits at least one residue
    val failing = HepDataRules.verdicts(HepGen.rows(spark, N))
      .where("NOT pass").count()
    val expFailing = (0L until N).count(i => Seq(97L, 89L, 83L, 79L, 101L)
      .exists(r => i % r == 0)).toLong
    assert(failing === expFailing)
  }

  test("Column generator == Dataset.map closure spec, field for field") {
    import org.apache.spark.sql.functions._
    val g1 = HepGen.rows(spark, 5000)
    val g2 = HepGen.rowsSpec(spark, 5000)
    assert(g1.schema === g2.schema)
    val j1 = g1.select(to_json(struct(g1.columns.map(col): _*)))
      .collect().map(_.getString(0)).sorted
    val j2 = g2.select(to_json(struct(g2.columns.map(col): _*)))
      .collect().map(_.getString(0)).sorted
    assert(j1.length === j2.length)
    j1.zip(j2).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a === b, s"row $i")
    }
  }
}
