package graft.testdata

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hep._
import graft.hep.HepModel._

/** Deterministic synthetic HEPData-shaped corpus at arbitrary scale: one
  * nested document row per id, with known defect residues (same pattern as
  * PagesGen) so nested-rule throughput and counts can be validated at any n.
  */
object HepGen {
  object Residues {
    val ZeroUnc = 97L // all-zero uncertainties at values[1]
    val EmptySym = 89L // empty symerror at values[0].errors[2]
    val BadNumeric = 83L // unparseable symerror at values[0].errors[1]
    val LengthMismatch = 79L // indep 1 value vs dep 2 values
    val OneOfFail = 101L // neither-key error appended at values[1] (P10
    // structural oneOf + the kernel's stale-value continuation path)
    def expected(n: Long): Map[String, Long] = Map(
      "zero" -> (0L until n).count(i => i % ZeroUnc == 0).toLong,
      "empty" -> (0L until n).count(i => i % EmptySym == 0).toLong,
      "numeric" -> (0L until n).count(i => i % BadNumeric == 0).toLong,
      "length" -> (0L until n).count(i => i % LengthMismatch == 0).toLong,
      "oneof" -> (0L until n).count(i => i % OneOfFail == 0).toLong)
  }

  // ---- pure-Column generation ------------------------------------------
  // The Dataset.map closure (kept below as [[rowsSpec]]) deserializes the
  // range id, builds a deeply nested HepRow object graph and re-serializes
  // it through the ExpressionEncoder per row — ~0.3 s of every
  // hep_scaled_50k run and the constant factor of every ScaleProbe sweep.
  // This builds the identical rows as one codegen'd projection
  // (HepGenSpec pins rows == rowsSpec: the same schema and rows).

  /** Marks `c` nullable: the output schema is exactly the HepRow encoder's,
    * where every String, Seq and nested case-class value may be null. */
  private def nullable(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.KnownNullable(
      ColumnBridge.expression(c)))
  }

  private val nullStr = lit(null).cast("string")
  private val nullDouble = lit(null).cast("double")
  private def emptyStrArr: Column = nullable(array().cast("array<string>"))

  /** HepHeader() default */
  private def headerCol: Column = nullable(struct(
    lit(true).as("isObj"), nullStr.as("repr"),
    lit(true).as("hasName"), nullStr.as("nameRepr"),
    lit(false).as("hasUnits"), nullStr.as("unitsRepr"),
    emptyStrArr.as("extraKeys")))

  private def errCol(hasSym: Column, symRaw: Column, hasAsym: Column,
      plusRaw: Column, minusRaw: Column, labelRaw: Column,
      instanceRepr: Column): Column = nullable(struct(
    hasSym.as("hasSym"), nullable(symRaw).as("symRaw"),
    hasAsym.as("hasAsym"), nullable(plusRaw).as("plusRaw"),
    nullable(minusRaw).as("minusRaw"),
    lit(true).as("hasLabel"), nullable(labelRaw).as("labelRaw"),
    lit(true).as("labelIsString"), emptyStrArr.as("extraKeys"),
    lit(true).as("hasPlus"), lit(true).as("hasMinus"),
    emptyStrArr.as("asymExtraKeys"), nullable(instanceRepr).as("instanceRepr"),
    nullStr.as("symRepr"), nullStr.as("asymRepr"),
    nullStr.as("plusRepr"), nullStr.as("minusRepr")))

  private def symCol(v: Column, label: String): Column =
    errCol(lit(true), v, lit(false), nullStr, nullStr, lit(label), nullStr)

  private def asymCol(plus: Column, minus: Column, label: String): Column =
    errCol(lit(false), nullStr, lit(true), plus, minus, lit(label), nullStr)

  private def pointCol(raw: Column): Column = nullable(struct(
    lit(true).as("hasValue"), nullable(raw).as("valueRaw"),
    lit(false).as("valueIsString"),
    lit(false).as("hasLow"), nullStr.as("lowRaw"),
    lit(false).as("lowIsNum"), nullDouble.as("lowNum"),
    lit(false).as("hasHigh"), nullStr.as("highRaw"),
    lit(false).as("highIsNum"), nullDouble.as("highNum"),
    nullable(concat(lit("{'value': "), raw, lit("}"))).as("instanceRepr"),
    emptyStrArr.as("extraKeys")))

  private def dvalCol(v: Column, errs: Column): Column = nullable(struct(
    lit(true).as("hasValue"), nullable(v).as("valueRaw"),
    lit(true).as("hasErrors"), nullable(errs).as("errors"),
    emptyStrArr.as("extraKeys")))

  def rows(spark: SparkSession, n: Long): DataFrame = {
    import Residues._
    val id = col("id")
    val v = (id % 10).cast("string")
    val sym1 = when(id % BadNumeric === 0, concat(v, lit(".x%")))
      .otherwise(concat(lit("0."), v))
    val sym2 = when(id % EmptySym === 0, lit("")).otherwise(lit("1.2%"))
    val errs0 = array(
      symCol(concat(lit("0.4"), v), "stat"),
      symCol(sym1, "sys"),
      symCol(sym2, "sys,lumi"))
    val errs1base = when(id % ZeroUnc === 0,
        array(symCol(lit("0.0"), "stat"),
          asymCol(lit("0.0%"), lit("-0.0"), "sys")))
      .otherwise(
        array(symCol(concat(lit("0.1"), v), "stat"),
          asymCol(concat(lit("0."), v), concat(lit("-0."), v), "sys")))
    val noneErr = errCol(lit(false), nullStr, lit(false), nullStr, nullStr,
      lit("sys"), lit("{'label': 'sys'}"))
    val errs1 = when(id % OneOfFail === 0,
      concat(errs1base, array(noneErr))).otherwise(errs1base)
    val indepVals = when(id % LengthMismatch === 0,
        array(pointCol(concat(lit("7"), v))))
      .otherwise(array(pointCol(concat(lit("7"), v)),
        pointCol(concat(lit("8"), v))))
    val indepVar = nullable(struct(
      nullable(lit("SQRT(S)")).as("headerName"), lit(true).as("hasValues"),
      nullable(indepVals).as("values"), lit(true).as("hasHeader"),
      emptyStrArr.as("extraKeys"), headerCol.as("header")))
    val depVar = nullable(struct(
      nullable(lit("SIG")).as("headerName"), lit(true).as("hasHeader"),
      lit(true).as("hasValues"),
      nullable(array(dvalCol(concat(lit("6."), v), errs0),
        dvalCol(concat(lit("5."), v), errs1))).as("values"),
      emptyStrArr.as("extraKeys"), headerCol.as("header"),
      lit(false).as("hasQualifiers"), nullStr.as("qualifiersRepr"),
      nullable(array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.Encoders.product[HepQualifier].schema)))
        .as("qualifiers")))
    spark.range(n).select(
      nullable(concat(lit("gen_"), id.cast("string"), lit(".yaml"))).as("file"),
      lit(false).as("emptyDoc"),
      lit(true).as("hasIndep"), nullable(array(indepVar)).as("indep"),
      lit(true).as("hasDep"), nullable(array(depVar)).as("dep"),
      nullStr.as("indepBadRepr"), nullStr.as("depBadRepr"))
  }

  /** The original Dataset.map closure — kept as the SPEC the Column
    * generator is differentially tested against (HepGenSpec). */
  def rowsSpec(spark: SparkSession, n: Long): DataFrame = {
    import Residues._
    spark.range(n).map { id =>
      val v = (id % 10).toString
      val sym1 = if (id % BadNumeric == 0) s"$v.x%" else s"0.$v"
      val sym2 = if (id % EmptySym == 0) "" else "1.2%"
      val errs0 = Seq(sym(s"0.4$v", "stat"), sym(sym1, "sys"), sym(sym2, "sys,lumi"))
      val errs1base =
        if (id % ZeroUnc == 0) Seq(sym("0.0", "stat"), asym("0.0%", "-0.0", "sys"))
        else Seq(sym(s"0.1$v", "stat"), asym(s"0.$v", s"-0.$v", "sys"))
      // stale-continuation residue: a neither-key error AFTER defined ones
      // emits the structural oneOf violation and reuses the stale values
      // (no extra semantic message; all-zero verdicts unchanged because the
      // stale pair repeats the previous error's zeroness)
      val errs1 =
        if (id % OneOfFail == 0) errs1base :+ noneErr("{'label': 'sys'}", "sys")
        else errs1base
      val indepVals =
        if (id % LengthMismatch == 0) Seq(point(s"7$v", isString = false))
        else Seq(point(s"7$v", isString = false), point(s"8$v", isString = false))
      row(s"gen_$id.yaml",
        indep = Seq(indepVar("SQRT(S)", indepVals)),
        dep = Seq(depVar("SIG", Seq(dval(s"6.$v", errs0), dval(s"5.$v", errs1)))))
    }(HepModel.hepRowEncoder).toDF()
  }
}
