package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.compile.ConstraintCompiler
import graft.spec._

/** The flagship pipeline: full validation of a Common-Crawl-style page table
  * (BASELINE.json north_star) — row-level constraint scan, uniqueness,
  * referential, text-invariant and verdict assembly, each pass shaped for
  * 10^12-row execution (see Passes). Drift is a separate pass (DriftPass)
  * because it returns driver-side test statistics, not a DataFrame.
  */
object PageValidator {

  /** Standard spec for the (url, warc_ts, html, text, lang, part_id) table.
    * Mirrors the reference checks translated in SURVEY.md §2.2/2.3 plus the
    * north-star per-column rules. */
  def pageSpec(langs: Seq[String], htmlMaxBytes: Long = 10485760L): TableSpec =
    TableSpec(
      table = "pages",
      partitionColumn = "part_id",
      keyColumns = Seq("url"),
      rules = Seq(
        NotNull("url"),
        MatchesRegex("url", "^https?://"),
        InSet("lang", langs),
        Between("warc_ts", "timestamp'2024-01-01 00:00:00'",
          "timestamp'2026-12-31 23:59:59'"),
        // reference 10 MiB data-file cap (full_submission_validator.py:18)
        ExprRule("max_bytes:html", "html",
          s"html IS NULL OR octet_length(html) <= $htmlMaxBytes",
          s"concat('html of ', octet_length(html), ' bytes exceeds size limit of $htmlMaxBytes in ''html''')"),
        NotNull("text")))

  final case class Result(
      violations: DataFrame, // row-level rule violations
      duplicates: DataFrame, // url -> cnt (cnt > 1)
      refViolations: DataFrame, // rows with lang not in dim
      textMismatches: DataFrame, // url, actual vs expected sha256
      verdicts: DataFrame, // part_id, n_violations, pass
      stats: DataFrame) // per-column stats

  /** All passes over one pages DataFrame. `expected` may be empty.
    * Every output is a lazy DataFrame; nothing is collected here. */
  def validate(
      spark: SparkSession,
      pages: DataFrame,
      langDim: DataFrame,
      expectedText: DataFrame,
      htmlMaxBytes: Long = 10485760L,
      /** optional zero-extra-pass metrics: observed on the row-rule branch
        * (which every input row flows through), readable via
        * `observation.get` after the first action on `violations`. */
      observation: Option[org.apache.spark.sql.Observation] = None,
      observeCols: Seq[String] = Seq("url", "text", "lang")): Result = {
    // the row-level lang enum is replaced by the referential join pass
    val spec = pageSpec(Nil, htmlMaxBytes).copy(
      rules = pageSpec(Nil, htmlMaxBytes).rules.filterNot(_.id.startsWith("enum:")))
    val observedPages = observation match {
      case Some(obs) =>
        val aggs = Passes.statsObserveAggs(observeCols)
        pages.observe(obs, aggs.head, aggs.tail: _*)
      case None => pages
    }
    val rowViolations = ConstraintCompiler.violations(spec, observedPages)

    // plain hash agg: map-side combine already collapses hot keys for
    // count state (Passes.duplicatesSalted spells the salting out)
    val dups = Passes.duplicates(pages, "url")
    val dupViolations = dups.select(
      lit(-1).as("part_id"), col("url"),
      lit(100).as("rule_seq"), lit("unique:url").as("rule_id"),
      lit("url").as("column"), lit("error").as("level"),
      concat(lit("Duplicate url: '"), col("url"), lit("' occurs "),
        col("cnt"), lit(" times")).as("message"))

    val refViol = Passes.referentialViolations(pages, "lang", langDim, "lang")
    val refViolations = refViol.select(
      col("part_id"), col("url"),
      lit(101).as("rule_seq"), lit("referential:lang").as("rule_id"),
      lit("lang").as("column"), lit("error").as("level"),
      concat(lit("lang '"), col("lang"),
        lit("' not present in lang dimension")).as("message"))

    val textBad = Passes.textInvariantViolations(
      pages.select(col("part_id"), col("url"), col("text")), "url", "text",
      expectedText, "text_sha256", carry = Seq("part_id"))
    val textViolations = textBad
      .select(col("part_id"), col("url"),
        lit(102).as("rule_seq"), lit("invariant:text").as("rule_id"),
        lit("text").as("column"), lit("error").as("level"),
        concat(lit("text sha256 "), col("_actual"),
          lit(" does not match expected "), col("_expected")).as("message"))

    val allViolations = rowViolations
      .unionByName(dupViolations)
      .unionByName(refViolations)
      .unionByName(textViolations)

    // Derived from allViolations ON PURPOSE, not via verdictsSingleScan:
    // this pipeline emits BOTH violations and verdicts, and every realistic
    // consumer persists the violations (Bench/Cli do) — so the verdict
    // action reads them from cache plus ONE narrow universe scan (part_id
    // only, column-pruned). Recomputing the rule scan + referential/text
    // JOINS per verdict action measures ~2× slower end-to-end at 10M docs.
    // verdictsSingleScan is the right shape when verdicts are the ONLY
    // output (see the a7 driver query).
    val verdicts = Passes.verdicts(
      allViolations.where(col("part_id") >= 0), "part_id",
      pages.select(col("part_id")))

    val stats = Passes.columnStats(pages,
      Seq("url", "warc_ts", "text", "lang", "part_id"))

    Result(allViolations, dups, refViol, textBad, verdicts, stats)
  }
}
