package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregate-shaped validation passes — the GROUP-BY / JOIN half of the
  * reference's checks (SURVEY.md §2.4/§2.5), each built so the physical plan
  * is the one you'd want at 10^12 rows:
  *
  *  - stats: ONE hash aggregate over the scan (partial+final, HLL++ for
  *    distinct) — no per-column passes.
  *  - uniqueness: two-phase aggregation; the salted variant splits hot keys
  *    across an explicit pre-aggregation so a billion-duplicate url cannot
  *    pin a single reducer (ref analogue: duplicate table names,
  *    submission_file_validator.py:140-156).
  *  - referential: broadcast LEFT ANTI join against the (small) dimension
  *    (ref analogue: data_file existence, full_submission_validator.py:304-316).
  *  - invariant: inner join against the expected-hash table, compare
  *    `sha2(text, 256)` row-by-row (north-star byte-identical text check).
  */
object Passes {

  /** Per-column stats in a single aggregate pass (SURVEY §2.4 A9).
    * Returns one row per column: column, n_rows, n_null, null_rate,
    * min_str, max_str, approx_distinct. */
  def columnStats(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = Seq(count(lit(1)).as("n_rows")) ++ columns.flatMap { c =>
      Seq(
        sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
        min(col(c).cast("string")).as(s"${c}__min"),
        max(col(c).cast("string")).as(s"${c}__max"),
        approx_count_distinct(col(c)).as(s"${c}__adist"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // unpivot to one row per column (stack is codegen'd; wide is 1 row)
    val stackExpr = columns.map { c =>
      s"'$c', ${c}__nulls, ${c}__min, ${c}__max, ${c}__adist"
    }.mkString(s"stack(${columns.size}, ", ", ", ") as (column, n_null, min_str, max_str, approx_distinct)")
    wide.select(col("n_rows"), expr(stackExpr))
      .select(col("column"), col("n_rows"), col("n_null"),
        (col("n_null").cast("double") / col("n_rows")).as("null_rate"),
        col("min_str"), col("max_str"), col("approx_distinct"))
  }

  /** Aggregates suitable for `Dataset.observe` — per-column null counts +
    * HLL++ distincts + row count collected DURING another action (zero extra
    * scan; SURVEY.md §4). Attach to a branch the full input flows through. */
  def statsObserveAggs(columns: Seq[String]): Seq[Column] =
    count(lit(1)).as("n_rows") +: columns.flatMap { c =>
      Seq(sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
        approx_count_distinct(col(c)).as(s"${c}__adist"))
    }

  /** Exact duplicate keys (count > 1). Spark's hash aggregate already
    * performs map-side partial aggregation; this is the unsalted path for
    * keys with bounded duplication. */
  def duplicates(df: DataFrame, key: String): DataFrame =
    df.where(col(key).isNotNull)
      .groupBy(col(key))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)

  /** Explicit two-phase salted aggregation (input partition id as salt).
    * NB: for constant-size state like count, Spark's map-side partial
    * aggregation in [[duplicates]] IS phase-1 salting already — this variant
    * spells it out and adds one exchange, and is the right shape only when
    * partial aggregation is defeated (large/non-mergeable per-key state,
    * e.g. collecting duplicate row ids). Exact same result as
    * [[duplicates]] for any input; kept for that fallback and for tests. */
  def duplicatesSalted(df: DataFrame, key: String): DataFrame =
    df.where(col(key).isNotNull)
      .groupBy(col(key), spark_partition_id().as("_salt"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(key))
      .agg(sum(col("_c")).as("cnt"))
      .where(col("cnt") > 1)

  /** Rows of `fact` whose `factKey` has no match in `dim.dimKey` — broadcast
    * hash anti-join (dim is small by construction). Null FKs are not
    * referential violations (they're NotNull's job). */
  def referentialViolations(
      fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame = {
    val d = dim.select(col(dimKey).as(factKey)).distinct()
    fact.where(col(factKey).isNotNull)
      .join(broadcast(d), Seq(factKey), "left_anti")
  }

  /** Byte-identical text invariant: inner-join on key against the expected
    * sha256 table; emit mismatching rows. `carry` columns (e.g. the partition
    * id) are preserved on the violating rows.
    *
    * The expected side is hinted SHUFFLE_HASH (guide §3.1): the planner's
    * default sort-merge join sorted BOTH 10M-row sides — two full sorts of
    * (url, 64-char sha) rows that a per-partition hash build avoids
    * (measured 10.9 → 6.9 s for this pass at 10M docs, local[8]). The build
    * side is narrow (key + 64-char hex) and bounded per partition by AQE
    * partition sizing; AQE skew-join still splits oversized partitions for
    * SHJ. */
  def textInvariantViolations(
      pages: DataFrame, key: String, textCol: String,
      expected: DataFrame, expectedHashCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    // sha via the thread-local-digest kernel: value-identical to
    // sha2(bin, 256), which pays a MessageDigest.getInstance per row
    val sha = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.sketch.Sha256Hex(org.apache.spark.sql.graft.ColumnBridge
        .expression(col(textCol).cast("binary"))))
    val keep = (col(key) +: carry.map(col)) :+ sha.as("_actual")
    val exp = expected.select(col(key), col(expectedHashCol).as("_expected"))
    pages.select(keep: _*)
      .join(exp.hint("shuffle_hash"), Seq(key))
      .where(col("_actual") =!= col("_expected"))
  }

  /** Per-partition verdicts in ONE scan of the fact table: `errorCount` (a
    * per-row expression, e.g. ConstraintCompiler.errorCount) aggregates by
    * partition, so every partition value reaches the aggregate and the
    * universe comes for free — no separate distinct-universe scan (the r3
    * shape scanned the fact table twice per verdict query). `extraCounts`
    * are per-partition (partitionCol, n_violations) frames from side passes
    * (joins, duplicate aggregates) — partition-count-sized, left-joined on
    * top. */
  def verdictsSingleScan(
      fact: DataFrame, partitionCol: String, errorCount: Column,
      extraCounts: Seq[DataFrame] = Nil): DataFrame = {
    val base = fact
      .select(col(partitionCol), errorCount.as("_nv0"))
      .groupBy(col(partitionCol))
      .agg(sum(col("_nv0")).as("_nv0"))
    val joined = extraCounts.zipWithIndex.foldLeft(base) { case (acc, (e, i)) =>
      acc.join(
        e.select(col(partitionCol), col("n_violations").as(s"_nv${i + 1}")),
        Seq(partitionCol), "left")
    }
    val total = (0 to extraCounts.size)
      .map(i => coalesce(col(s"_nv$i"), lit(0L))).reduce(_ + _)
    joined.select(col(partitionCol), total.as("n_violations"),
      (total === 0L).as("pass"))
  }

  /** Per-partition verdicts from an already-materialized violations frame:
    * every partition in `universe` gets a row; pass ⇔ zero violations
    * attributed to it (ref: per-file verdict,
    * hepdata_validator/__init__.py:124-132). Costs a universe scan on top
    * of the violations — use [[verdictsSingleScan]] when the violations
    * come from row rules over one fact table. */
  def verdicts(
      violations: DataFrame, partitionCol: String,
      universe: DataFrame): DataFrame = {
    val vc = violations
      .where(col("level") === "error")
      .groupBy(col(partitionCol))
      .agg(count(lit(1)).as("n_violations"))
    universe.select(col(partitionCol)).distinct()
      .join(vc, Seq(partitionCol), "left")
      .select(col(partitionCol),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"),
        (coalesce(col("n_violations"), lit(0L)) === 0L).as("pass"))
  }
}
