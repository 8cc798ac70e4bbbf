package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword n-gram heuristic), quality scoring, token counting (whitespace
  * and a BPE-ish regex), and document fingerprinting (rolling hash +
  * normalized content hash). All single-scan column expressions.
  */
object TextOps {

  /** Tiny per-language function-word lists for the heuristic language ID.
    * Deterministic, embedded; at scale this would be a broadcast dimension. */
  val StopwordSets: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "une", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "por", "para", "una", "con"))

  /** Extended language dimension for the at-scale path — same shape as
    * [[StopwordSets]], more languages; at 100 TB this table comes from a
    * catalog and is broadcast into the one-pass scorer. */
  val ExtendedStopwordSets: Map[String, Seq[String]] = StopwordSets ++ Map(
    "it" -> Seq("il", "la", "di", "e", "che", "non", "per", "una", "con", "sono"),
    "pt" -> Seq("o", "a", "de", "e", "que", "não", "para", "uma", "com", "os"),
    "nl" -> Seq("de", "het", "een", "en", "van", "is", "niet", "met", "voor", "dat"),
    "pl" -> Seq("i", "w", "nie", "na", "się", "jest", "z", "do", "to", "że"))

  private def toks(textCol: Column): Column = split(lower(textCol), "\\s+")

  /** Per-language stopword-hit scores + argmax prediction.
    * Adds score_<lang> columns and `lang_pred` (tie-break: lexicographic).
    * Computed through the one-pass codegen'd sketch.LangScores kernel (the
    * per-language `filter(t, isin(...))` spelling — kept below as
    * [[languageIdSpec]] — paid one interpreted CodegenFallback token pass
    * per language); identical output, asserted by OpsSpec's "kernel
    * equivalence" tests. */
  def languageId(df: DataFrame, textCol: String): DataFrame =
    languageIdDim(df, textCol, StopwordSets)

  /** Pure-Column spec of [[languageId]] — one interpreted filter pass per
    * language; kept as the readable reference the kernel path is tested
    * against. */
  def languageIdSpec(df: DataFrame, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    val scored = StopwordSets.toSeq.sortBy(_._1).foldLeft(df) { case (d, (lang, words)) =>
      d.withColumn(s"score_$lang",
        size(filter(t, x => x.isin(words.map(lit): _*))).cast("long"))
    }
    val langs = StopwordSets.keys.toSeq.sorted
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    scored.withColumn("lang_pred",
      when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und")))
  }

  /** Language ID over an arbitrary word→language dimension in ONE token
    * pass (the scale path for [[languageId]]): the dimension is broadcast
    * inside the codegen'd sketch.LangScores expression, so cost is
    * O(tokens) hash lookups regardless of language count — the pure-Column
    * spelling pays one interpreted filter pass per language. A word owned
    * by several languages scores all of them. Adds score_<lang> columns and
    * `lang_pred` (ties: lexicographically smallest language; all-zero:
    * 'und'). */
  def languageIdDim(df: DataFrame, textCol: String,
      dim: Map[String, Seq[String]] = ExtendedStopwordSets): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val langs = dim.keys.toSeq.sorted
    val scores = ColumnBridge.column(graft.sketch.LangScores(
      ColumnBridge.expression(toks(col(textCol))), langs.map(dim)))
    // argmax via the native LangPred kernel: the Column when(struct)-reduce
    // chain (kept in [[languageIdDimSpec]]) is expanded by
    // SimplifyExtractValueOps into O(2^|langs|) duplicated CASE WHENs —
    // 255 of them / a 27 KB plan at 9 languages (lang_id_dim 0.88 s; the
    // 4-language chain costs 15). Bit-identical: strict-greater argmax,
    // ties to the first (sorted) language, 'und' on all-zero or null.
    df.withColumn("_scores", scores)
      .select((df.columns.map(col) ++ langs.zipWithIndex.map { case (l, i) =>
        element_at(col("_scores"), i + 1).as(s"score_$l")
      }) :+ ColumnBridge.column(graft.sketch.LangPred(
        ColumnBridge.expression(col("_scores")), langs)).as("lang_pred"): _*)
  }

  /** Pure-Column argmax spec of [[languageIdDim]]'s prediction — kept for
    * the differential test only. */
  private[graft] def languageIdDimSpec(df: DataFrame, textCol: String,
      dim: Map[String, Seq[String]] = ExtendedStopwordSets): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val langs = dim.keys.toSeq.sorted
    val scores = ColumnBridge.column(graft.sketch.LangScores(
      ColumnBridge.expression(toks(col(textCol))), langs.map(dim)))
    val withScores = df.withColumn("_scores", scores)
      .select((df.columns.map(col) ++ langs.zipWithIndex.map { case (l, i) =>
        element_at(col("_scores"), i + 1).as(s"score_$l")
      }): _*)
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    withScores.withColumn("lang_pred",
      when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und")))
  }

  /** Quality signals: token count, mean token length, stopword ratio,
    * punctuation ratio, digit ratio, uppercase ratio, repetition (distinct
    * token ratio) — the usual pre-training filters. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    val t = toks(c)
    val nTok = size(t).cast("double")
    val en = StopwordSets("en")
    df.withColumn("n_tokens", size(t).cast("long"))
      .withColumn("mean_token_len",
        (length(regexp_replace(c, "\\s+", "")).cast("double") / nTok))
      .withColumn("stopword_ratio",
        size(filter(t, x => x.isin(en.map(lit): _*))).cast("double") / nTok)
      .withColumn("punct_ratio",
        (length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))).cast("double")
          / greatest(length(c).cast("double"), lit(1.0)))
      .withColumn("digit_ratio",
        (length(c) - length(regexp_replace(c, "[0-9]", ""))).cast("double")
          / greatest(length(c).cast("double"), lit(1.0)))
      .withColumn("distinct_token_ratio",
        size(array_distinct(t)).cast("double") / nTok)
      .withColumn("quality_pass",
        col("n_tokens") >= 5 && col("mean_token_len").between(2.0, 12.0) &&
          col("distinct_token_ratio") >= 0.3)
  }

  /** Token counts: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation — a cheap proxy for
    * subword tokenizers' pre-tokenization). Counted by the one-pass
    * codegen'd kernels (sketch.WsTokenCount / BpeishTokenCount): the
    * split + regexp_extract_all spelling (kept as [[tokenCountsSpec]])
    * MATERIALIZED every token / match string per row only to take the
    * array's size. */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    df.withColumn("ws_tokens", ColumnBridge.column(
        graft.sketch.WsTokenCount(ColumnBridge.expression(col(textCol)))))
      .withColumn("bpeish_tokens", ColumnBridge.column(
        graft.sketch.BpeishTokenCount(ColumnBridge.expression(col(textCol)))))
  }

  /** Pure-Column spec of [[tokenCounts]] — differential-test reference. */
  private[graft] def tokenCountsSpec(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(split(col(textCol), "\\s+")).cast("long"))
      .withColumn("bpeish_tokens",
        size(regexp_extract_all(col(textCol),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long"))

  /** Rolling hash over tokens (order-sensitive fingerprint; xxhash64
    * chaining — overflow-free under ANSI mode) plus a normalized content
    * hash (md5 of lowercased, space-collapsed text) via the one-pass
    * sketch.NormalizedMd5 kernel ([[fingerprintSpec]] is the Column
    * reference: lower + trim + a regex replace that materialized the
    * whole normalized string per row). */
  def fingerprint(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val t = toks(col(textCol))
    df.withColumn("rolling_hash",
        aggregate(t, lit(1125899906842597L),
          (acc, x) => xxhash64(acc, x)))
      .withColumn("content_md5", ColumnBridge.column(
        graft.sketch.NormalizedMd5(ColumnBridge.expression(col(textCol)))))
  }

  /** Pure-Column spec of [[fingerprint]] — differential-test reference. */
  private[graft] def fingerprintSpec(df: DataFrame, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    df.withColumn("rolling_hash",
        aggregate(t, lit(1125899906842597L),
          (acc, x) => xxhash64(acc, x)))
      .withColumn("content_md5",
        md5(regexp_replace(trim(lower(col(textCol))), "\\s+", " ").cast("binary")))
  }
}
