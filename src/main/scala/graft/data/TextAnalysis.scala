package graft.data

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines over the
  * `documents` table: language ID, quality scoring, token counting,
  * document fingerprinting. All pure column expressions — codegen'd,
  * partition-parallel, no UDFs, no shuffles except the final aggregates.
  */
object TextAnalysis {

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    graft.io.Parquet.read(spark, s"$sfDir/documents.parquet")

  // -------------------------------------------------------------------
  // Token counting: whitespace tokens + a BPE-ish subword regex count
  // -------------------------------------------------------------------
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
      // BPE-ish: word pieces = runs of letters, digits, or single punct
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .as("n_bpeish_tokens"),
      length(col("text")).as("n_chars_actual"))

  // -------------------------------------------------------------------
  // Quality scoring: length / punctuation / stopword / uppercase signals
  // -------------------------------------------------------------------
  def qualityScore(docs: DataFrame): DataFrame = {
    val nTokens = size(split(trim(col("text")), "\\s+"))
    val nPunct = size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
    val nStop = size(regexp_extract_all(col("text"),
      lit("\\b(the|a|of|and|to|in|is)\\b"), lit(0)))
    val nUpper = size(regexp_extract_all(col("text"), lit("[A-Z]"), lit(0)))
    docs.select(
      col("doc_id"),
      nTokens.as("n_tokens"), nPunct.as("n_punct"),
      nStop.as("n_stopwords"), nUpper.as("n_upper"),
      // integer ratios scaled by 1000 → no float-compare hazards
      (nPunct * 1000 / greatest(nTokens, lit(1))).cast("int").as("punct_per_1k_tokens"),
      (nStop * 1000 / greatest(nTokens, lit(1))).cast("int").as("stop_per_1k_tokens"),
      (nTokens >= 5 && nTokens <= 100000 && nStop >= 1).as("is_quality"))
  }

  // -------------------------------------------------------------------
  // Language ID: n-gram / marker-word heuristic, deterministic argmax
  // -------------------------------------------------------------------
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|and|to)\\b",
    "es" -> "\\b(el|la|de|los|las)\\b",
    "de" -> "\\b(der|die|und|das|ein)\\b",
    "fr" -> "\\b(le|les|et|une|des)\\b")

  def langId(docs: DataFrame): DataFrame = {
    val scores = LangMarkers.map { case (lang, pat) =>
      lang -> size(regexp_extract_all(col("text"), lit(pat), lit(0)))
    }
    val Seq(en, es, de, fr) = scores.map(_._2)
    val predicted = when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
    docs.select(col("doc_id"), col("lang").as("labeled_lang"),
      en.as("score_en"), es.as("score_es"), de.as("score_de"), fr.as("score_fr"),
      predicted.as("predicted_lang"))
  }

  // -------------------------------------------------------------------
  // Document fingerprint: word-level polynomial rolling hash (mod prime)
  // -------------------------------------------------------------------
  /** acc ← (acc*31 + len(w)*17 + codepoint(w[0])) mod 1e9+7 over the word
    * sequence — order-sensitive, so re-ordered near-dups get different
    * prints while exact dups collide. Pure `aggregate` HOF, codegen'd.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val fp = aggregate(words, lit(0L),
      (acc, w) => pmod(acc * 31 + length(w) * 17 + ascii(w), lit(1000000007L)))
    docs.select(col("doc_id"), fp.as("fingerprint"))
  }

  // -------------------------------------------------------------------
  // Deterministic train/val/test splits: salted-hash bucketing
  // -------------------------------------------------------------------
  /** Split assignment for training corpora. Each doc's split is a pure
    * function of (doc_id, salt): bucket = portable-md5-hash(doc_id‖salt)
    * mod 1000, split = first weight range the bucket falls in. Properties
    * a per-row hash gives that `sample()`/RNG approaches do not:
    *  - STABLE under corpus growth/reorder — a doc's split never depends
    *    on other rows, so incremental corpus refreshes don't churn splits
    *    (critical at 100 TB: re-splitting means re-materializing all three
    *    outputs and invalidating downstream caches);
    *  - reproducible in any engine with md5 (exact DuckDB oracle);
    *  - changing the salt re-rolls every assignment in lockstep.
    * Narrow map-only plan: no shuffle, no state, codegen'd.
    *
    * `weights` are per-mille (must sum to 1000): default 800/100/100.
    */
  def assignSplits(docs: DataFrame,
                   weights: Seq[(String, Int)] =
                     Seq("train" -> 800, "val" -> 100, "test" -> 100),
                   salt: String = "graft-split-v1"): DataFrame = {
    require(weights.map(_._2).sum == 1000, "split weights must sum to 1000")
    val bucket = Dedup.md5Hash64(concat(col("doc_id").cast("string"), lit(salt))) % 1000
    val cuts = weights.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val split = weights.zip(cuts).foldLeft(lit(null).cast("string")) {
      case (acc, ((name, _), hi)) => coalesce(acc, when(bucket < hi, name))
    }
    docs.select(col("doc_id"), col("lang"), bucket.as("bucket"), split.as("split"))
  }

  /** DuckDB mirror of [[assignSplits]] — the oracle for `q_doc_splits`. */
  def assignSplitsOracleSql(weights: Seq[(String, Int)] =
                              Seq("train" -> 800, "val" -> 100, "test" -> 100),
                            salt: String = "graft-split-v1"): String = {
    // SQL string-literal escape: a quote in the salt/name must not break
    // (or worse, rewrite) the generated oracle
    def q(s: String): String = s.replace("'", "''")
    val bucket = Dedup.md5Hash64Sql(s"CAST(doc_id AS VARCHAR) || '${q(salt)}'") + " % 1000"
    val cuts = weights.scanLeft(0)(_ + _._2).tail
    val cases = weights.zip(cuts)
      .map { case ((name, _), hi) => s"WHEN bucket < $hi THEN '${q(name)}'" }
      .mkString(" ")
    s"""SELECT doc_id, lang, bucket, CASE $cases END AS split
       FROM (SELECT doc_id, lang, $bucket AS bucket FROM documents)"""
  }
}
