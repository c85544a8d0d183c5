package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.txt

/** SURVEY.md §2.10 text-analysis operators over the `documents` table.
  * Pure Catalyst built-ins (split/filter/transform/explode) — everything is
  * codegen-friendly and fully distributed; no UDFs, no driver-side loops.
  */
object TextOps {
  private[ops] def tokens: Column = split(col("text"), " ")

  private val stopWords = Seq("the", "a", "of", "de", "la")

  /** Word-level k-shingles (distinct), for Jaccard / MinHash. 1-based
    * element_at; guarded for texts shorter than k words.
    * The token array is bound ONCE via the single-element-array transform
    * (`transform(array(split(..)), t -> ..)`) — a naive inline `split(text)`
    * in the lambda body re-splits the text for every shingle position,
    * turning an O(len) tokenize into O(len²) per document. */
  private[graft] def shingleExpr(k: Int = 3): Column = expr(
    s"""element_at(transform(array(split(text, ' ')), t ->
       |  CASE WHEN size(t) >= $k THEN
       |    array_distinct(transform(sequence(1, size(t) - ${k - 1}),
       |      i -> concat_ws(' ', slice(t, i, $k))))
       |  ELSE array_distinct(array(text)) END), 1)""".stripMargin)

  /** [Q-text-tokens-re] BPE-ish regex tokenization: letter runs, digit runs,
    * and single non-alphanumeric marks as separate tokens (the pre-merge
    * vocabulary a byte-pair tokenizer starts from), top-50 by frequency.
    *
    * Kept as a hand form: the text's `regexp_extract_all` reads group 0 by
    * default on DuckDB and group 1 on Spark, which rejects the group-less
    * pattern. */
  def q_text_tokens_re(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(explode(expr(
        "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  /** [Q-text-langid-ngram] character-trigram language ID: score = number of
    * text trigram occurrences hitting each language's profile set (classic
    * n-gram profile matching, tiny fixed profiles).
    *
    * Occurrences are counted by substring search — length delta through
    * `replace(text, trigram, '')` over 3 — which equals the sliding-window
    * trigram count EXACTLY for these profiles: an occurrence of a 3-gram can
    * overlap itself only if it has a border (first char == last char, or all
    * chars equal), and none of the 15 profile trigrams does. This makes the
    * whole query a row-local codegen'd projection: no trigram explode, no
    * per-position lambda, NO SHUFFLE (the previous explode+groupBy shuffled
    * ~len rows per document — at 100 TB that's re-shuffling the corpus ×3).
    * The oracle keeps the position-enumeration formulation; the equality of
    * the two countings is the cross-check.
    *
    * Kept as a hand form: the text calls DuckDB's `list_filter`, which Spark
    * does not have. */
  def q_text_langid_ngram(s: SparkSession, d: String): DataFrame = {
    def occ(tri: String): Column =
      (length(col("text")) - length(replace(col("text"), lit(tri), lit("")))) / 3
    def score(profile: Seq[String]): Column =
      profile.map(occ).reduce(_ + _).cast("int")
    Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        score(Seq("the", "he ", " th", "ing", "and")).as("en_s"),
        score(Seq("de ", " la", "el ", "que", "os ")).as("es_s"),
        score(Seq("er ", "der", "ie ", "ein", "sch")).as("de_s"))
      .withColumn("pred_lang",
        when(col("es_s") > col("en_s") && col("es_s") >= col("de_s"), "es")
          .when(col("de_s") > col("en_s"), "de")
          .otherwise("en"))
  }

  /** [Q-text-redact] dictionary-based redaction: blocklist terms replaced
    * with a placeholder, per-doc hit count carried for audit — the
    * banned-term / PII-list scrubbing pass every training-data pipeline
    * runs before export. Pure regexp expressions, row-local, no shuffle.
    *
    * Kept as a hand form: Spark's SQL parser unescapes the text's `'\b'` to
    * U+0008 (backspace; `spark.sql.parser.escapedStringLiterals` is off by
    * default), so its word-boundary pattern matches nothing on Spark and
    * every n_hits reads 0. With that conf on, the text returns this form's
    * rows at sf0.001, sf0.01 and sf0.1; DuckDB reads the backslash as
    * written, so no literal spells `\b` for both engines. */
  def q_text_redact(s: SparkSession, d: String): DataFrame = {
    val re = "\\b(customer|key|vector)\\b"
    Tables(s, d, "documents").select(
      col("doc_id"),
      regexp_count(col("text"), lit(re)).cast("int").as("n_hits"),
      regexp_replace(col("text"), re, "<REDACTED>").as("redacted"))
  }

  /** [Q-text-repetition] intra-document repetition ratio: 1 − distinct /
    * total 3-gram shingles — the "repetitive text" quality filter (looping
    * generations, boilerplate padding). Row-local, no shuffle. Docs shorter
    * than one shingle score 0.
    *
    * Kept as a hand form: the text calls DuckDB's `string_split`, which Spark
    * does not have. */
  def q_text_repetition(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("doc_id"), size(tokens).as("n_tokens"),
        size(txt.shingle_hashes(col("text"), 3)).as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        when(col("n_tokens") >= 3,
          round(lit(1.0) - col("n_distinct").cast("double") / (col("n_tokens") - 2), 6))
          .otherwise(lit(0.0)).as("rep_ratio"))

  /** [Q-text-decontaminate] train/eval contamination detection: corpus docs
    * sharing any exact 8-token shingle with the eval set (here: doc_id <
    * 50 stands in for the benchmark suite), with the overlap count. The
    * join is KEYED on the 64-bit shingle hash — at 100 TB this is one
    * equi-join whose left side is the corpus shingle stream and right side
    * the (much smaller, distinct) eval shingle set; never a text scan per
    * eval doc. The decontamination pass every serious training corpus
    * runs.
    *
    * Kept as a hand form: the text calls DuckDB's `list_distinct`, which
    * Spark does not have. */
  def q_text_decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = Tables(s, d, "documents")
      .select(col("doc_id"), explode(txt.shingle_hashes(col("text"), 8)).as("g"))
    val evalSh = sh.filter(col("doc_id") < 50).select(col("g")).distinct()
    sh.filter(col("doc_id") >= 50)
      .join(evalSh.hint("merge"), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("doc_id")
  }

  /** [Q-text-decontaminate-bloom] decontamination with a BLOOM-FILTER
    * prefilter — the shape that wins when the corpus dwarfs the eval set:
    * the eval shingle set folds into one bloom filter (a few hundred KB for
    * millions of shingles), broadcast to every task; the corpus-side stream
    * drops non-members ROW-LOCALLY before the join, so the exact verify
    * join only sees the tiny might-contain survivors instead of every
    * corpus shingle. Bloom filters have NO false negatives, so the
    * prefilter is lossless, and the exact join removes false positives —
    * the result is IDENTICAL to [[q_text_decontaminate]] and shares its
    * DuckDB oracle. The bloom reaches the tasks as a SCALAR SUBQUERY
    * (executed once, its result broadcast as a literal) — the same
    * mechanism Spark's injected runtime filters use; no join carries it.
    *
    * Kept as a hand form: its oracle is q_text_decontaminate's text (the
    * bloom prefilter loses nothing), which calls DuckDB's `list_distinct`. */
  def q_text_decontaminate_bloom(s: SparkSession, d: String): DataFrame = {
    val sh = Tables(s, d, "documents")
      .select(col("doc_id"), explode(txt.shingle_hashes(col("text"), 8)).as("g"))
    val evalSh = sh.filter(col("doc_id") < 50).select(col("g")).distinct()
    val bloom = evalSh
      .agg(txt.bloom_filter_agg(col("g"), 100000L, 800000L).as("bf"))
    val pre = sh.filter(col("doc_id") >= 50)
      .filter(txt.bloom_prefilter(bloom, col("g")))
    pre.join(evalSh.hint("merge"), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("doc_id")
  }

  /** [Q-pipeline-clean] the end-to-end corpus-cleaning composite: Gopher
    * quality rules + repetition filter + exact dedup (keep min doc_id per
    * text digest), reported as per-language funnel counts — the whole
    * training-data prep pass a user of this library actually runs, as ONE
    * declared, oracle-matched query. Shape at 100 TB: all rule metrics are
    * row-local projections; the only shuffles are the digest aggregate for
    * the dedup keeper (32-byte keys) and the digest equi-join back — the
    * documents themselves are never shuffled twice.
    *
    * The filters compare UNROUNDED doubles on both sides: each ratio is the
    * same two integer-derived operands divided in IEEE double, so the Spark
    * and DuckDB decisions are bit-identical — no boundary flapping.
    *
    * Kept as a hand form: the text's `count(*) FILTER (cond)` is DuckDB
    * syntax; Spark needs `FILTER (WHERE cond)`. */
  def q_pipeline_clean(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents")
    val keeper = docs
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("keep_id"))
    val metrics = docs
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"),
        size(tokens).as("n_tokens"),
        length(col("text")).as("len"),
        length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).as("n_sym"),
        size(filter(tokens, t => stopWords.map(t === _).reduce(_ || _))).as("n_stop"),
        size(txt.shingle_hashes(col("text"), 3)).as("n_distinct"))
      .withColumn("mean_wlen",
        (col("len") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("sym_ratio", col("n_sym").cast("double") / col("len"))
      .withColumn("rep_ratio",
        when(col("n_tokens") >= 3,
          lit(1.0) - col("n_distinct").cast("double") / (col("n_tokens") - 2))
          .otherwise(lit(0.0)))
      .withColumn("rule_keep",
        col("n_tokens").between(20, 100000) &&
          col("mean_wlen").between(3.0, 10.0) &&
          col("sym_ratio") < 0.1 && col("n_stop") >= 2 &&
          col("rep_ratio") <= 0.2)
    metrics.join(keeper, "h")
      .withColumn("kept", col("rule_keep") && col("doc_id") === col("keep_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("count_if(kept)").as("n_kept"),
        coalesce(sum(when(col("kept"), col("n_tokens"))), lit(0))
          .cast("bigint").as("sum_tokens_kept"))
  }

  /** [Q-text-fingerprint] document fingerprints: xxhash64 of the full text +
    * winnowing-style min-shingle-hash. Engine-specific hash → rows-only check
    * (no DuckDB oracle). */
  def q_text_fingerprint(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("doc_id"),
        xxhash64(col("text")).as("fp"),
        array_min(txt.shingle_hashes(col("text"), 3)).as("min_shingle_fp"),
        crc32(col("text")).as("crc"))
}
