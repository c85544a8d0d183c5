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

  /** How many tokens of `split(text, ' ')` are one of `words`, as an int:
    * the count `size(filter(split(text, ' '), x -> x = w1 OR …))` gives,
    * summed from [[txt.term_counts]] with no token array or lambda. */
  private def wordCount(words: String*): Column = {
    val counts = txt.term_counts(col("text"), words)
    words.indices.map(counts.getItem(_)).reduce(_ + _).cast("int")
  }
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

  /** [Q-text-quality] per-doc quality metrics: token count, avg token length,
    * stopword ratio, composite score. Integer-derived doubles → exact.
    *
    * Kept as a hand form: the text calls DuckDB's `string_split`, which Spark
    * does not have. */
  def q_text_quality(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        size(tokens).as("n_tokens"),
        length(col("text")).as("len"),
        wordCount("the", "a").as("n_stop"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("len"),
        ((col("len") - (col("n_tokens") - lit(1))).cast("double") / col("n_tokens"))
          .as("avg_token_len"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"))
      .withColumn("quality",
        least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)) * lit(0.7) +
          (lit(1.0) - col("stop_ratio")) * lit(0.3))

  /** [Q-text-langid] marker-token language ID (n-gram-heuristic stand-in):
    * counts membership of per-language marker words, argmax with fixed
    * priority. Deterministic and SQL-expressible for the oracle.
    *
    * Kept as a hand form: the text calls DuckDB's `list_filter`, which Spark
    * does not have. */
  def q_text_langid(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        wordCount("the", "a", "of").as("en_n"),
        wordCount("el", "la", "de").as("es_n"),
        wordCount("der", "die", "das").as("de_n"))
      .withColumn("pred_lang",
        when(col("es_n") > col("en_n") && col("es_n") >= col("de_n"), "es")
          .when(col("de_n") > col("en_n"), "de")
          .otherwise("en"))

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
    * Kept as a hand form: the text takes DuckDB's `len` of an array; Spark's
    * `len` takes a string. */
  def q_text_redact(s: SparkSession, d: String): DataFrame = {
    val re = "\\b(customer|key|vector)\\b"
    Tables(s, d, "documents").select(
      col("doc_id"),
      regexp_count(col("text"), lit(re)).cast("int").as("n_hits"),
      regexp_replace(col("text"), re, "<REDACTED>").as("redacted"))
  }

  /** [Q-text-stats] per-language corpus statistics: doc counts, token
    * budget (sum), exact token-count percentiles, average byte length — the
    * reporting pass that sizes a training mix. ONE keyed aggregate with
    * map-side partials; percentiles are Spark's exact interpolated
    * `percentile`, which is DuckDB's `quantile_cont`.
    *
    * Kept as a hand form: the text calls DuckDB's `string_split`, which Spark
    * does not have. */
  def q_text_stats(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("lang"), size(tokens).as("nt"), length(col("text")).as("len"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).cast("bigint").as("sum_tokens"),
        expr("percentile(nt, 0.5)").as("p50_tokens"),
        expr("percentile(nt, 0.9)").as("p90_tokens"),
        (sum(col("len")).cast("double") / count(lit(1))).as("avg_len"))

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

  /** [Q-text-gopher] Gopher-style document quality rules: token-count
    * bounds, mean-word-length bounds, symbol ratio, minimum stopword
    * evidence — each rule emitted as a measure plus the composite keep
    * flag. Row-local, no shuffle; the shape of every rule-based corpus
    * filter pass.
    *
    * Kept as a hand form: the text calls DuckDB's `string_split`, which Spark
    * does not have. */
  def q_text_gopher(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("doc_id"),
        size(tokens).as("n_tokens"),
        length(col("text")).as("len"),
        length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).as("n_sym"),
        wordCount(stopWords: _*).as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        ((col("len") - (col("n_tokens") - 1)).cast("double") / col("n_tokens")).as("mean_wlen"),
        (col("n_sym").cast("double") / col("len")).as("sym_ratio"),
        col("n_stop"))
      .withColumn("keep",
        col("n_tokens").between(20, 100000) &&
          col("mean_wlen").between(3.0, 10.0) &&
          col("sym_ratio") < 0.1 && col("n_stop") >= 2)

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

  /** [Q-pack] sequence-packing assignment: documents pack into fixed
    * token-budget training sequences (budget 2048) by running token count.
    * Packing is per SHARD (doc_id mod 8): a single global running sum would
    * be one-partition sequential — the scale-killer — while sharded packing
    * runs one keyed window per shard and wastes at most one partial bin per
    * shard. This emits the assignment (shard, bin, offset); the actual
    * concat/pad step is the writer's job.
    *
    * Kept as a hand form: the text calls DuckDB's `string_split`, which Spark
    * does not have. */
  def q_pack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2048
    Tables(s, d, "documents")
      .select(col("doc_id"), size(tokens).as("n_tokens"),
        pmod(col("doc_id"), lit(8)).as("shard"))
      .withColumn("cum", sum(col("n_tokens"))
        .over(Window.partitionBy("shard").orderBy("doc_id")))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        // explicit floor: DuckDB CAST(double AS INT) rounds-to-nearest
        // while Spark truncates — floor() first makes both exact
        floor((col("cum") - col("n_tokens")) / budget).cast("int").as("bin"),
        pmod(col("cum") - col("n_tokens"), lit(budget)).cast("int").as("bin_offset"))
  }

  /** [Q-text-editdist] Levenshtein fuzzy-duplicate verification over a
    * candidate pair set — the character-level confirm step after a cheap
    * blocking stage (here: the first 30 doc ids as a deterministic block;
    * in production the candidates come from LSH/shingle blocking, never
    * all-pairs). Edit distance is O(len²) per pair, which is exactly why
    * it only ever runs on blocked candidates. Emits a similarity ratio
    * 1 - dist/maxlen on a total order.
    *
    * Kept as a hand form: the text gives the same result on Spark, but the
    * LLM-pipeline forms have not been through the paired timing yet. */
  def q_text_editdist(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents")
      .filter(col("doc_id") < 30).select(col("doc_id"), col("text"))
    docs.select(col("doc_id").as("a_id"), col("text").as("ta"))
      .join(docs.select(col("doc_id").as("b_id"), col("text").as("tb")),
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("ta"), col("tb")).as("dist"),
        round(lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
          greatest(length(col("ta")), length(col("tb"))), 6).as("sim_r"))
      .orderBy(col("a_id"), col("b_id"))
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
        wordCount(stopWords: _*).as("n_stop"),
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
