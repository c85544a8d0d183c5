package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.vec

/** SURVEY.md §2.10 similarity search over `embeddings` (array<float>, dim 64).
  *
  * All vector math is higher-order Catalyst expressions (zip_with + aggregate)
  * — codegen'd, no UDF, no collect. Floats are cast to double element-wise so
  * the arithmetic matches the DuckDB oracle bit-for-bit (modulo the final
  * rounding, applied identically on both sides).
  *
  * Scale paths (both keyed equi-joins — shuffle ∝ bucket collisions, never n²):
  *  - `lshNeighbors`: random-hyperplane LSH, 8 bands × 16 bits → 65,536
  *    buckets per band. Right tool for the NEAR-DUP regime (cos ≳ 0.9, where
  *    per-band match probability (1-θ/π)^16 is useful). For moderate-similarity
  *    top-k (cos ~0.3-0.5, typical of real ANN queries) wide-band LSH has
  *    near-zero recall by construction — use IVF below.
  *  - `ivfNeighbors`: inverted-file ANN — deterministic coarse centroids,
  *    every vector assigned to its nearest cell (argmax computed with map-side
  *    partial aggregation: the n×C scored rows combine to n rows BEFORE any
  *    shuffle), anchors probe their top-P cells, exact re-rank inside probed
  *    cells. Cost O(n·C) flops + keyed joins; C ≈ √n at scale.
  */
object Similarity {

  /** cosine(a, b) in double precision — the native VectorDot expression
    * (graft.functions.VectorDot): a tight codegen'd loop with the identical
    * left-to-right fold as the `aggregate(zip_with(...))` HOF form, so
    * results stay bit-identical to the DuckDB oracle while skipping ~200
    * interpreted lambda evals per pair. */
  def cosine(a: String, b: String): Column = vec.cosine_sim(col(a), col(b))

  private def anchors(emb: DataFrame, pred: Column): DataFrame =
    emb.filter(pred).select(col("vec_id").as("a_id"), col("embedding").as("va"))

  /** [Q-sim-topk] brute-force exact top-10 cosine neighbors of anchor vectors
    * (vec_id < 5). Broadcast the tiny anchor set against the full table; the
    * per-anchor top-k is a window on the anchor partition.
    *
    * Kept as a hand form: the text calls DuckDB's `list_sum`, which Spark
    * does not have. */
  def q_sim_topk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables(s, d, "embeddings")
    val scored = emb.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
      .join(broadcast(anchors(emb, col("vec_id") < 5)), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), cosine("va", "vb").as("cos"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))))
      .filter(col("rn") <= 10)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos_r"), col("rn"))
  }

  /** [Q-dedup-embed] embedding-cosine near-duplicate pairs: every pair with
    * rounded cosine ≥ threshold. EXACT all-pairs — this is the ORACLE BASELINE
    * and is fenced to oracle scale factors only (O(n²) pair space by
    * construction; it exists so the approximate paths have a ground truth
    * to be measured against). The production path at scale is `lshNeighbors`
    * (near-dup regime) / `ivfNeighbors` (moderate similarity) — see the
    * recall tests in SimilaritySpec.
    *
    * Even a fenced baseline shouldn't waste the quadratic work it does do:
    * each side pre-casts to double and precomputes its L2 norm ONCE PER
    * VECTOR (the naive cosine-per-pair recomputes both norms per pair — 3×
    * the flops), and the stream side is repartitioned so the nested-loop
    * pair space spreads across all cores instead of inheriting the single
    * partition of one small parquet file. Same fold order as `cosine`, so
    * results are bit-identical. Threshold compares the ROUNDED value so both
    * engines make the identical cut.
    *
    * r12 flagged this query as a ~4-6× regression (r11 0.53 s → 2.11 s
    * builder / 3.31 s driver at sf0.1). The committed r13 A/B closes it:
    * same code, same fixtures — in-suite (graft.Bench, 239 queries, one
    * JVM) 0.63 s median [0.57, 0.94]; isolated (TimeQuery of commit
    * 6115878, now `Diag stats`; 7 reps) warm
    * median 0.84 s after a 6.7 s first-run codegen cold. Neither context
    * reproduces the r12 number, so it was transient host state in BOTH r12
    * measurement windows — not suite-position GC, not a plan change —
    * exactly the failure mode the bench's contention_index (r13) now
    * makes visible inside the record itself.
    *
    * Kept as a hand form: the text calls DuckDB's `list_sum`, which Spark
    * does not have. */
  def q_dedup_embed(s: SparkSession, d: String): DataFrame =
    // r18: the fence's row count comes from parquet footers (driver-side
    // metadata, no Spark job) — one fewer job per run, same exact guard
    embedDupPairs(Tables(s, d, "embeddings"), 0.4,
      knownRows = Some(Tables.footerRowCount(s, d, "embeddings")))

  /** Hard fence for the all-pairs baseline: above this the guard throws
    * rather than letting an oracle tool silently run a quadratic plan on
    * production-sized input (10⁵ rows ≈ 5·10⁹ pairs is already an hour-class
    * job; 10⁹ rows would be 10¹⁸ pairs). */
  val embedBaselineMaxRows: Long = 100000L

  /** The all-pairs baseline behind [[q_dedup_embed]], with the row-count
    * guard explicit. Callers that know the table directory pass
    * `knownRows` (Tables.footerRowCount — driver-side metadata, zero
    * Spark jobs); the `emb.count()` fallback covers ad-hoc frames and
    * costs one empty-schema scan job. */
  def embedDupPairs(emb: DataFrame, threshold: Double,
                    maxRows: Long = embedBaselineMaxRows,
                    knownRows: Option[Long] = None): DataFrame = {
    val n = knownRows.getOrElse(emb.count())
    require(n <= maxRows,
      s"q_dedup_embed is the fenced O(n²) oracle baseline; input has $n rows " +
        s"(max $maxRows). Use lshNeighbors/ivfNeighbors at scale.")
    val p = emb.sparkSession.sparkContext.defaultParallelism
    def side(tag: String) = emb
      .select(col("vec_id").as(s"${tag}_id"), col("embedding").as(s"v$tag"),
        sqrt(vec.vector_dot(col("embedding"), col("embedding"))).as(s"n$tag"))
    side("a").repartition(p)
      .join(broadcast(side("b")), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(vec.vector_dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos_r"))
      .filter(col("cos_r") >= threshold)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Per-band random-hyperplane bucket ids: `bands` buckets, each built from
    * `bitsPerBand` sign bits — the native LshSignature expression
    * (graft.functions.LshSignature): hyperplane coefficients derived on the
    * fly from splitmix64(plane, dim), no materialized plane matrix, tight
    * codegen'd loops (the HOF formulation this replaces paid bands × bits ×
    * dim interpreted lambda evals per row). Returns array<bigint> of length
    * `bands`; each bucket is a value in [0, 2^bitsPerBand). */
  def lshBuckets(embCol: String, bands: Int = 8, bitsPerBand: Int = 16): Column =
    vec.lsh_signature(col(embCol), bands, bitsPerBand)

  /** (vec_id, embedding, band, bucket) — one row per band. The (band, bucket)
    * pair is the LSH join key: 65,536 buckets per band at the default 16 bits,
    * so bucket occupancy is n/65,536 per band (vs n/16 with 4-bit buckets —
    * the round-1 scale-killer this replaces). */
  private def banded(emb: DataFrame, bands: Int, bitsPerBand: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        posexplode(lshBuckets("embedding", bands, bitsPerBand)).as(Seq("band", "bucket")))

  /** ANN candidates via LSH banding + exact cosine re-rank of collisions.
    * OR-amplification across bands: a pair is a candidate if ANY band agrees
    * on all 16 bits. Per-band match probability (1-θ/π)^16 — effective for
    * near-duplicates; see class doc for the moderate-similarity caveat. */
  def lshNeighbors(emb: DataFrame, anchorPred: Column, k: Int = 10,
                   bands: Int = 8, bitsPerBand: Int = 16): DataFrame = {
    val sig = banded(emb, bands, bitsPerBand)
    val a = sig.filter(anchorPred)
      .select(col("vec_id").as("a_id"), col("embedding").as("va"), col("band"), col("bucket"))
    val cand = sig.select(col("vec_id").as("b_id"), col("embedding").as("vb"),
        col("band"), col("bucket"))
      .join(a, Seq("band", "bucket")).filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("va"), col("vb")).distinct()
    cand.select(col("a_id"), col("b_id"), cosine("va", "vb").as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos_r"), col("rn"))
  }

  /** The persisted half of the incremental ANN serving shape: band the
    * corpus ONCE into `(vec_id, band, bucket)` — a map-only projection whose
    * output is what a deployment writes as the index parquet (alongside the
    * raw `(vec_id, embedding)` table it already has). [[lshIncremental]]
    * consumes both. */
  def lshIndex(emb: DataFrame, bands: Int = 8, bitsPerBand: Int = 16): DataFrame =
    emb.select(col("vec_id"),
      posexplode(lshBuckets("embedding", bands, bitsPerBand)).as(Seq("band", "bucket")))

  /** Incremental ANN: a QUERY batch against a persisted index — the serving
    * analogue of [[graft.ops.Dedup.minhashIncremental]]. The history is
    * banded once ([[lshIndex]]) and never re-signed or re-shuffled per
    * batch: the batch's signatures are a row-local projection, candidates
    * come from the (band, bucket) equi-join against the index (AQE
    * broadcasts the batch side when it is small — the daily-serving case),
    * and the exact-cosine re-rank touches only colliding pairs. The
    * history-embedding attach is a keyed join in which the candidate side
    * is ≤ |batch|·occupancy rows — AQE broadcasts it, so the corpus-sized
    * vector table streams map-side.
    *
    * @param histIndex   persisted `(vec_id, band, bucket)` from [[lshIndex]]
    *                    (same bands/bitsPerBand as passed here)
    * @param histVectors persisted `(vec_id, embedding)` — the corpus itself
    * @return (q_id, hist_id, cos_r, rn) — top-`k` history neighbors per
    *         query vector among LSH collisions
    */
  def lshIncremental(queries: DataFrame, histIndex: DataFrame,
                     histVectors: DataFrame, k: Int = 10,
                     bands: Int = 8, bitsPerBand: Int = 16): DataFrame = {
    val qSig = queries.select(col("vec_id").as("q_id"),
      posexplode(lshBuckets("embedding", bands, bitsPerBand)).as(Seq("band", "bucket")))
    val cand = histIndex
      .join(qSig, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("hist_id"))
      .distinct()
    cand
      .join(histVectors.select(col("vec_id").as("hist_id"),
        col("embedding").as("vh")), "hist_id")
      .join(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("vq")), "q_id")
      .select(col("q_id"), col("hist_id"), cosine("vq", "vh").as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("hist_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("hist_id"), round(col("cos"), 6).as("cos_r"), col("rn"))
  }

  /** [Q-sim-lsh-inc] the incremental serving shape over the gate fixture:
    * odd vec_ids arrive as the query batch, even vec_ids are the persisted
    * history (index + vectors derived in-query — at deployment both are
    * parquet). Fixture-occupancy band knobs like [[q_sim_lsh]]. Rows-only
    * at the gate (engine-specific hashes); SimilaritySpec pins planted
    * top-1 recall and the partition-invariance of the index. */
  def q_sim_lsh_inc(s: SparkSession, d: String): DataFrame = {
    val emb = Tables(s, d, "embeddings")
    val hist = emb.filter(col("vec_id") % 2 === 0)
    val queries = emb.filter(col("vec_id") % 2 === 1)
    lshIncremental(queries, lshIndex(hist, bands = 32, bitsPerBand = 8),
        hist.select("vec_id", "embedding"), k = 5,
        bands = 32, bitsPerBand = 8)
      .orderBy(col("q_id"), col("rn"))
  }

  /** [Q-sim-lsh] LSH-bucketed ANN of the anchor set (rows-only check;
    * bucketing correctness + planted-duplicate recall asserted in tests).
    * Band knobs are occupancy-tuned to the data, as LSH always is: at n=500
    * (sf0.01) 8-bit buckets give occupancy n/256 ≈ 2 and measurable recall in
    * the fixture's moderate-similarity regime; at n=10^9 the production
    * default (16-bit bands, occupancy n/65,536) is the right operating point
    * and is what the planted-duplicate test exercises. */
  def q_sim_lsh(s: SparkSession, d: String): DataFrame =
    lshNeighbors(Tables(s, d, "embeddings"), col("vec_id") < 5,
      bands = 32, bitsPerBand = 8)

  /** IVF (inverted-file) ANN.
    *
    * Index build: `numCells` coarse centroids chosen deterministically —
    * farthest-first traversal over the 8·C vectors with the smallest
    * `xxhash64(vec_id)` (a uniform sample of ANY corpus regardless of id
    * assignment, then spatially spread; a k-means refinement drops in
    * behind the same contract). Every
    * vector scores against the broadcast centroid set and keeps its argmax
    * cell: the n×C scored rows are reduced to n by map-side partial
    * aggregation (max over a (cos, cell) struct), so the only shuffle is n
    * rows keyed by vec_id.
    *
    * Query: each anchor probes its `probes` nearest cells, candidates come
    * from an EQUI-join on the cell id, exact cosine re-ranks them. Recall is
    * tunable via probes/numCells (recall vs brute force asserted in tests). */
  /** Lloyd (k-means) refinement of the deterministic seed centroids:
    * `iters` rounds of assign-to-nearest (broadcast centroids, map-side
    * argmax — n×C reduces to n before any shuffle) + element-wise mean per
    * cell (dim avg-aggregates in ONE keyed shuffle with map-side partials).
    * Means run in EXACT DECIMAL: double sums are order-dependent, and a
    * partitioning-dependent centroid would make every downstream ANN result
    * flap run-to-run. Cells that lose all members drop out (standard Lloyd
    * behavior; probing handles a shrunken cell count). */
  /** Greedy max-min (farthest-first) selection of `k` seed ids from a
    * candidate pool, by cosine distance. Deterministic: starts from the
    * pool's first row (= smallest hash rank, TakeOrdered preserves the
    * sort) and breaks distance ties on vec_id. O(k·|pool|·dim) driver
    * flops on a ≤ 8·C pool — microseconds-class. Zero-norm vectors sit at
    * distance 1 from everything (cos treated as 0). */
  private def farthestFirst(pool: Array[(Long, Array[Double])], k: Int): Seq[Long] = {
    if (pool.isEmpty) return Seq.empty
    val norms = pool.map { case (_, v) => math.sqrt(v.map(x => x * x).sum) }
    def cos(i: Int, j: Int): Double = {
      if (norms(i) == 0d || norms(j) == 0d) return 0d
      val (a, b) = (pool(i)._2, pool(j)._2)
      var s = 0d; var t = 0
      while (t < math.min(a.length, b.length)) { s += a(t) * b(t); t += 1 }
      s / (norms(i) * norms(j))
    }
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    val taken = new Array[Boolean](pool.length)
    taken(0) = true
    // min distance from each candidate to the chosen set so far
    val minDist = Array.tabulate(pool.length)(i => 1d - cos(i, 0))
    while (chosen.size < math.min(k, pool.length)) {
      var best = -1
      for (i <- pool.indices if !taken(i))
        if (best < 0 || minDist(i) > minDist(best) ||
            (minDist(i) == minDist(best) && pool(i)._1 < pool(best)._1))
          best = i
      chosen += best
      taken(best) = true
      for (i <- pool.indices) minDist(i) = math.min(minDist(i), 1d - cos(i, best))
    }
    chosen.map(pool(_)._1).toSeq
  }

  def kmeansCentroids(emb: DataFrame, numCells: Int = 16, iters: Int = 1,
                      dim: Int = 0): DataFrame = {
    // dim <= 0 → derive from the data (one row's array length; a 64-dim
    // hardcode silently truncated/null-padded refined centroids for any
    // other corpus, and VectorDot's length-mismatch→null contract then
    // nulled every cosine downstream). One cheap 1-row job, index build only.
    val d = if (dim > 0) dim else {
      require(iters >= 0, "iters must be >= 0")
      val head = emb.select(size(col("embedding")).as("d")).head()
      require(!head.isNullAt(0) && head.getInt(0) > 0,
        "kmeansCentroids: cannot derive embedding dim (null/empty first vector); pass dim explicitly")
      head.getInt(0)
    }
    // Seed = farthest-first traversal over a HASH-SAMPLED candidate pool
    // (the k-means|| shape: oversample distributed, finalize driver-side —
    // Bahmani et al., and what Spark MLlib's KMeans does with its own
    // oversampled candidate set). Two properties the r16 seed (`vec_id <
    // numCells`) lacked:
    //  - corpus-order-agnostic: the pool is the 8·C smallest xxhash64
    //    (vec_id) rows — a uniform deterministic sample however ids were
    //    assigned (on a crawl/sort-ordered corpus the first C ids are ONE
    //    region of the space; SimilaritySpec pins recall on an
    //    adversarially re-ID'd replica);
    //  - spatially spread: greedy max-min (2-approx k-center) over the
    //    pool, so centroids cover the space instead of landing where the
    //    sample got lucky.
    // Plan shape: orderBy+limit compiles to TakeOrderedAndProject (per-
    // partition top-8C, C ≤ ~1.4k — never a global sort shuffle); the
    // driver-side pool is ≤ 8·C rows (bounded, index-build-only — the same
    // class as MLlib's candidate collect, NOT a data-path collect()). The
    // chosen ids re-select their vectors from `emb`, so centroid columns
    // keep the corpus' own types.
    val pool = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(numCells * 8)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val chosen = farthestFirst(pool, numCells)
    var cents = emb.filter(col("vec_id").isin(chosen: _*))
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))
    for (_ <- 1 to iters) {
      val assigned = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("cell"),
          cosine("embedding", "cv").as("cs"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cs"), col("cell"))).as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"))
        .join(emb, "vec_id")
      val means = (0 until d).map(i =>
        avg(expr(s"CAST(element_at(embedding, ${i + 1}) AS DECIMAL(20,10))")).as(s"m$i"))
      cents = assigned.groupBy("cell")
        .agg(means.head, means.tail: _*)
        .select(col("cell"),
          array((0 until d).map(i => col(s"m$i").cast("double")): _*).as("cv"))
    }
    cents
  }

  /** Measured default for [[ivfCells]]'s cap — the 200k-vector A/B
    * (SCALE.md §7.1 second decade): C=√n=447 spent 73.3 s on the n×C
    * index-scoring pass for recall that banded LSH already delivered at
    * 1.000 in 6.0 s, while C=141 at 20k vectors ran the same pass in
    * 6.2 s. Index-build cost is linear in C, so for dedup-shaped
    * workloads (top-k dominated by near-duplicates) C must stop growing
    * once cells are selective enough; 256 sits between the two measured
    * points on the cheap side. */
  val ivfCellCapDefault: Int = 256

  /** Centroid-count guidance, encoded (r15 verdict #7): C ≈ √n serves
    * the moderate-similarity regime (recall 0.994–1.000 measured at both
    * decades), CAPPED at `cap` so the linear-in-C index-build pass stops
    * growing with the corpus — the measured reading is "cap C, don't
    * √n-grow, when the workload is dedup-shaped". Pass
    * `cap = Int.MaxValue` to get pure √n for a recall-first workload. */
  def ivfCells(n: Long, cap: Int = ivfCellCapDefault): Int =
    math.max(16, math.min(cap.toLong,
      math.round(math.sqrt(math.max(0L, n).toDouble))).toInt)

  /** `numCells <= 0` derives the cell count from the corpus via
    * [[ivfCells]] (one count job, index build only) — and lifts `probes`
    * to at least cells/10, the knob every measured recall figure used
    * (AnnBench of commit 6115878: probes = max(4, C/10); 4 probes of 256 derived cells
    * would silently miss any neighbor outside an anchor's top-4 cells). */
  def ivfNeighbors(emb: DataFrame, anchorPred: Column, k: Int = 10,
                   numCells: Int = 16, probes: Int = 4,
                   refineIters: Int = 1): DataFrame = {
    val cells = if (numCells > 0) numCells else ivfCells(emb.count())
    val probes0 = if (numCells > 0) probes else math.max(probes, cells / 10)
    val cents = kmeansCentroids(emb, cells, refineIters)
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cell"),
        cosine("embedding", "cv").as("cs"))
    // nearest cell per vector — partial-agg-friendly argmax, then re-join the
    // vector payload (keyed join on vec_id; avoids grouping by the array col)
    val assigned = scored.groupBy(col("vec_id"))
      .agg(max(struct(col("cs"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"))
      .join(emb, "vec_id")
    // anchors probe their top-P cells
    val probed = scored.filter(anchorPred)
      .withColumn("pr", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cell"))))
      .filter(col("pr") <= probes0)
      .select(col("vec_id").as("a_id"), col("embedding").as("va"), col("cell"))
    val cand = assigned
      .select(col("vec_id").as("b_id"), col("embedding").as("vb"), col("cell"))
      .join(probed, "cell").filter(col("a_id") =!= col("b_id"))
    cand.select(col("a_id"), col("b_id"), cosine("va", "vb").as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos_r"), col("rn"))
  }

  /** [Q-sim-ivf] IVF ANN of the anchor set (rows-only check; recall vs the
    * exact q_sim_topk baseline asserted in SimilaritySpec). The declared
    * query pins refineIters=0 (seed centroids) so the bench row measures
    * the same index build round-over-round; the library default is one
    * Lloyd round (recall-compared in SimilaritySpec). */
  def q_sim_ivf(s: SparkSession, d: String): DataFrame =
    ivfNeighbors(Tables(s, d, "embeddings"), col("vec_id") < 5, refineIters = 0)

  /** [Q-embed-quantize] per-vector scalar quantization to int8-range codes
    * (min-max affine, 256 levels) — the embedding-compression step a
    * training pipeline runs before storing billions of vectors (4x smaller
    * than float32; IVF/LSH indexes operate on codes). Row-local, no
    * shuffle; emits scalar summaries (code sum, max reconstruction error)
    * so the oracle compares engine-independent values, not arrays.
    * `floor(x + 0.5)` instead of round() keeps the two engines' halfway
    * behavior trivially identical. DuckDB-oracle-matched.
    *
    * Kept as a hand form: the text calls DuckDB's `list_min`, which Spark
    * does not have. */
  def q_embed_quantize(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("lo", expr("array_min(v)"))
      .withColumn("hi", expr("array_max(v)"))
      .withColumn("codes", expr(
        "transform(v, x -> CAST(floor((x - lo) * 255 / (hi - lo) + 0.5D) AS INT))"))
      .select(col("vec_id"),
        round(col("lo"), 6).as("lo_r"),
        round(col("hi"), 6).as("hi_r"),
        expr("aggregate(codes, 0, (a, c) -> a + c)").as("sum_codes"),
        round(expr(
          "array_max(zip_with(v, codes, (x, c) -> abs(x - (lo + c * (hi - lo) / 255))))"),
          6).as("max_err_r"))
}
