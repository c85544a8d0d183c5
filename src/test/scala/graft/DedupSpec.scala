package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Self-consistency checks for the engine-hash dedup operators (the promised
  * coverage for the rows-only queries, SURVEY §5.2): planted exact duplicates
  * MUST be recovered (identical text → identical MinHash signature → same
  * bucket in every band → candidate with Jaccard 1.0). */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables(spark, TestSpark.sf001, "documents")
    .select("doc_id", "text")

  /** fixture ∪ exact copies shifted by +10000. */
  private lazy val planted = docs.unionByName(
    docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))

  test("MinHash+LSH recovers every planted exact duplicate with jacc 1.0") {
    val pairs = Dedup.minhashDupPairs(planted, threshold = 0.99)
      .filter(col("b_id") === col("a_id") + 10000 && col("jacc") === 1.0)
    assert(pairs.count() == docs.count())
  }

  test("MinHash signatures are deterministic and partition-invariant") {
    val s1 = Dedup.minhashSignatures(docs.repartition(1))
    val s8 = Dedup.minhashSignatures(docs.repartition(8))
    assert(s1.exceptAll(s8).count() == 0 && s8.exceptAll(s1).count() == 0)
  }

  test("incremental: every batch doc that copies a history doc is found at jacc 1.0") {
    val hist = docs
    val batch = docs.select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val histShingles = hist.select(col("doc_id"),
      graft.functions.txt.shingle_hashes(col("text"), 3).as("sh"))
    val found = Dedup.minhashIncremental(batch, Dedup.minhashSignatures(hist),
        histShingles, threshold = 0.99)
      .filter(col("new_id") === col("hist_id") + 10000 && col("jacc") === 1.0)
    assert(found.count() == docs.count())
  }

  test("incremental == the cross-(batch,history) slice of whole-corpus minhashDupPairs") {
    // the declared query's split: odd ids arrive, even ids are history
    val inc = Dedup.q_dedup_incremental(spark, TestSpark.sf001)
      .select("new_id", "hist_id", "jacc")
    val cross = Dedup.minhashDupPairs(docs)
      .filter((col("a_id") % 2) =!= (col("b_id") % 2))
      .select(
        when(col("a_id") % 2 === 1, col("a_id")).otherwise(col("b_id")).as("new_id"),
        when(col("a_id") % 2 === 1, col("b_id")).otherwise(col("a_id")).as("hist_id"),
        col("jacc"))
    assert(inc.exceptAll(cross).count() == 0 && cross.exceptAll(inc).count() == 0)
  }

  test("SimHash banding recovers every planted exact duplicate at hamming 0") {
    val pairs = Dedup.simhashDupPairs(planted)
      .filter(col("b_id") === col("a_id") + 10000 && col("hamming") === 0)
    assert(pairs.count() == docs.count())
  }

  test("SimHash: identical texts get identical signatures") {
    val sh = Dedup.simhash(planted)
    val mismatched = sh.as("a").join(sh.as("b"),
        col("b.doc_id") === col("a.doc_id") + 10000 &&
          col("a.simhash") =!= col("b.simhash"))
    assert(mismatched.count() == 0)
  }

  test("connected components: min-label propagation finds chain components") {
    import spark.implicits._
    // two components: a 4-chain {1-2-3-4} (diameter 3 — needs >1 round)
    // and a pair {10,11}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("cluster query: planted duplicates share a cluster with min-id keeper") {
    val planted = docs.unionByName(
      docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val labels = Dedup.connectedComponents(Dedup.ngramPairs(planted, 0.99))
    val sameCluster = labels.as("a").join(labels.as("b"),
      expr("b.id = a.id + 10000 AND a.lbl = b.lbl AND a.lbl = a.id"))
    assert(sameCluster.count() == docs.count())
  }

  test("connected components: reliable checkpointDir gives identical labels") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    // the cluster-mode path: reliable checkpoint(dir) instead of
    // executor-local localCheckpoint — same labels, real files in the dir
    val labels = Dedup.connectedComponents(edges, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try assert(written.filter(java.nio.file.Files.isRegularFile(_)).count() > 0,
      "no checkpoint data written to the reliable dir")
    finally written.close()
  }

  test("connected components throws rather than returning unconverged labels") {
    import spark.implicits._
    // a 6-chain has diameter 5; maxIter=1 cannot reach fixpoint
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    // and the same graph converges fine with enough rounds
    assert(Dedup.connectedComponents(chain, maxIter = 10)
      .filter(col("lbl") =!= 1L).count() == 0)
  }

  test("hot-shingle doc-frequency cap drops stop-shingle pairs, keeps true dups") {
    import spark.implicits._
    // 20 docs sharing the stop-phrase prefix "the quick brown fox": any two
    // docs share 2 of their 3 shingles (jacc 0.5); docs 100/101 are identical
    // (jacc 1.0) — the only TRUE duplicates.
    val base = (1 to 20).map(i => (i.toLong, s"the quick brown fox w$i"))
    val dups = Seq((100L, "the quick brown fox dupx"), (101L, "the quick brown fox dupx"))
    val docs = (base ++ dups).toDF("doc_id", "text")
    val uncapped = Dedup.ngramPairs(docs, 0.5)
    // the stop shingles make EVERY pair a candidate AND pass the threshold
    assert(uncapped.count() == 22 * 21 / 2,
      "uncapped: all pairs reach jacc >= 0.5 through the stop-phrase")
    // capped: "the quick brown"/"quick brown fox" appear in all 22 docs →
    // dropped; only the planted duplicate pair survives (jacc 1 on the rest)
    val capped = Dedup.ngramPairs(docs, 0.5, maxDocFreq = Some(5L))
    val rows = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((100L, 101L)),
      s"capped pairs should be exactly the planted dup, got ${rows.toSeq}")
    // no-cap path is unchanged by the default argument
    assert(Dedup.ngramPairs(docs, 0.5).count() == uncapped.count())
  }

  test("capped ngram == uncapped ngram when no shingle exceeds the cap") {
    // Closes the "which twin at scale" ambiguity: q_dedup_ngram_capped is
    // the deployment default, and this pins that the cap is a pure fan-out
    // fence — on a corpus where no shingle's doc frequency reaches the cap,
    // the capped query returns EXACTLY the uncapped (exact-recall) pairs.
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val uncapped = Dedup.ngramPairs(docs, 0.2)
    val capped = Dedup.ngramPairs(docs, 0.2, maxDocFreq = Some(1000000L))
    assert(uncapped.exceptAll(capped).count() == 0 &&
      capped.exceptAll(uncapped).count() == 0,
      "cap above every shingle's df must not change the pair set")
  }

  test("exact dedup counts multiplicity correctly on planted duplicates") {
    val dd = SparkEntry.queries("q_dedup_exact")
    // build directly: every text appears exactly twice in `planted`
    val res = planted
      .groupBy(md5(col("text").cast("binary")).as("k"))
      .agg(count(lit(1)).as("n"))
    assert(res.filter(col("n") =!= 2).count() == 0)
    // and the declared query's survivor is the min doc_id
    val q = dd(spark, TestSpark.sf001)
    assert(q.filter(col("keep_id") < 0).count() == 0)
    assert(q.count() > 0)
  }
}
