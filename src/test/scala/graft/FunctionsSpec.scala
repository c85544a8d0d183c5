package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{txt, vec}

/** The native Catalyst expressions (graft.functions) must be bit-identical
  * to the higher-order-function formulations they replace, and their SQL
  * surface must resolve when the session is built with GraftExtensions. */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val emb = Tables(spark, TestSpark.sf001, "embeddings")
    .select("vec_id", "embedding")

  private val hofDot = expr(
    "aggregate(zip_with(embedding, embedding, " +
      "(p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), CAST(0 AS DOUBLE), " +
      "(acc, v) -> acc + v)")

  test("vector_dot is bit-identical to the aggregate(zip_with(...)) fold") {
    val bad = emb.select(
      vec.vector_dot(col("embedding"), col("embedding")).as("native"),
      hofDot.as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() == 0)
  }

  test("vector_dot SQL surface resolves via GraftExtensions") {
    emb.createOrReplaceTempView("emb_fn_test")
    val bad = spark.sql(
      "SELECT vector_dot(embedding, embedding) AS native, " +
        "aggregate(zip_with(embedding, embedding, " +
        "(p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), CAST(0 AS DOUBLE), " +
        "(acc, v) -> acc + v) AS hof FROM emb_fn_test")
      .filter(col("native") =!= col("hof"))
    assert(bad.count() == 0)
  }

  test("lsh_signature shape and range") {
    val sig = emb.select(vec.lsh_signature(col("embedding"), 8, 16).as("sig"))
    assert(sig.filter(size(col("sig")) =!= 8).count() == 0)
    val outOfRange = sig.select(explode(col("sig")).as("b"))
      .filter(col("b") < 0 || col("b") >= (1L << 16))
    assert(outOfRange.count() == 0)
  }

  test("lsh_signature is deterministic and identical for identical vectors") {
    val a = emb.select(col("vec_id"), vec.lsh_signature(col("embedding"), 8, 16).as("s"))
    val b = emb.repartition(7)
      .select(col("vec_id").as("vid"), vec.lsh_signature(col("embedding"), 8, 16).as("s2"))
    val bad = a.join(b, col("vec_id") === col("vid"))
      .filter(col("s") =!= col("s2"))
    assert(bad.count() == 0)
  }

  test("vector_dot nulls on length mismatch, matching zip_with's null padding") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),        // equal lengths → value
      (2L, Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 1.0f))). // mismatch → null
      toDF("id", "a", "b")
    val got = df.select(col("id"), vec.vector_dot(col("a"), col("b")).as("d"),
        expr("aggregate(zip_with(a, b, (p, q) -> CAST(p AS DOUBLE) * " +
          "CAST(q AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("hof"))
      .orderBy("id").collect()
    assert(!got(0).isNullAt(1) && got(0).getDouble(1) == 11.0)
    assert(got(1).isNullAt(1), "length mismatch must be null, not a partial dot")
    assert(got(1).isNullAt(2), "HOF reference also nulls — contract matches")
  }

  test("lsh_signature nulls on a null element instead of reading garbage") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (2L, Seq[java.lang.Float](1.0f, null, 3.0f)))
      .toDF("id", "v")
    val got = df.select(col("id"), vec.lsh_signature(col("v"), 4, 8).as("s"))
      .orderBy("id").collect()
    assert(!got(0).isNullAt(1) && got(0).getSeq[Long](1).size == 4)
    assert(got(1).isNullAt(1), "null element must null the whole signature")
  }

  test("join guard: armed, unkeyed joins fail at plan time; equi joins pass") {
    val region = Tables(spark, TestSpark.sf001, "region")
    val nation = Tables(spark, TestSpark.sf001, "nation")
    spark.conf.set("spark.graft.joinGuard", "true")
    try {
      // cartesian and pure-theta joins must be refused before execution
      val e1 = intercept[Exception] { region.crossJoin(nation).count() }
      assert(e1.getMessage.contains("join guard"), e1.getMessage)
      val e2 = intercept[Exception] {
        region.join(nation, col("n_nationkey") > col("r_regionkey")).count()
      }
      assert(e2.getMessage.contains("join guard"), e2.getMessage)
      // keyed joins (incl. null-safe, and key-in-WHERE after pushdown) pass
      assert(nation.join(region, col("n_regionkey") === col("r_regionkey"))
        .count() == 25)
      assert(nation.join(region, col("n_regionkey") <=> col("r_regionkey"))
        .count() == 25)
      assert(nation.crossJoin(region)
        .where(col("n_regionkey") === col("r_regionkey")).count() == 25)
    } finally spark.conf.unset("spark.graft.joinGuard")
    // guard down: the same cartesian is allowed (fenced-baseline mode)
    assert(region.crossJoin(nation).count() == 125)
  }

  test("shingle_hashes: bit-equal to the HOF shingle+xxhash64 formulation") {
    val docs = Tables(spark, TestSpark.sf001, "documents")
    for (k <- Seq(3, 8)) {
      // identical values AND identical (first-occurrence) order — no sort
      val bad = docs
        .select(graft.ops.TextOps.shingleExpr(k).as("sh"),
          txt.shingle_hashes(col("text"), k).as("nat"))
        .select(expr("transform(sh, t -> xxhash64(t))").as("hof"), col("nat"))
        .filter(not(col("hof") === col("nat")))
      assert(bad.count() == 0, s"k=$k: native diverged from HOF")
    }
  }

  /** Documents the byte-level tokenizer must read as `split(text, ' ')`
    * does: multi-byte UTF-8, and bytes that are not valid UTF-8 (which
    * `split` decodes to U+FFFD). */
  private def unicodeDocs: DataFrame = {
    import spark.implicits._
    val invalid = "ab \u00ff cd".getBytes("ISO-8859-1") ++ Array[Byte](' ', 0xc3.toByte, ' ') ++
      "ef gh ".getBytes("UTF-8") ++ Array[Byte](0xe2.toByte, 0x82.toByte, ' ', 'i', ' ', 'j')
    Seq[(Long, Array[Byte])](
      (1L, "naïve café déjà vu naïve café 日本語 テキスト 日本語 テキスト".getBytes("UTF-8")),
      (2L, invalid)).toDF("doc_id", "b")
      .select(col("doc_id"), col("b").cast("string").as("text"))
  }

  test("shingle_hashes edge cases still match the HOF form") {
    import spark.implicits._
    // empty string, runs of spaces (empty tokens), trailing space, unicode,
    // repeated shingles (distinct dedup), exactly-k tokens, invalid UTF-8
    val edge = Seq("", "   ", "a  b c d", "a b c ", "ünï cödé ünï cödé ünï cödé",
      "x y z", "r r r r r r r r").toDF("text").unionByName(unicodeDocs.select("text"))
    assert(unicodeDocs.filter(expr("is_valid_utf8(text)")).count() == 1)
    val bad = edge
      .select(graft.ops.TextOps.shingleExpr(3).as("sh"),
        txt.shingle_hashes(col("text"), 3).as("nat"))
      .select(expr("transform(sh, t -> xxhash64(t))").as("hof"), col("nat"))
      .filter(not(col("hof") === col("nat")))
    assert(bad.count() == 0)
  }

  /** Texts whose tokens `split(text, ' ')` must count the same on the
    * bytes: null, empty, all-space, leading, trailing and doubled spaces,
    * multi-byte and invalid UTF-8; two hold `red` and `blue`. */
  private def edgeDocs: DataFrame = {
    import spark.implicits._
    Seq[(Long, String)]((101L, null), (102L, ""), (103L, " "), (104L, "  a"),
      (105L, "a  "), (106L, "a  b a"), (107L, "ab abc a b ab"), (108L, "abc"),
      (109L, "the a of the"), (110L, "x  y  z  x"), (111L, "naïve naïv naïve"),
      (112L, "red fox red fox blue"), (113L, "red sky"))
      .toDF("doc_id", "text").unionByName(unicodeDocs)
      .repartition(2) // evaluated in generated code, not folded into a local relation
  }

  /** A term list with a term that is a prefix of a token (`ab` of `abc`),
    * the empty term, a duplicate, a multi-byte term, the replacement
    * character invalid bytes decode to, and a term holding a space. */
  private val edgeTerms = Seq("a", "ab", "", "a", "naïve", "\uFFFD", "x y", "b")

  private def withoutTokenCountRule[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", graft.plans.TokenCountRule.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("token_count and term_counts count the tokens of split(text, ' ')") {
    val got = edgeDocs.select(col("doc_id"), txt.token_count(col("text")).as("n"),
        txt.term_counts(col("text"), edgeTerms).as("tc"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val sizes = withoutTokenCountRule(edgeDocs.select(col("doc_id"),
        size(split(col("text"), " ")).as("n")).collect())
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val perTerm = edgeDocs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.keySet == sizes.keySet && got.size == 15)
    for ((id, r) <- got) {
      assert(r.get(1) == sizes(id), s"doc $id: token_count ${r.get(1)} vs size ${sizes(id)}")
      if (r.isNullAt(1)) assert(r.isNullAt(2), s"doc $id")
      else assert(r.getSeq[Long](2) == edgeTerms.map(w => perTerm.getOrElse((id, w), 0L)),
        s"doc $id: ${r.getSeq[Long](2)}")
    }
    // each case is a real one: the replacement character and the empty term count
    assert(got(2L).getSeq[Long](2)(5) > 0 && got(106L).getSeq[Long](2)(2) == 1)
  }

  test("simhash64 is bit-equal to the two-shuffle aggregate formulation") {
    val docs = Tables(spark, TestSpark.sf001, "documents").select("doc_id", "text")
      .unionByName(unicodeDocs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val native = graft.ops.Dedup.simhash(docs)
    val agg = graft.ops.Dedup.simhashAgg(docs)
      .withColumnRenamed("simhash", "simhash_agg")
    val bad = native.join(agg, "doc_id")
      .filter(col("simhash") =!= col("simhash_agg"))
    assert(native.count() == docs.count())
    assert(bad.count() == 0, "native SimHash64 diverged from aggregate form")
  }

  test("minhash_sig is bit-equal to the exploded min-aggregate formulation") {
    val docs = Tables(spark, TestSpark.sf001, "documents")
    val native = docs.select(col("doc_id"),
      txt.minhash_sig(txt.shingle_hashes(col("text"), 3), 64).as("sig"))
    val agg = graft.ops.Dedup.minhashSigAgg(docs)
      .withColumnRenamed("sig", "sig_agg")
    val bad = native.join(agg, "doc_id")
      .filter(not(col("sig") === col("sig_agg")))
    assert(bad.count() == 0, "native MinHashSig diverged from aggregate form")
  }

  test("shingle_hashes: short-text fallback, null, SQL surface") {
    import spark.implicits._
    val df = Seq((0L, "one two"), (1L, null.asInstanceOf[String])).toDF("id", "t")
    val got = df.select(col("id"), txt.shingle_hashes(col("t"), 3).as("sh"),
      xxhash64(col("t")).as("whole")).orderBy("id").collect()
    // fewer than k tokens → single hash of the whole text (shingleExpr contract)
    assert(got(0).getSeq[Long](1) == Seq(got(0).getLong(2)))
    assert(got(1).isNullAt(1))
    df.createOrReplaceTempView("sh_fn_test")
    val viaSql = spark.sql(
      "SELECT shingle_hashes(t, 3) AS sh FROM sh_fn_test WHERE id = 0").collect()
    assert(viaSql.head.getSeq[Long](0) == got(0).getSeq[Long](1))
    // the other native text functions resolve from SQL too
    val sig = spark.sql(
      "SELECT simhash64(t) AS s, minhash_sig(shingle_hashes(t, 3), 8) AS m, " +
        "token_count(t) AS n, term_counts(t, array('two', 'one', 'x')) AS tc " +
        "FROM sh_fn_test WHERE id = 0").collect().head
    assert(!sig.isNullAt(0) && sig.getSeq[Long](1).size == 8)
    assert(sig.getInt(2) == 2 && sig.getSeq[Long](3) == Seq(1L, 1L, 0L))
  }

  test("join guard: mixed-side equality is NOT an equi key") {
    // `a.x + b.y === b.z` is an EqualTo whose left operand references BOTH
    // sides — ExtractEquiJoinKeys can't extract it, so it still executes as
    // a nested loop; the guard must refuse it (round-3 false negative)
    val region = Tables(spark, TestSpark.sf001, "region")
    val nation = Tables(spark, TestSpark.sf001, "nation")
    spark.conf.set("spark.graft.joinGuard", "true")
    try {
      val e = intercept[Exception] {
        region.join(nation,
          col("r_regionkey") + col("n_nationkey") === col("n_regionkey")).count()
      }
      assert(e.getMessage.contains("join guard"), e.getMessage)
      // same shape with a genuine equi conjunct alongside still passes
      assert(nation.join(region,
        col("n_regionkey") === col("r_regionkey") &&
          col("r_regionkey") + col("n_nationkey") >= col("n_regionkey"))
        .count() == 25)
    } finally spark.conf.unset("spark.graft.joinGuard")
  }

  test("lsh_signature SQL surface with literal knobs") {
    emb.createOrReplaceTempView("emb_fn_test2")
    val n = spark.sql(
      "SELECT lsh_signature(embedding, 4, 8) AS s FROM emb_fn_test2")
      .filter(size(col("s")) === 4).count()
    assert(n == emb.count())
  }

  test("bm25 is parameterized: a different term set scores by the formula") {
    // tiny corpus with hand-computable tf/df/dl; terms NOT the declared
    // entry's pinned literals (r17 verdict #6 — the API must take any set)
    import spark.implicits._
    val docs = Seq(
      (1L, "red fox red fox blue"), // red tf=2 dl=5
      (2L, "red sky"),              // red tf=1 dl=2
      (3L, "green grass grows")     // no query terms -> absent from output
    ).toDF("doc_id", "text")
    val got = graft.ops.Relational.bm25(docs, Seq("red", "blue"), k = 10)
      .select("doc_id", "bm25", "n_terms")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // mirror the operator's determinism contract: per-term contribution
    // rounded to 6 decimals (decimal(20,6) cast = half-up) before summing
    val nDocs = 3.0; val avgdl = (5 + 2 + 3) / 3.0
    def contrib(tf: Int, df: Int, dl: Int): BigDecimal = {
      val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
      BigDecimal(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val d1 = (contrib(2, 2, 5) + contrib(1, 1, 5)).toDouble // red + blue
    val d2 = contrib(1, 2, 2).toDouble                      // red only
    val expect = Seq((1L, d1, 2L), (2L, d2, 1L))
      .sortBy { case (id, s, _) => (-s, id) }
    assert(got.toSeq == expect, s"got ${got.toSeq} expected $expect")
  }

  /** `bm25` and [[Bm25Reference]] give the same rows in the same order,
    * each bm25 bit for bit. */
  private def assertBm25MatchesReference(docs: DataFrame, terms: Seq[String], k: Int): Int = {
    def rows(df: DataFrame) = df.select("doc_id", "bm25", "n_terms").collect().toSeq
      .map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
    val got = rows(graft.ops.Relational.bm25(docs, terms, k))
    assert(got == rows(Bm25Reference.bm25(docs, terms, k)), s"terms $terms, k $k")
    got.size
  }

  test("bm25 equals the row-per-token reference exactly") {
    val fixture = Tables(spark, TestSpark.sf0001, "documents").select("doc_id", "text")
    val edge = edgeDocs
    val termSets = Seq(Seq("hash", "join", "fast", "scan"), Seq("red", "blue"),
      Seq("scan", "hash", "scan", "the"), Seq("the", "a", "the"), edgeTerms)
    for (terms <- termSets; k <- Seq(1, 20, Int.MaxValue); docs <- Seq(fixture, edge))
      assertBm25MatchesReference(docs, terms, k)
    // the fixture holds the declared terms, the edge corpus red and blue
    assert(assertBm25MatchesReference(fixture, termSets.head, Int.MaxValue) > 20)
    assert(assertBm25MatchesReference(edge, termSets(1), Int.MaxValue) == 2)
  }
}
