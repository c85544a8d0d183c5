package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Native shingle hashing — the text-side counterpart of VectorDot.
  *
  * Every shingle-based operator (n-gram Jaccard, MinHash, decontamination,
  * repetition ratio) starts from the same HOF chain:
  * `transform(sequence(...), i -> concat_ws(' ', slice(toks, i, k)))` →
  * `array_distinct` → `transform(sh, t -> xxhash64(t))`. Each step evaluates
  * an interpreted lambda per shingle position — for a 300-token document
  * that is ~900 interpreted expression evals plus two intermediate string
  * arrays per row, and profiling shows it dominating the row-local cost of
  * the dedup family (q_text_repetition: 1.3 s vs 0.26 s for a comparable
  * non-shingle scan at sf0.1). This expression produces the IDENTICAL result
  * in one tight JVM loop: find the single-space token boundaries on the
  * UTF-8 bytes ([[SpaceTokens]]), hash each k-token shingle's byte range in
  * place with xxhash64 seed 42 (Spark's xxhash64 seed, over the same UTF-8
  * bytes — so values are bit-equal to the HOF form, asserted in
  * FunctionsSpec), dedup via a hash set preserving first-occurrence order
  * (array_distinct's order).
  *
  * Contract match with TextOps.shingleExpr(k): texts with fewer than k
  * tokens yield the single hash of the whole text.
  */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expected string input, got ${other.simpleString}")
  }

  def compute(s: UTF8String): Any = {
    val text = SpaceTokens.utf8(s)
    val cuts = SpaceTokens.cuts(text)
    val n = cuts.length - 1
    if (n < k) return new GenericArrayData(Array(SpaceTokens.hash(text, 0, text.numBytes)))
    val seen = new java.util.HashSet[java.lang.Long](math.min(n, 1024))
    val out = new Array[Long](n - k + 1)
    var m = 0
    var i = 0
    while (i <= n - k) {
      // tokens i until i + k, with the single spaces between them
      val h = SpaceTokens.hash(text, cuts(i) + 1, cuts(i + k))
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingles", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** The single-space tokens of a text, read on its UTF-8 bytes in place —
  * the tokens of Spark's `split(text, ' ')`, with no decode, `String`
  * split or re-encode per row.
  *
  * Spark's split decodes the bytes (an invalid sequence becomes U+FFFD)
  * and re-encodes each token, so [[utf8]] re-encodes text that is not
  * valid UTF-8 once up front; valid text (a 0x20 byte never occurs inside
  * a multi-byte sequence) is used as it is. */
private[graft] object SpaceTokens {
  /** Whether `t` is a string type in the UTF8_BINARY collation, whose
    * equality, and split on a space, are byte-exact. */
  def binaryString(t: DataType): Boolean = t match {
    case s: StringType => s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  }

  /** `s` itself when it is valid UTF-8, else its decoded and re-encoded
    * bytes. */
  def utf8(s: UTF8String): UTF8String =
    if (s.isValid) s else UTF8String.fromString(s.toString)

  /** Token boundaries of `s`: token i spans bytes `cuts(i) + 1` until
    * `cuts(i + 1)` (`cuts(0) = -1`, the last entry is the byte length), so
    * tokens i until j span `cuts(i) + 1` until `cuts(j)`, the spaces
    * between them included. Empty tokens count, as in `split`. */
  def cuts(s: UTF8String): Array[Int] = {
    val (base, off, len) = (s.getBaseObject, s.getBaseOffset, s.numBytes)
    val cuts = new Array[Int](count(s) + 1)
    cuts(0) = -1
    var t = 1
    var i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == ' ') { cuts(t) = i; t += 1 }
      i += 1
    }
    cuts(t) = len
    cuts
  }

  /** The number of tokens of `s`: its spaces plus one. */
  def count(s: UTF8String): Int = {
    val (base, off, len) = (s.getBaseObject, s.getBaseOffset, s.numBytes)
    var spaces = 0
    var i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == ' ') spaces += 1
      i += 1
    }
    spaces + 1
  }

  /** xxhash64 (seed 42, Spark's) of bytes `from` until `until` of `s`. */
  def hash(s: UTF8String, from: Int, until: Int): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + from, until - from, 42L)
}

/** `size(split(text, ' '))` counted on the UTF-8 bytes ([[SpaceTokens]]):
  * the spaces plus one, with no token array. graft.plans.TokenCountRule
  * rewrites every `size(split(x, ' '))` of a plan to this kernel. */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "token_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expected string input, got ${other.simpleString}")
  }

  def compute(s: UTF8String): Int = SpaceTokens.count(SpaceTokens.utf8(s))

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenCount", this, classOf[TokenCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

/** For each of `terms`, how many tokens of `split(text, ' ')` equal it —
  * one pass over the text's UTF-8 bytes ([[SpaceTokens]]), where
  * `size(filter(split(text, ' '), x -> x = t))` decodes every token to a
  * `String` and calls an interpreted lambda on it. A null term counts 0
  * (`x = null` is never true); a repeated term gets its count in each slot;
  * the empty term counts the empty tokens that leading, trailing and
  * doubled spaces make. Terms are compared with each token by length, then
  * bytes, so the cost per token grows with the number of terms: the kernel
  * is for short lists (stop words, query terms). Both inputs must be
  * UTF8_BINARY strings, whose equality is byte equality. */
case class TermCounts(text: Expression, terms: Expression) extends BinaryExpression {
  override def left: Expression = text
  override def right: Expression = terms
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "term_counts"

  override def checkInputDataTypes(): TypeCheckResult = (text.dataType, terms.dataType) match {
    case (t, ArrayType(e, _)) if SpaceTokens.binaryString(t) && SpaceTokens.binaryString(e) =>
      TypeCheckResult.TypeCheckSuccess
    case (t, ts) => TypeCheckResult.TypeCheckFailure(
      s"expected (string, array<string>) in UTF8_BINARY, got (${t.simpleString}, ${ts.simpleString})")
  }

  private def termArray(ts: ArrayData): Array[UTF8String] =
    Array.tabulate(ts.numElements())(i => if (ts.isNullAt(i)) null else ts.getUTF8String(i))

  /** A literal term list, read once. */
  @transient private lazy val fixedTerms: Array[UTF8String] =
    if (terms.foldable) Option(terms.eval()).map(a => termArray(a.asInstanceOf[ArrayData])).orNull
    else null

  def compute(s: UTF8String, ts: ArrayData): ArrayData = {
    val words = if (fixedTerms != null) fixedTerms else termArray(ts)
    val counts = new Array[Long](words.length)
    val text = SpaceTokens.utf8(s)
    val (base, off, len) = (text.getBaseObject, text.getBaseOffset, text.numBytes)
    var from = 0
    var i = 0
    while (i <= len) {
      if (i == len || Platform.getByte(base, off + i) == ' ') {
        val n = i - from
        var t = 0
        while (t < words.length) {
          val w = words(t)
          if (w != null && w.numBytes == n &&
              ByteArrayMethods.arrayEquals(base, off + from, w.getBaseObject, w.getBaseOffset, n))
            counts(t) += 1
          t += 1
        }
        from = i + 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  override def nullSafeEval(s: Any, ts: Any): Any =
    compute(s.asInstanceOf[UTF8String], ts.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termCounts", this, classOf[TermCounts].getName)
    nullSafeCodeGen(ctx, ev, (s, ts) => s"${ev.value} = $ref.compute($s, $ts);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TermCounts =
    copy(text = newLeft, terms = newRight)
}

/** One document's BM25 score from its token count `dl`, its query-term
  * counts `tf` ([[TermCounts]]) and the corpus statistics `stats`, a struct
  * of `avgdl` and the per-term `idf` array: struct(bm25, n_terms). Each
  * present term contributes idf · tf · 2.2 / (tf + 1.2 · (0.25 + 0.75 · dl
  * / avgdl)) (k1 = 1.2, b = 0.75), in that order of double operations,
  * rounded to DECIMAL(20,6) as Spark's double→decimal cast rounds it (half
  * up; an overflow throws, as under ANSI); the contributions are summed
  * exactly and the sum converted to double as Spark casts a decimal.
  * `n_terms` counts the present terms; a document with none scores null,
  * so a caller drops it above its top-k cut instead of filtering on `tf`
  * below the scorer (where the filter would recompute `tf`).
  * graft.ops.Relational.bm25 gives the statistics as one scalar subquery,
  * so the scorer references it once. */
private[graft] case class Bm25Score(dl: Expression, tf: Expression, stats: Expression)
    extends TernaryExpression {
  override def first: Expression = dl
  override def second: Expression = tf
  override def third: Expression = stats
  override def dataType: DataType = Bm25Score.resultType
  override def nullable: Boolean = true
  override def prettyName: String = "bm25_score"

  def compute(dl: Int, tf: ArrayData, stats: InternalRow): InternalRow = {
    val avgdl = stats.getDouble(0)
    val idf = stats.getArray(1)
    val norm = 1.2 * (0.25 + 0.75 * dl / avgdl)
    var sum = java.math.BigDecimal.ZERO
    var present = 0L
    var i = 0
    while (i < tf.numElements()) {
      val n = tf.getLong(i)
      if (n > 0) {
        val t = n.toDouble
        val c = Decimal(idf.getDouble(i) * t * 2.2 / (t + norm))
        if (!c.changePrecision(20, 6)) throw new ArithmeticException(
          s"BM25 contribution $c does not fit DECIMAL(20,6)")
        sum = sum.add(c.toJavaBigDecimal)
        present += 1
      }
      i += 1
    }
    if (present == 0) null else new GenericInternalRow(Array[Any](sum.doubleValue, present))
  }

  override def nullSafeEval(dl: Any, tf: Any, stats: Any): Any =
    compute(dl.asInstanceOf[Int], tf.asInstanceOf[ArrayData], stats.asInstanceOf[InternalRow])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bm25", this, classOf[Bm25Score].getName)
    nullSafeCodeGen(ctx, ev, (d, t, s) =>
      s"${ev.value} = $ref.compute($d, $t, $s); ${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Bm25Score =
    copy(dl = newFirst, tf = newSecond, stats = newThird)
}

private[graft] object Bm25Score {
  val resultType: StructType = StructType(Seq(
    StructField("bm25", DoubleType, nullable = false),
    StructField("n_terms", LongType, nullable = false)))
}

/** 64-bit SimHash of space-tokenized text — ROW-LOCAL.
  *
  * Replicates the aggregate formulation exactly (token hash = xxhash64 seed
  * 42 of the token's UTF-8 bytes; per-bit weight = Σ ±term_frequency; bit set
  * when the weight is ≥ 0), but where the aggregate version shuffles the
  * corpus twice (groupBy(doc, token) then 64 bit-sums per doc), this computes
  * the whole signature inside the row projection: tokenize on the bytes
  * ([[SpaceTokens]]) and add ±1 into the 64 lanes per token occurrence —
  * the same weights, since Σ ±tf over distinct tokens is Σ ±1 over their
  * occurrences, with no term-frequency map.
  * At 100 TB that is the difference between re-shuffling every token of the
  * corpus and a map-only pass. Bit-equality with the aggregate form is
  * asserted in FunctionsSpec.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expected string input, got ${other.simpleString}")
  }

  def compute(s: UTF8String): Long = {
    val text = SpaceTokens.utf8(s)
    val cuts = SpaceTokens.cuts(text)
    val w = new Array[Long](64)
    var i = 0
    while (i < cuts.length - 1) {
      val h = SpaceTokens.hash(text, cuts(i) + 1, cuts(i + 1))
      var j = 0
      while (j < 64) {
        w(j) += ((h >>> j) & 1L) * 2 - 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (w(j) >= 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** MinHash signature from a shingle-hash array — ROW-LOCAL.
  *
  * Permutation p of shingle hash h is the chained xxhash64 Spark computes
  * for `xxhash64(h, p)` — s = hashLong(h, 42) then hashInt(p, s) — so the
  * output is bit-equal to the aggregate formulation
  * (min(xxhash64(col("h"), lit(p))) per doc), asserted in FunctionsSpec.
  * The aggregate version explodes the corpus to one row per shingle and
  * shuffles it into a 64-column min-aggregate; this computes all `perms`
  * minima in one pass over the row's shingle array, so signature building
  * is a map-only projection (composes with [[ShingleHashes]]).
  */
case class MinHashSig(child: Expression, perms: Int) extends UnaryExpression {
  require(perms >= 1, s"perms must be >= 1, got $perms")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expected array<bigint> input (shingle hashes), got ${other.simpleString}")
  }

  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): Any = {
    val n = arr.numElements()
    if (n == 0) return null
    val sig = new Array[Long](perms)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val base = XXH64.hashLong(arr.getLong(i), 42L)
      var p = 0
      while (p < perms) {
        val h = XXH64.hashInt(p, base)
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = $ref.compute($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) r; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Column-API surface for the native text expressions. */
object txt {
  /** Distinct k-token shingle hashes of `text` (xxhash64, seed 42) — the
    * array the dedup family joins/aggregates on. Bit-equal to
    * `transform(array_distinct(shingles), t -> xxhash64(t))`. */
  def shingle_hashes(text: Column, k: Int): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(text), k))

  /** `size(split(text, ' '))` counted on the bytes, with no token array. */
  def token_count(text: Column): Column =
    GraftColumnBridge.column(TokenCount(GraftColumnBridge.expression(text)))

  /** For each of `terms`, the number of `split(text, ' ')` tokens equal to
    * it: an `array<bigint>` in `terms`' order. */
  def term_counts(text: Column, terms: Seq[String]): Column =
    GraftColumnBridge.column(TermCounts(GraftColumnBridge.expression(text),
      GraftColumnBridge.expression(typedLit(terms))))

  /** struct(bm25, n_terms) of one document ([[Bm25Score]]). */
  private[graft] def bm25_score(dl: Column, tf: Column, stats: Column): Column =
    GraftColumnBridge.column(Bm25Score(GraftColumnBridge.expression(dl),
      GraftColumnBridge.expression(tf), GraftColumnBridge.expression(stats)))

  /** Row-local 64-bit SimHash (xxhash64-seed-42 token hashes, ±tf bit
    * weights) — bit-equal to the two-shuffle aggregate formulation. */
  def simhash64(text: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(text)))

  /** Row-local MinHash signature over a shingle-hash array — bit-equal to
    * the exploded min-aggregate formulation (`min(xxhash64(h, p))` per p). */
  def minhash_sig(shingleHashes: Column, perms: Int): Column =
    GraftColumnBridge.column(MinHashSig(
      GraftColumnBridge.expression(shingleHashes), perms))

  /** Bloom-filter aggregate over a long column (Spark's internal
    * BloomFilterAggregate, not exposed in the public function registry) —
    * the build side of the broadcast-bloom prefilter pattern. */
  def bloom_filter_agg(c: Column, estimatedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    GraftColumnBridge.column(
      BloomFilterAggregate(GraftColumnBridge.expression(c),
        Literal(estimatedItems), Literal(numBits), 0, 0).toAggregateExpression())
  }

  /** might_contain(<scalar-subquery bloom>, value) — row-local membership
    * probe against a bloom built by a one-row aggregate plan (the same
    * ScalarSubquery shape Spark's injected runtime filters use: the
    * subquery runs once, its result broadcasts as a literal to every task).
    * No false negatives → a LOSSLESS prefilter ahead of an exact join. */
  def bloom_prefilter(bloomDf: org.apache.spark.sql.DataFrame, value: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    GraftColumnBridge.column(BloomFilterMightContain(
      ScalarSubquery(bloomDf.queryExecution.analyzed),
      GraftColumnBridge.expression(value)))
  }
}
