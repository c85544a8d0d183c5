package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
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
private object SpaceTokens {
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
    var spaces = 0
    var i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == ' ') spaces += 1
      i += 1
    }
    val cuts = new Array[Int](spaces + 2)
    cuts(0) = -1
    var t = 1
    i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == ' ') { cuts(t) = i; t += 1 }
      i += 1
    }
    cuts(t) = len
    cuts
  }

  /** xxhash64 (seed 42, Spark's) of bytes `from` until `until` of `s`. */
  def hash(s: UTF8String, from: Int, until: Int): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + from, until - from, 42L)
}

/** 64-bit SimHash of space-tokenized text — ROW-LOCAL.
  *
  * Replicates the aggregate formulation exactly (token hash = xxhash64 seed
  * 42 of the token's UTF-8 bytes; per-bit weight = Σ ±term_frequency; bit set
  * when the weight is ≥ 0), but where the aggregate version shuffles the
  * corpus twice (groupBy(doc, token) then 64 bit-sums per doc), this computes
  * the whole signature inside the row projection: tokenize on the bytes
  * ([[SpaceTokens]]), count term frequencies in a local map, one 64-lane
  * weight pass per distinct token.
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
    val n = cuts.length - 1
    val freq = new java.util.HashMap[java.lang.Long, Int](math.min(n * 2, 2048))
    var i = 0
    while (i < n) {
      freq.merge(SpaceTokens.hash(text, cuts(i) + 1, cuts(i + 1)), 1, Integer.sum _)
      i += 1
    }
    val w = new Array[Long](64)
    val it = freq.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = e.getKey.longValue()
      val cnt = e.getValue.toLong
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) w(j) += cnt else w(j) -= cnt
        j += 1
      }
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
