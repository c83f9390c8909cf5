package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.{toCol, toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot inner loops the built-in
  * higher-order functions run interpreted (SURVEY §5: codegen-friendly).
  *
  * `aggregate`/`transform` lambdas execute row-at-a-time through the
  * interpreter — fine for plumbing, 10-100× too slow for 64-dim dot
  * products or 16-permutation MinHash over millions of rows. These
  * expressions keep the loop in tight JVM code; DotProductF additionally
  * participates in whole-stage codegen via doGenCode.
  */

/** Dot product of two array<float> columns → double. Codegen'd. */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductF =
    copy(left = l, right = r)
}

/** Dot product of two array<tinyint> (int8-quantized) columns → long.
  * Codegen'd — the `aggregate(zip_with(...))` HOF formulation of the
  * same sum runs interpreted per (corpus × query) pair and was the
  * slowest scorer in the whole ANN roster despite 4×-smaller inputs.
  * Long result: |sum| ≤ 127² · dims, so overflow would need ~5·10¹⁴
  * dims — effectively total over any real embedding width.
  */
case class DotProductI8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getByte(i).toLong * y.getByte(i).toLong; i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (long) $a.getByte($i) * (long) $b.getByte($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductI8 =
    copy(left = l, right = r)
}

/** Per-vector symmetric int8 quantization: array<float> →
  * struct<q: array<tinyint>, scale: double> with scale = max|x| (floored
  * at Double.MIN_VALUE so an all-zero vector can't produce 0/0 = NaN)
  * and q_i = round(x_i / scale · 127). One tight loop per row — the
  * transform+aggregate HOF formulation ran interpreted over every
  * corpus row on every probe. Build-time only, so CodegenFallback is
  * acceptable (it sits in its own projection, not a join predicate).
  */
case class Quantize8(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("q", ArrayType(ByteType, containsNull = false), nullable = false),
    StructField("scale", DoubleType, nullable = false)))
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var mx = java.lang.Double.MIN_VALUE
    var i = 0
    while (i < n) {
      val a = math.abs(arr.getFloat(i).toDouble)
      if (a > mx) mx = a
      i += 1
    }
    val q = new Array[Byte](n)
    i = 0
    while (i < n) {
      // HALF_UP away from zero — the semantics of the Spark round()
      // expression this replaced (java Math.round alone rounds negative
      // halves toward +inf: -63.5 → -63 instead of -64)
      val v = arr.getFloat(i).toDouble / mx * 127.0
      q(i) = (if (v < 0) -math.round(-v) else math.round(v)).toByte
      i += 1
    }
    InternalRow(new GenericArrayData(q), mx)
  }
  override protected def withNewChildInternal(c: Expression): Quantize8 = copy(child = c)
}

/** 64-bit SimHash over an array<string> token column. For each token,
  * xxhash64 gives 64 pseudo-random bits; each bit votes ±1; the
  * fingerprint bit is the sign of the vote sum. One tight O(tokens×64)
  * loop per row.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** MinHash signature: for permutation p in [0, numPerms), the minimum
  * over tokens of mix(xxhash64(token), p) — universal-hash style
  * multiply-add mixing (wrapping arithmetic, deliberately outside ANSI
  * overflow checks). Returns array<long> of length numPerms.
  */
case class MinHashSig(child: Expression, numPerms: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // Odd multipliers/offsets derived from splitmix64 of the perm index.
  private lazy val muls: Array[Long] = Array.tabulate(numPerms) { p =>
    var z = (p + 1).toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) | 1L
  }
  private lazy val adds: Array[Long] = Array.tabulate(numPerms) { p =>
    var z = (p + 101).toLong * 0xD1B54A32D192ED03L
    z = (z ^ (z >>> 29)) * 0xFF51AFD7ED558CCDL
    z ^ (z >>> 32)
  }
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var p = 0
      while (p < numPerms) {
        val v = muls(p) * h + adds(p) // wrapping on purpose
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** Fused word-k-shingling + MinHash: from an array<string> of words,
  * forms the k-word shingles implicitly (combining per-word xxhash64
  * values with a wrapping polynomial mix — no shingle strings are ever
  * materialized) and returns the numPerms-wide MinHash signature.
  * Replaces an interpreted transform(slice+concat_ws) + aggregate HOF
  * cascade that dominated the benchmark.
  */
object MinHashShingleSig {
  /** The permutation constants, exposed so the d2_sigs DuckDB oracle
    * (SparkEntry.MinHashSigSql) interpolates EXACTLY the values the
    * engine mixes with — one derivation, two dialects. */
  def muls(numPerms: Int): Array[Long] = Array.tabulate(numPerms) { p =>
    var z = (p + 1).toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) | 1L
  }
  def adds(numPerms: Int): Array[Long] = Array.tabulate(numPerms) { p =>
    var z = (p + 101).toLong * 0xD1B54A32D192ED03L
    z = (z ^ (z >>> 29)) * 0xFF51AFD7ED558CCDL
    z ^ (z >>> 32)
  }
}

case class MinHashShingleSig(child: Expression, shingleK: Int, numPerms: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val muls: Array[Long] = MinHashShingleSig.muls(numPerms)
  private lazy val adds: Array[Long] = MinHashShingleSig.adds(numPerms)
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val wh = new Array[Long](n)
    var i = 0
    while (i < n) {
      wh(i) = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      i += 1
    }
    val sig = Array.fill(numPerms)(Long.MaxValue)
    i = 0
    while (i <= n - shingleK) {
      var h = wh(i)
      var j = 1
      while (j < shingleK) { h = h * 0x100000001B3L + wh(i + j); j += 1 }
      var p = 0
      while (p < numPerms) {
        // murmur3 fmix64 of (mul·h + add): a full-avalanche finalizer
        // per permutation. A bare linear mix left the 16 orderings
        // CORRELATED (all affine images of the same h), and measured
        // band-capture recall fell short of the independent-permutation
        // bound 1-(1-j^4)^4 the d19 gate asserts. Wrapping arithmetic
        // on purpose (outside ANSI).
        var v = muls(p) * h + adds(p)
        v = (v ^ (v >>> 33)) * 0xFF51AFD7ED558CCDL
        v = (v ^ (v >>> 33)) * 0xC4CEB9FE1A85EC53L
        v ^= (v >>> 33)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashShingleSig = copy(child = c)
}

/** Positional agreement count between two array<long> MinHash
  * signatures → int (the estimator numerator: agreements/perms ≈
  * jaccard). Codegen'd — the size(filter(zip_with(...))) formulation
  * runs interpreted PER CANDIDATE PAIR in the LSH verify join, the
  * same per-pair-HOF shape that made the quantized ANN tier the
  * slowest scorer before DotProductI8.
  */
case class SigAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) c += 1; i += 1 }
    c
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgreeCount =
    copy(left = l, right = r)
}

/** Sign-bit packing of an array<float> embedding's first 64 dims into
  * one long (bit i set iff x_i > 0) — the binary-embedding build step.
  * One tight loop per corpus row instead of an interpreted
  * aggregate(zip_with(…, sequence(0,63), …)) cascade.
  */
case class PackSigns64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), 64)
    var fp = 0L
    var i = 0
    while (i < n) { if (arr.getFloat(i) > 0f) fp |= (1L << i); i += 1 }
    fp
  }
  override protected def withNewChildInternal(c: Expression): PackSigns64 = copy(child = c)
}

/** Count of common elements between two array<string> columns (set
  * semantics; inputs need not be sorted or deduped — dedup them
  * upstream if sizes must be set sizes). One hash-set build + one
  * membership scan per row — vs `size(array_intersect(a,b))` which the
  * optimizer happily duplicates into join conditions.
  */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.intersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  // Real codegen (static-forwarder call) rather than CodegenFallback:
  // a fallback expression inside a join predicate de-codegens the whole
  // predicate and defeats common-subexpression elimination, so the
  // intersection would run 2-3x per candidate pair.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ExprHelpers.intersectCount($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectCount =
    copy(left = l, right = r)
}

/** A small fixed token vocabulary as a plan constant (the CentroidSet
  * discipline: identity equality, built once on the driver, shipped
  * into codegen'd expressions via addReferenceObj). Wraps the sorted
  * word list with a lazy UTF8String→bit-index map. */
final class TokenVocab(val words: Array[String]) extends Serializable {
  val nTokens: Int = words.length
  /** 64-bit words needed for a bitset over this vocabulary. */
  val nLongs: Int = (nTokens + 63) / 64
  @transient private lazy val idx: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](nTokens * 2)
    var i = 0
    while (i < nTokens) { m.put(UTF8String.fromString(words(i)), Integer.valueOf(i)); i += 1 }
    m
  }
  def indexOf(w: UTF8String): Int = {
    val v = idx.get(w)
    if (v == null) -1 else v.intValue()
  }
}

/** array<string> token set → fixed-width bitset (array<long>) against a
  * plan-constant [[TokenVocab]]. The exact-similarity join then moves
  * nLongs longs per doc instead of the token strings, and intersection
  * becomes AND+popcount ([[BitsetIntersect]]) — the small-vocabulary
  * fast path for exact all-pairs jaccard (d4/d20/d35): byte-identical
  * counts to the HashSet intersect over the string arrays. A token
  * absent from the vocabulary throws — the caller builds the vocab
  * from the same corpus, so a miss is a bug, and silently dropping a
  * bit would undercount n_inter. */
case class TokenBitset(child: Expression, vocab: TokenVocab)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(in: Any): Any =
    ExprHelpers.tokenBitset(in.asInstanceOf[ArrayData], vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("vocab", vocab, classOf[TokenVocab].getName)
      s"${ev.value} = graft.functions.ExprHelpers.tokenBitset($a, $ref);"
    })
  override protected def withNewChildInternal(c: Expression): TokenBitset = copy(child = c)
}

/** Popcount of the AND of two equal-width bitsets — the [[TokenBitset]]
  * counterpart of [[IntersectCount]], real codegen via the same
  * static-forwarder idiom. */
case class BitsetIntersect(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.bitsetIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ExprHelpers.bitsetIntersect($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BitsetIntersect =
    copy(left = l, right = r)
}

/** array<string> token set → fixed-width HASHED bitset (array<long>,
  * numBits/64 longs): bit xxhash64(w) & (numBits-1) per word. The
  * open-vocabulary counterpart of [[TokenBitset]] — no dictionary, no
  * cap, but collisions mean popcount(AND) only BOUNDS the true
  * intersection instead of equalling it: for token sets A, B with an
  * intersection of m words, bits(A∩B) ⊆ bits(A)∩bits(B) and removing
  * the |A|−m words of A∖B clears at most |A|−m bits, so
  * popcount(sig_a & sig_b) ≥ popcount(sig_a) − (|A|−m)  (and
  * symmetrically for B). Candidate pruning on that bound is therefore
  * SOUND (never drops a pair whose true jaccard meets the threshold);
  * survivors get an exact string-set verify. numBits must be a power
  * of two. */
case class HashBitset(child: Expression, numBits: Int)
    extends UnaryExpression {
  require(numBits > 0 && (numBits & (numBits - 1)) == 0,
    s"numBits must be a power of two, got $numBits")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(in: Any): Any =
    ExprHelpers.hashBitset(in.asInstanceOf[ArrayData], numBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprHelpers.hashBitset($a, $numBits);")
  override protected def withNewChildInternal(c: Expression): HashBitset = copy(child = c)
}

/** Word k-grams of an array<string> column as array<string> — the
  * gram strings the reference curation queries join/count on,
  * byte-identical to array_join(slice(ws,i,k), ' ') but built in one
  * tight JVM loop instead of an interpreted transform+slice+array_join
  * lambda per gram (the d2-era 10-20× HOF lesson applied to the text
  * family: d24/d29 and the pipeline's gram stages run this per row over
  * the whole corpus). Fewer than k words → empty array, matching the
  * load-bearing size(ws) >= k filter semantics.
  */
case class WordNgrams(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) { words(i) = arr.getUTF8String(i); i += 1 }
    val sep = ExprHelpers.Space
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      val slice = new Array[UTF8String](k)
      var j = 0
      while (j < k) { slice(j) = words(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, slice: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): WordNgrams = copy(child = c)
}

/** Fused gram count + distinct-gram count over an array<string> of
  * words → struct(n_ngrams long, n_distinct long). The d25 repetition
  * gauge needs only these two numbers; this computes them WITHOUT
  * materializing the gram array (one UTF8String concat per gram into a
  * byte-exact hash set — string equality semantics identical to
  * array_distinct's, so oracle parity is untouched). Fewer than k
  * words → (0, 0).
  */
case class NgramStats(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = StructType(Seq(
    StructField("n_ngrams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0) return InternalRow(0L, 0L)
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) { words(i) = arr.getUTF8String(i); i += 1 }
    val sep = ExprHelpers.Space
    val seen = new java.util.HashSet[UTF8String](m * 2)
    i = 0
    while (i < m) {
      val slice = new Array[UTF8String](k)
      var j = 0
      while (j < k) { slice(j) = words(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, slice: _*))
      i += 1
    }
    InternalRow(m.toLong, seen.size.toLong)
  }
  override protected def withNewChildInternal(c: Expression): NgramStats = copy(child = c)
}

/** Char-weighted gram repetition stats over an array<string> of words →
  * struct(top_chars long, dup_chars long): the two numerators of the
  * Gopher-style repetition rules (Rae et al. 2021 §A1.1, public) —
  * `top_chars` = occurrences × char-length of the single most frequent
  * k-gram (ties to the lexicographically GREATEST gram, matching the
  * oracle's MAX({'c': c, 'ng': ng}) struct-max), `dup_chars` = the char
  * mass of every k-gram occurring at least twice (occurrences ×
  * char-length, overlap-ignoring — the standard published accounting).
  * One per-row hash-map pass, no gram-array materialization, no
  * shuffle: per-doc quality rules stay a narrow map at any corpus size.
  * Char counts are UTF8String.numChars — identical to DuckDB LEN() on
  * varchar. Fewer than k words → (0, 0).
  */
case class GopherStats(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = StructType(Seq(
    StructField("top_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0) return InternalRow(0L, 0L)
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) { words(i) = arr.getUTF8String(i); i += 1 }
    val sep = ExprHelpers.Space
    val counts = new java.util.HashMap[UTF8String, Int](m * 2)
    i = 0
    while (i < m) {
      val slice = new Array[UTF8String](k)
      var j = 0
      while (j < k) { slice(j) = words(i + j); j += 1 }
      counts.merge(UTF8String.concatWs(sep, slice: _*), 1, Integer.sum _)
      i += 1
    }
    var bestCnt = 0
    var bestNg: UTF8String = null
    var dup = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val ng = e.getKey
      val c = e.getValue
      // (count, gram) lexicographic max — same total order as the
      // DuckDB struct-max the oracle writes
      if (c > bestCnt || (c == bestCnt && (bestNg == null || ng.compareTo(bestNg) > 0))) {
        bestCnt = c; bestNg = ng
      }
      if (c >= 2) dup += c.toLong * ng.numChars()
    }
    val top = if (bestNg == null) 0L else bestCnt.toLong * bestNg.numChars()
    InternalRow(top, dup)
  }
  override protected def withNewChildInternal(c: Expression): GopherStats = copy(child = c)
}

/** All Gopher char-weighted repetition fractions + the combined keep
  * flag in ONE expression evaluation: the per-k [[GopherStats]]
  * formulation pays an interpreted pass (including its inlined
  * `split`) per k AND per consuming projection — project collapse
  * duplicated each of the 7 stats columns into the frac select and
  * the keep predicate, measured 29 µs/doc at 1 M docs. Here the word
  * array is read once and the 7 gram-map scans run back to back in one
  * eval; the caller materializes the struct through `inline(array(…))`
  * so downstream field extraction cannot re-trigger the scan. Output
  * fields: top{k}_frac for each (k, t) in topKs, dup{k}_frac for each
  * in dupKs, then keep = AND of frac < t. Fractions are plain double
  * divisions of exact longs (bit-equal to the Column-level cast/divide
  * they replace); a doc shorter than k words contributes 0 for that k.
  */
case class GopherAll(left: Expression, right: Expression,
    topKs: Seq[(Int, Double)], dupKs: Seq[(Int, Double)])
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(
    (topKs.map { case (k, _) => StructField(s"top${k}_frac", DoubleType, nullable = false) } ++
      dupKs.map { case (k, _) => StructField(s"dup${k}_frac", DoubleType, nullable = false) }) :+
      StructField("keep", BooleanType, nullable = false))
  override def nullSafeEval(wsIn: Any, ncIn: Any): Any = {
    val arr = wsIn.asInstanceOf[ArrayData]
    val nChars = ncIn.asInstanceOf[Long]
    val n = arr.numElements()
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) { words(i) = arr.getUTF8String(i); i += 1 }
    // one (top_chars, dup_chars) scan per k — the same (count, gram)
    // lexicographic winner and >=2-count char mass as GopherStats
    def scan(k: Int): (Long, Long) = {
      val m = n - k + 1
      if (m <= 0) return (0L, 0L)
      val sep = ExprHelpers.Space
      val counts = new java.util.HashMap[UTF8String, Int](m * 2)
      var i = 0
      while (i < m) {
        val slice = new Array[UTF8String](k)
        var j = 0
        while (j < k) { slice(j) = words(i + j); j += 1 }
        counts.merge(UTF8String.concatWs(sep, slice: _*), 1, Integer.sum _)
        i += 1
      }
      var bestCnt = 0
      var bestNg: UTF8String = null
      var dup = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val ng = e.getKey
        val c = e.getValue
        if (c > bestCnt || (c == bestCnt && (bestNg == null || ng.compareTo(bestNg) > 0))) {
          bestCnt = c; bestNg = ng
        }
        if (c >= 2) dup += c.toLong * ng.numChars()
      }
      (if (bestNg == null) 0L else bestCnt.toLong * bestNg.numChars(), dup)
    }
    val out = new Array[Any](topKs.size + dupKs.size + 1)
    var keep = true
    var idx = 0
    topKs.foreach { case (k, t) =>
      val frac = scan(k)._1.toDouble / nChars
      out(idx) = frac; keep &&= frac < t; idx += 1
    }
    dupKs.foreach { case (k, t) =>
      val frac = scan(k)._2.toDouble / nChars
      out(idx) = frac; keep &&= frac < t; idx += 1
    }
    out(idx) = keep
    new GenericInternalRow(out)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): GopherAll =
    copy(left = l, right = r)
}

/** Quantize an array<float|double> vector to integer 1e-6-unit longs —
  * Math.round(x·1e6) per element, the EXACT grid VectorSumAgg's
  * float/double update path applies. Pairs with VectorSumAgg's
  * array<long> input: a caller can quantize once into a projected
  * column and sum pure longs. Measured r17 (interleaved A/B on 1M×64
  * synthetic vectors): hoisting the quantization this way is
  * perf-NEUTRAL for the k-means/PQ loops (the in-update Math.round is
  * not a bottleneck — old 7.9/8.3 s vs hoisted 8.0/8.5 s pq train;
  * caching the extra long column for kmeans measured WORSE), so the
  * internal loops keep the simpler float path; the long-input route
  * exists for callers whose vectors already live as unit longs. Any
  * drift between this grid and VectorSumAgg's would silently change
  * centroids — the cross-engine k-means replays assume ONE grid
  * (VectorAggSpec pins the equivalence).
  */
case class QuantizeUnits(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // lazy: the first construction can wrap an unresolved column
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"quantize_units expects array<float|double>, got $other")
  }
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    if (isFloat)
      while (i < n) { out(i) = Math.round(arr.getFloat(i).toDouble * 1e6); i += 1 }
    else
      while (i < n) { out(i) = Math.round(arr.getDouble(i) * 1e6); i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): QuantizeUnits = copy(child = c)
}

/** L2-normalize an array<float> vector in one tight loop (norm floored
  * at 1e-30 so a zero vector maps to zeros, not NaN). The
  * transform(x -> x / nrm) HOF formulation runs interpreted per
  * element, and the PQ/IVF builders evaluate the normalized column on
  * every training pass.
  */
case class NormalizeF(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = arr.getFloat(i).toDouble; s += v * v; i += 1 }
    val nrm = math.max(math.sqrt(s), 1e-30)
    val out = new Array[Float](n)
    i = 0
    while (i < n) { out(i) = (arr.getFloat(i) / nrm).toFloat; i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): NormalizeF = copy(child = c)
}

/** Product-quantization encode: per subspace, the (squared-L2) argmin
  * sub-centroid id → array<tinyint> of length M. The codebook
  * (M × K × subDim floats) is a build-time constant baked into the
  * expression — collected once from the per-subspace k-means, kilobytes
  * even at K=256. Ties break to the lowest centroid index, so encoding
  * is deterministic. 64-dim float → 4 bytes is 64× compression.
  */
case class PqEncode(child: Expression, codebook: Array[Array[Array[Float]]])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullSafeEval(in: Any): Any = {
    val v = in.asInstanceOf[ArrayData]
    val m = codebook.length
    val codes = new Array[Byte](m)
    var mi = 0
    var off = 0
    while (mi < m) {
      val cb = codebook(mi)
      val sub = cb(0).length
      var best = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < cb.length) {
        val c = cb(k)
        var d = 0.0
        var j = 0
        while (j < sub) {
          val t = v.getFloat(off + j).toDouble - c(j)
          d += t * t
          j += 1
        }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      codes(mi) = best.toByte
      off += sub
      mi += 1
    }
    new GenericArrayData(codes)
  }
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

/** ADC lookup table for one query vector: flattened array<double> of
  * length M×K with table[m·K + k] = dot(query_sub_m, centroid[m][k]).
  * Computed once per QUERY (not per candidate) — scoring a candidate
  * then costs M array reads instead of a full dim-wide dot product.
  */
case class PqQueryTable(child: Expression, codebook: Array[Array[Array[Float]]])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(in: Any): Any = {
    val v = in.asInstanceOf[ArrayData]
    val m = codebook.length
    val kk = codebook(0).length
    val out = new Array[Double](m * kk)
    var mi = 0
    var off = 0
    while (mi < m) {
      val cb = codebook(mi)
      val sub = cb(0).length
      var k = 0
      while (k < kk) {
        val c = cb(k)
        var s = 0.0
        var j = 0
        while (j < sub) { s += v.getFloat(off + j).toDouble * c(j); j += 1 }
        out(mi * kk + k) = s
        k += 1
      }
      off += sub
      mi += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): PqQueryTable = copy(child = c)
}

/** PQ asymmetric-distance score: codes (array<tinyint>, length M) ×
  * query table (array<double>, length M×K) → Σ_m table[m·K + codes[m]]
  * ≈ dot(query, candidate). M lookups per candidate pair — the whole
  * point of PQ scoring.
  */
case class PqAdc(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val table = b.asInstanceOf[ArrayData]
    var s = 0.0
    var mi = 0
    val m = codes.numElements()
    while (mi < m) {
      s += table.getDouble(mi * k + (codes.getByte(mi).toInt & 0xFF))
      mi += 1
    }
    s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
    copy(left = l, right = r)
}

/** Frozen centroid table baked into [[NearestBuckets]] — flat row-major
  * float layout (k × dim) with per-centroid Σc² precomputed, so the
  * argmin scan is pure primitive-array arithmetic. Kilobytes at the
  * adaptiveK cap (4096 × 64 dims × 4 B ≈ 1 MB worst case) — a plan
  * constant, shipped once per executor with the serialized expression,
  * NOT a join side. Ids keep the k-means c_id labels (clusters can be
  * sparse after empty-cluster drop-out); storage is sorted by id so the
  * scan's first-wins tie break reproduces the (distance, c_id asc)
  * window ordering it replaced.
  */
/** NOTE on expression canonicalization: CentroidSet keeps reference
  * identity (arrays, no structural equals/hashCode), so two
  * [[NearestBuckets]] built from SEPARATELY COLLECTED copies of the
  * same centroid table never canonicalize equal and cannot be merged
  * by subexpression elimination. This is deliberate: every call site
  * collects its table once and shares the instance across its branches
  * (where dedup works via identity), and structural equality over a
  * k×dim float array would make every plan-canonicalization pass pay
  * an O(k·dim) compare against a case that doesn't occur in practice.
  */
final class CentroidSet(val ids: Array[Int], val flat: Array[Float], val dim: Int)
    extends Serializable {
  val k: Int = ids.length
  /** Σ c_i² per centroid over the FULL centroid length — matches the
    * dot(c,c) term of the window formulation exactly. */
  val cc: Array[Double] = Array.tabulate(k) { j =>
    var s = 0.0
    var i = 0
    while (i < dim) { val v = flat(j * dim + i).toDouble; s += v * v; i += 1 }
    s
  }
}

object CentroidSet {
  def apply(cents: Array[(Int, Array[Float])]): CentroidSet = {
    require(cents.nonEmpty, "centroid set must be non-empty")
    val sorted = cents.sortBy(_._1)
    val dim = sorted(0)._2.length
    require(sorted.forall(_._2.length == dim),
      s"all centroids must share dim=$dim; got lengths " +
        sorted.map(_._2.length).distinct.mkString(","))
    val flat = new Array[Float](sorted.length * dim)
    var j = 0
    while (j < sorted.length) {
      System.arraycopy(sorted(j)._2, 0, flat, j * dim, dim)
      j += 1
    }
    new CentroidSet(sorted.map(_._1), flat, dim)
  }
}

/** Top-p nearest centroids of an array<float> vector against a baked
  * [[CentroidSet]] → array<struct<bucket:int, score:double>> ordered
  * best-first (p entries, fewer iff the set has fewer centroids).
  * `cosine = false`: score = squared L2 (asc better), computed as
  * (Σe² − 2·Σec) + Σc² — the exact FP sequence of the
  * dot(e,e) − 2·dot(e,c) + dot(c,c) column it replaces, so assignments
  * (and therefore k-means trajectories and every drift/recall spec
  * number) are bit-identical. `cosine = true`: score = Σec/(‖e‖‖c‖)
  * (desc better). Ties break to the lowest centroid id, like the
  * (key, c_id asc) window ordering.
  *
  * This is the fix for the one scale-killer plan shape in the ANN
  * family: the previous crossJoin(broadcast(cents)) +
  * row_number().over(Window.partitionBy(vec_id)) materialized n×k
  * expanded rows AND exchanged them (at adaptiveK's cap that exchange
  * is 4096× corpus volume per k-means iteration). This expression does
  * the same argmin inside the scan projection: zero expansion, zero
  * shuffle, codegen via a static-forwarder call (IntersectCount's
  * idiom), leaving whole-stage codegen intact.
  */
case class NearestBuckets(child: Expression, cents: CentroidSet, p: Int, cosine: Boolean)
    extends UnaryExpression {
  require(p >= 1, s"p must be >= 1, got $p")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def nullSafeEval(in: Any): Any =
    ExprHelpers.nearestBuckets(in.asInstanceOf[ArrayData], cents, p, cosine)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("cents", cents, classOf[CentroidSet].getName)
      s"${ev.value} = graft.functions.ExprHelpers.nearestBuckets($a, $ref, $p, $cosine);"
    })
  override protected def withNewChildInternal(c: Expression): NearestBuckets = copy(child = c)
}

/** Static-forwarder targets for generated code (Scala object methods
  * compile to static methods on the companion class). */
object ExprHelpers {
  /** Shared separator for gram building (allocated once per JVM). */
  val Space: UTF8String = UTF8String.fromString(" ")

  /** Top-p argmin/argmax scan behind [[NearestBuckets]]. One pass over
    * the id-sorted centroid table; candidates are compared with
    * java.lang.Double.compare (NaN greatest, -0.0 < 0.0 — the same
    * total order Spark's sort uses) and only STRICT improvements
    * displace a held slot, so equal scores keep the earlier (lower id)
    * centroid first, reproducing the (score, c_id asc) window ordering
    * this replaced. Insertion into the p-slot arrays is O(k·p) worst
    * case with p ≤ a handful in every caller.
    */
  def nearestBuckets(in: ArrayData, cents: CentroidSet, p: Int, cosine: Boolean): ArrayData = {
    val dim = cents.dim
    val k = cents.k
    val n = if (p < k) p else k
    val flat = cents.flat
    // Σe² over min(|e|, dim) — DotProductF's min-length contract
    val eLen = in.numElements()
    val dLen = if (eLen < dim) eLen else dim
    var ee = 0.0
    var i = 0
    while (i < dLen) { val v = in.getFloat(i).toDouble; ee += v * v; i += 1 }
    val bestScore = new Array[Double](n)
    val bestIdx = new Array[Int](n)
    var filled = 0
    var j = 0
    while (j < k) {
      var ec = 0.0
      val off = j * dim
      var t = 0
      while (t < dLen) { ec += in.getFloat(t).toDouble * flat(off + t).toDouble; t += 1 }
      val score =
        if (cosine) ec / (Math.sqrt(ee) * Math.sqrt(cents.cc(j)))
        else (ee - 2.0 * ec) + cents.cc(j)
      // strict-better test: asc for L2, desc for cosine
      val beatsLast = filled < n || {
        val c = java.lang.Double.compare(score, bestScore(filled - 1))
        if (cosine) c > 0 else c < 0
      }
      if (beatsLast) {
        var pos = if (filled < n) filled else n - 1
        while (pos > 0 && {
          val c = java.lang.Double.compare(score, bestScore(pos - 1))
          if (cosine) c > 0 else c < 0
        }) {
          bestScore(pos) = bestScore(pos - 1)
          bestIdx(pos) = bestIdx(pos - 1)
          pos -= 1
        }
        bestScore(pos) = score
        bestIdx(pos) = j
        if (filled < n) filled += 1
      }
      j += 1
    }
    val rows = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      rows(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](cents.ids(bestIdx(r)), bestScore(r)))
      r += 1
    }
    new GenericArrayData(rows)
  }

  /** Count hot path behind [[BpeCount]] — per word: memo-cache lookup
    * or one greedy-merge encode; no token arrays materialized. */
  def bpeCount(s: UTF8String, v: BpeVocab): Long = {
    var n = 0L
    BpeHelpers.eachWord(s.toString) { w => n += v.encodeWord(w).length }
    n
  }

  /** Token stream behind [[BpeTokens]]. */
  def bpeTokens(s: UTF8String, v: BpeVocab): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    BpeHelpers.eachWord(s.toString) { w =>
      val toks = v.encodeWord(w)
      var i = 0
      while (i < toks.length) { out += UTF8String.fromString(toks(i)); i += 1 }
    }
    new GenericArrayData(out.toArray)
  }

  /** Word-atomic first-fit packing behind [[BpeTokenChunks]]. */
  def bpeTokenChunks(s: UTF8String, v: BpeVocab, budget: Int): GenericArrayData = {
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Any]
    val open = new java.lang.StringBuilder()
    var used = 0L
    def close(): Unit = if (open.length > 0) {
      chunks += UTF8String.fromString(open.toString)
      open.setLength(0); used = 0L
    }
    BpeHelpers.eachWord(s.toString) { w =>
      val n = v.encodeWord(w).length
      if (used > 0 && used + n > budget) close()
      if (open.length > 0) open.append(' ')
      open.append(w)
      used += n
      // a single over-budget word fills its own chunk
      if (used >= budget) close()
    }
    close()
    new GenericArrayData(chunks.toArray)
  }

  def tokenBitset(a: ArrayData, vocab: TokenVocab): ArrayData = {
    val out = new Array[Long](vocab.nLongs)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val w = a.getUTF8String(i)
      val j = vocab.indexOf(w)
      if (j < 0)
        throw new IllegalArgumentException(s"token not in vocabulary: $w")
      out(j >> 6) |= 1L << (j & 63)
      i += 1
    }
    new GenericArrayData(out)
  }

  def hashBitset(a: ArrayData, numBits: Int): ArrayData = {
    val out = new Array[Long](numBits >> 6)
    val mask = numBits - 1
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val j = (XxHash64Function.hash(a.getUTF8String(i), StringType, 42L) & mask).toInt
      out(j >> 6) |= 1L << (j & 63)
      i += 1
    }
    new GenericArrayData(out)
  }

  def bitsetIntersect(a: ArrayData, b: ArrayData): Long = {
    var c = 0L
    val n = a.numElements()
    var i = 0
    while (i < n) {
      c += java.lang.Long.bitCount(a.getLong(i) & b.getLong(i))
      i += 1
    }
    c
  }

  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    var x = a
    var y = b
    if (x.numElements() > y.numElements()) { val t = x; x = y; y = t }
    val set = new java.util.HashSet[UTF8String](x.numElements() * 2)
    var i = 0
    while (i < x.numElements()) { set.add(x.getUTF8String(i)); i += 1 }
    var cnt = 0L
    var j = 0
    while (j < y.numElements()) {
      if (set.remove(y.getUTF8String(j))) cnt += 1
      j += 1
    }
    cnt
  }
}

/** Per-position k-gram hashes over an array<string> of words →
  * array<long> (one xxhash64 per gram, same seed-42 gram hashing as the
  * rest of the family). Fused: the d41 substring-dedup position explode
  * needs ONLY the 8-byte hash per position — materializing the k-word
  * gram strings through WordNgrams first would push O(tokens × k) bytes
  * through the explode and the shuffle. Fewer than k words → empty.
  */
case class NgramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) { words(i) = arr.getUTF8String(i); i += 1 }
    val sep = ExprHelpers.Space
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      val slice = new Array[UTF8String](k)
      var j = 0
      while (j < k) { slice(j) = words(i + j); j += 1 }
      out(i) = XxHash64Function.hash(UTF8String.concatWs(sep, slice: _*), StringType, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): NgramHashes = copy(child = c)
}

/** A Bloom filter over 64-bit gram hashes, baked into the plan as a
  * constant (the CentroidSet/BpeVocab discipline: no broadcast join, no
  * shuffle — the probe rides the scan projection). m must be a power
  * of two; kk probe positions come from double hashing on the SIGNED
  * gram hash reinterpreted as unsigned bits: h1 = h & (m−1),
  * h2 = ((h >>> 18) & (m−1)) | 1 (odd stride), p_i = (h1 + i·h2) &
  * (m−1) — every step replays exactly on the oracle's unsigned
  * HUGEINT (low-bit masks ≡ mod 2^k). Serializable: ships once per
  * task via the expression's reference object. */
final class BloomBits(val m: Int, val kk: Int, val words: Array[Long])
    extends Serializable {
  require(Integer.bitCount(m) == 1, s"m must be a power of two, got $m")
  require(words.length == m / 64, s"need ${m / 64} words, got ${words.length}")
  def test(pos: Int): Boolean = (words(pos >>> 6) & (1L << (pos & 63))) != 0
}

object BloomBits {
  /** Probe positions for hash `h` (kk entries). */
  def positions(h: Long, m: Int, kk: Int): Array[Int] = {
    val mask = m - 1
    val h1 = (h & mask).toInt
    val h2 = (((h >>> 18) & mask) | 1L).toInt
    Array.tabulate(kk)(i => (h1 + i * h2) & mask)
  }

  /** Build from the distinct gram-hash set (driver-side; the bench
    * side is eval-suite-sized by contract, like semanticDecon's
    * CentroidSet pull). */
  def build(hashes: Array[Long], m: Int, kk: Int): BloomBits = {
    val words = new Array[Long](m / 64)
    hashes.foreach { h =>
      positions(h, m, kk).foreach(p => words(p >>> 6) |= 1L << (p & 63))
    }
    new BloomBits(m, kk, words)
  }
}

/** Count of gram hashes whose kk Bloom positions are ALL set — the
  * streaming-friendly decontamination gate: the benchmark gram set
  * compresses to m bits of plan constant, and the corpus-side test is
  * a narrow map (vs d24's broadcast semi-join materializing the full
  * bench gram table per task). Counts every OCCURRENCE (array
  * element), duplicates included — mirrored by the oracle's
  * per-occurrence join. */
case class BloomProbe(child: Expression, bits: BloomBits)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var hits = 0L
    var i = 0
    while (i < n) {
      val ps = BloomBits.positions(arr.getLong(i), bits.m, bits.kk)
      var ok = true
      var j = 0
      while (ok && j < ps.length) { ok = bits.test(ps(j)); j += 1 }
      if (ok) hits += 1L
      i += 1
    }
    hits
  }
  override protected def withNewChildInternal(c: Expression): BloomProbe = copy(child = c)
}

/** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003
  * — the MOSS scheme, public): over a k-gram hash array, every window
  * of `w` consecutive hashes contributes its MINIMUM (ties → leftmost,
  * i.e. min by (hash, pos) on SIGNED longs — the order the oracle's
  * MIN(STRUCT(h, pos)) replays), deduplicated across overlapping
  * windows. Guarantee: any shared token run of ≥ w+k−1 tokens yields
  * ≥1 shared fingerprint, while only ~2/(w+1) of the grams are kept.
  * Docs with 0 < m < w hashes winnow one whole-array window. Returns
  * the selected hashes in position order (duplicate hash VALUES from
  * distinct positions may repeat — callers distinct per doc). One
  * tight loop per row: no explode, no per-doc window shuffle.
  */
case class WinnowSelect(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(w >= 1, s"w must be >= 1, got $w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val wl = if (m < w) m else w
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    // leftmost-min selections are position-monotone, so consecutive
    // windows re-selecting the same position dedupe with one cursor
    var lastPos = -1
    var s = 0
    while (s <= m - wl) {
      var bp = s
      var bh = arr.getLong(s)
      var q = s + 1
      while (q < s + wl) {
        val h = arr.getLong(q)
        if (h < bh) { bh = h; bp = q }
        q += 1
      }
      if (bp != lastPos) { out += bh; lastPos = bp }
      s += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): WinnowSelect = copy(child = c)
}

/** Merge a SORTED array<int> of shared k-gram positions into maximal
  * runs → array<struct<start_tok int, n_tokens int>>: consecutive
  * positions p, p+1 overlap as k-grams, so a maximal consecutive
  * stretch [p0..p1] is one duplicated token run covering
  * p1 - p0 + k tokens (Lee et al. 2021's duplicated-substring spans,
  * at k-gram resolution). The gaps-and-islands step of d41 as one tight
  * loop per doc — no window, no interpreted per-element lambda.
  */
case class IslandRuns(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start_tok", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false))), containsNull = false)
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var start = arr.getInt(0)
    var prev = start
    var i = 1
    while (i <= n) {
      val p = if (i < n) arr.getInt(i) else Int.MinValue
      if (i == n || p != prev + 1) {
        out += InternalRow(start, prev - start + k)
        if (i < n) { start = p; prev = p }
      } else prev = p
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): IslandRuns = copy(child = c)
}

/** Greedy sequential packing of a SORTED array<struct<doc_id long,
  * n_tok int>> into training sequences of at most `capacity` tokens
  * (T5/LLM-pretraining sequence packing): walk the docs in order,
  * accumulate token counts, start a new sequence when the next doc
  * would overflow; a doc longer than the capacity gets a sequence of
  * its own. Output array<struct<doc_id, n_tok, seq_id, tok_offset>>
  * with seq_id 1-based within the input array. The scan is inherently
  * sequential, which is exactly why the caller bounds it to a
  * (source, shard) group — one tight loop per group, never a window
  * or driver pass over the corpus.
  */
case class PackSeqs(child: Expression, capacity: Int)
    extends UnaryExpression with CodegenFallback {
  require(capacity >= 1, s"capacity must be >= 1, got $capacity")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("seq_id", IntegerType, nullable = false),
    StructField("tok_offset", IntegerType, nullable = false))), containsNull = false)
  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var seq = 0
    var acc = 0
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      val id = row.getLong(0)
      val nt = row.getInt(1)
      if (i == 0 || acc + nt > capacity) { seq += 1; acc = 0 }
      out(i) = InternalRow(id, nt, seq, acc)
      acc += nt
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): PackSeqs = copy(child = c)
}

/** First array element whose FIRST struct field equals `right`
  * (an int key), or null — the q53 legId→leg correlation as one
  * linear scan per lookup. Replaces the interpreted HOF fold that
  * built an immutable map via per-element map_concat (O(legs²)
  * copies per payload, measured the q53 parse hotspot at 10×).
  * Semantics match the fold + element_at pair exactly: null keys
  * never match (skipped), a duplicated key resolves to its first
  * occurrence, a missing key returns null. */
case class LegLookup(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  // resolution-time only — never touched at construction (the
  // unresolved-column ctor lesson)
  private lazy val numFields =
    left.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].length
  override def dataType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val legs = left.eval(input)
    val id = right.eval(input)
    if (legs == null || id == null) return null
    val arr = legs.asInstanceOf[ArrayData]
    val target = id.asInstanceOf[Int]
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val st = arr.getStruct(i, numFields)
        if (!st.isNullAt(0) && st.getInt(0) == target) return st
      }
      i += 1
    }
    null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LegLookup =
    copy(left = l, right = r)
}

/** The one MATCH_RECOGNIZE-style automaton behind the CEP family
  * `start mid{minMid,maxMid} end` — q57, q64 and q65, in batch
  * ([[EventMatches]]) and in the stream
  * (`graft.streaming.EventStream.cepStream`). [[step]] takes ONE key's
  * rows in ascending (ts, id) order, tag 0=start / 1=mid / 2=end /
  * 3=other / 4=start-or-mid; a whole match lies inside `spanUs`
  * microseconds of its start row.
  *
  * AFTER MATCH SKIP TO NEXT ROW (SQL:2016 §R021): matching resumes at
  * the row after a matched start, so matches may OVERLAP — exactly when
  * a start row can also be consumed as a mid (tag 4, e.g. q65's
  * `view (click|view)* purchase`). Every open attempt (one per
  * un-killed start row) is kept: a mid advances all, per-attempt
  * overflow/expiry kills individually, a pure start or an `other` row
  * kills all (strict contiguity — no open attempt can consume it), and
  * an end row closes EVERY in-span attempt (a match iff its mid count is
  * in bounds). Exact because the sequential semantics evaluates each
  * start row's attempt independently, and attempts here never interact.
  * With disjoint sets (no tag 4) at most one attempt is open and the
  * machine is the single-attempt SKIP PAST LAST ROW automaton q57/q64
  * declare: a failed attempt's interior holds only mid rows, which open
  * nothing, so resuming there loses no match (PropertySpec pins both
  * regimes against hand-written references).
  *
  * An open attempt is (sTs, sId, midAtOpen), midAtOpen the global mid
  * counter when it opened, so n_mid = midCount - midAtOpen without
  * touching attempts on a mid row. Appended in ts order, both eviction
  * conditions are front-monotone along the deque (sTs ascends: expiry
  * pops the oldest first; midAtOpen ascends: overflow is largest at the
  * front), so a row costs O(1) amortized — not O(open), which is
  * O(span²) per key on a whale whose span holds many start∩mid rows.
  * [[openAttempts]] exports them as restart-stable (s_ts, s_id, n_mid);
  * [[reopen]] restores them in that order.
  *
  * @param emit called once per match, in match order (ties on one end
  *   row in start order): (start_id, start_ts, end_id, end_ts, n_mid) */
final class CepMachine(spanUs: Long, minMid: Int = 0, maxMid: Int = Int.MaxValue)(
    emit: (Long, Long, Long, Long, Int) => Unit) {
  private final class Open(val sTs: Long, val sId: Long, val midAtOpen: Long)
  private val open = scala.collection.mutable.ArrayDeque.empty[Open]
  private var midCount = 0L

  def step(ts: Long, id: Long, tag: Int): Unit = {
    // span expiry: an attempt the current row falls outside of could not
    // consume ANY later row either (ts ascends)
    while (open.nonEmpty && ts - open.head.sTs > spanUs) open.removeHead()
    tag match {
      case 2 =>
        open.foreach { a =>
          val nMid = midCount - a.midAtOpen
          if (nMid >= minMid && nMid <= maxMid) emit(a.sId, a.sTs, id, ts, nMid.toInt)
        }
        open.clear()
      case 1 | 4 => // a start-or-mid advances every open attempt AND opens its own
        midCount += 1
        while (open.nonEmpty && midCount - open.head.midAtOpen > maxMid.toLong)
          open.removeHead()
        if (tag == 4) open.append(new Open(ts, id, midCount))
      case 0 =>
        open.clear()
        open.append(new Open(ts, id, midCount))
      case _ =>
        open.clear()
    }
  }

  def openAttempts: Seq[(Long, Long, Int)] =
    open.iterator.map(a => (a.sTs, a.sId, (midCount - a.midAtOpen).toInt)).toSeq

  def reopen(sTs: Long, sId: Long, nMid: Int): Unit =
    open.append(new Open(sTs, sId, midCount - nMid))
}

/** [[CepMachine]] as a Catalyst expression, over ONE key's events: an
  * array<struct<ts, event_id, tag>> sorted ascending (struct sort on
  * the unique (ts, event_id) key makes the order total). Emits
  * array<struct<start_event_id, start_ts, end_event_id, end_ts, n_mid>>
  * — one element per completed match, in match order. */
case class EventMatches(child: Expression, spanUs: Long,
    minMid: Int = 0, maxMid: Int = Int.MaxValue)
    extends UnaryExpression with CodegenFallback {
  require(spanUs > 0, s"spanUs must be positive, got $spanUs")
  require(minMid >= 0 && maxMid >= minMid,
    s"mid bounds must satisfy 0 <= min <= max, got {$minMid,$maxMid}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start_event_id", LongType, nullable = false),
    StructField("start_ts", TimestampType, nullable = false),
    StructField("end_event_id", LongType, nullable = false),
    StructField("end_ts", TimestampType, nullable = false),
    StructField("n_mid", IntegerType, nullable = false))), containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val machine = new CepMachine(spanUs, minMid, maxMid)(
      (sId, sTs, eId, eTs, nMid) => out += InternalRow(sId, sTs, eId, eTs, nMid))
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      machine.step(row.getLong(0), row.getLong(1), row.getInt(2))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): EventMatches = copy(child = c)
}

object VectorExprs {
  def dotF(a: Column, b: Column): Column = toCol(DotProductF(toExpr(a), toExpr(b)))
  def dotI8(a: Column, b: Column): Column = toCol(DotProductI8(toExpr(a), toExpr(b)))
  def quantize8(c: Column): Column = toCol(Quantize8(toExpr(c)))
  def sigAgree(a: Column, b: Column): Column = toCol(SigAgreeCount(toExpr(a), toExpr(b)))
  def packSigns64(c: Column): Column = toCol(PackSigns64(toExpr(c)))
  def simhash64(c: Column): Column = toCol(SimHash64(toExpr(c)))
  def intersectCount(a: Column, b: Column): Column = toCol(IntersectCount(toExpr(a), toExpr(b)))
  def tokenBitset(c: Column, vocab: TokenVocab): Column = toCol(TokenBitset(toExpr(c), vocab))
  def hashBitset(c: Column, numBits: Int): Column = toCol(HashBitset(toExpr(c), numBits))
  def bitsetIntersect(a: Column, b: Column): Column = toCol(BitsetIntersect(toExpr(a), toExpr(b)))
  def minhashShingleSig(c: Column, k: Int, perms: Int): Column =
    toCol(MinHashShingleSig(toExpr(c), k, perms))
  def wordNgrams(c: Column, k: Int): Column = toCol(WordNgrams(toExpr(c), k))
  def ngramStats(c: Column, k: Int): Column = toCol(NgramStats(toExpr(c), k))
  def gopherStats(c: Column, k: Int): Column = toCol(GopherStats(toExpr(c), k))
  def gopherAll(ws: Column, nChars: Column,
      topKs: Seq[(Int, Double)], dupKs: Seq[(Int, Double)]): Column =
    toCol(GopherAll(toExpr(ws), toExpr(nChars), topKs, dupKs))
  def ngramHashes(c: Column, k: Int): Column = toCol(NgramHashes(toExpr(c), k))
  def winnowSelect(c: Column, w: Int): Column = toCol(WinnowSelect(toExpr(c), w))
  def bloomProbe(c: Column, bits: BloomBits): Column = toCol(BloomProbe(toExpr(c), bits))
  def islandRuns(c: Column, k: Int): Column = toCol(IslandRuns(toExpr(c), k))
  def packSeqs(c: Column, capacity: Int): Column = toCol(PackSeqs(toExpr(c), capacity))
  def eventMatches(c: Column, spanUs: Long, minMid: Int, maxMid: Int): Column =
    toCol(EventMatches(toExpr(c), spanUs, minMid, maxMid))
  def legLookup(legs: Column, legId: Column): Column =
    toCol(LegLookup(toExpr(legs), toExpr(legId)))
  def normalizeF(c: Column): Column = toCol(NormalizeF(toExpr(c)))
  def quantizeUnits(c: Column): Column = toCol(QuantizeUnits(toExpr(c)))
  def pqEncode(c: Column, cb: Array[Array[Array[Float]]]): Column =
    toCol(PqEncode(toExpr(c), cb))
  def pqQueryTable(c: Column, cb: Array[Array[Array[Float]]]): Column =
    toCol(PqQueryTable(toExpr(c), cb))
  def pqAdc(codes: Column, table: Column, k: Int): Column =
    toCol(PqAdc(toExpr(codes), toExpr(table), k))
  def nearestBuckets(c: Column, cents: CentroidSet, p: Int, cosine: Boolean): Column =
    toCol(NearestBuckets(toExpr(c), cents, p, cosine))

  /** Register for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("dot_f", es => DotProductF(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("dot_i8", es => DotProductI8(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("quantize8", es => Quantize8(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64", es => SimHash64(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_sig",
      es => MinHashSig(es(0), es(1).eval().asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("word_ngrams",
      es => WordNgrams(es(0), es(1).eval().asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("ngram_stats",
      es => NgramStats(es(0), es(1).eval().asInstanceOf[Int]), "scala_udf")
    // aggregate sketches: SQL-surface access to the TypedImperativeAggregates
    reg.createOrReplaceTempFunction("heavy_hitters",
      es => HeavyHittersAgg(es(0), es(1).eval().asInstanceOf[Int])
        .toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("theta_sketch",
      es => ThetaSketchAgg(es(0), es(1).eval().asInstanceOf[Int])
        .toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("topk_by_score",
      es => TopKByScore(es(0), es(1).eval().asInstanceOf[Int])
        .toAggregateExpression(), "scala_udf")
    // CEP: event_matches(sorted array<struct<ts,event_id,tag>>, span_us
    // [, min_mid, max_mid]) — the `start mid{m,n} end` automaton
    // (CepMachine). Tag-set parameterization happens in SQL (the
    // caller's CASE WHEN builds the tag: 0 start, 1 mid, 2 end, 3 other,
    // 4 start-and-mid), so every pattern of the family — q57's, q64's
    // and q65's included — is reachable from spark.sql; the
    // event_pattern TVFs (SqlSurface) wrap the common whole-table shape.
    reg.createOrReplaceTempFunction("event_matches",
      es => {
        def asLong(e: Expression): Long = e.eval() match {
          case l: Long => l
          case i: Int => i.toLong
        }
        require(es.length == 2 || es.length == 4,
          s"event_matches(evs, span_us[, min_mid, max_mid]) takes 2 or 4 args, got ${es.length}")
        if (es.length == 4)
          EventMatches(es(0), asLong(es(1)), asLong(es(2)).toInt, asLong(es(3)).toInt)
        else EventMatches(es(0), asLong(es(1)))
      }, "scala_udf")
    // gopher_stats(words_array, k): (top_chars, dup_chars) of the d43
    // repetition rules for one k — SQL-composable quality scoring
    reg.createOrReplaceTempFunction("gopher_stats",
      es => GopherStats(es(0), es(1).eval().asInstanceOf[Int]), "scala_udf")
  }
}
