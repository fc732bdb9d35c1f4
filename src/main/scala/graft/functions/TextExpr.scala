package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as a single tight expression: for each of `k`
  * seeds, the lexicographic minimum of md5(shingle '#' seed) over the
  * input shingle array.
  *
  * Value-identical to the declarative form
  * `transform(sequence(0,k-1), s -> array_min(transform(sh, x ->
  * md5(concat(x,'#',s)))))` (and to the DuckDB twin) — the md5 hex and
  * string ordering are byte-equal — but evaluated as one loop over
  * `k × |sh|` digests instead of nested interpreted lambdas with
  * per-element allocation. Shuffle-free per-row work, so it scales as
  * pure map parallelism; CodegenFallback is fine because the loop body
  * dominates, not expression dispatch; it also keeps the operator out
  * of whole-stage codegen.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_minhash"

  private val hexDigits = "0123456789abcdef".toCharArray

  private def md5Hex(md: MessageDigest, data: Array[Byte]): String = {
    val d = md.digest(data)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    // null elements are skipped (the function is SQL-registered, so
    // arbitrary arrays reach it): a null shingle is an absent feature,
    // not a crash. The production call sites (split/ngram outputs)
    // never contain nulls, so this changes nothing for the audits.
    val shingleBytes = (0 until arr.numElements()).iterator
      .filterNot(arr.isNullAt)
      .map(i => arr.getUTF8String(i).getBytes).toArray
    val n = shingleBytes.length
    val md = MessageDigest.getInstance("MD5")
    val sig = new Array[Any](k)
    var s = 0
    while (s < k) {
      val suffix = s"#$s".getBytes("UTF-8")
      var best: String = null
      var j = 0
      while (j < n) {
        val payload = new Array[Byte](shingleBytes(j).length + suffix.length)
        System.arraycopy(shingleBytes(j), 0, payload, 0, shingleBytes(j).length)
        System.arraycopy(suffix, 0, payload, shingleBytes(j).length, suffix.length)
        val h = md5Hex(md, payload)
        if (best == null || h.compareTo(best) < 0) best = h
        j += 1
      }
      sig(s) = UTF8String.fromString(if (best == null) "" else best)
      s += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** 64-bit SimHash of an array<string> feature column, emitted as the
  * 4×16-bit pigeonhole band integers the hamming ≤ 3 join keys on.
  *
  * Value-identical to the declarative form the audits' DuckDB twins
  * replay — th = transform(features, x -> md5(x)); fingerprint bit p
  * set iff Σ_th (2·bit_p(h) − 1) > 0, where bit_p is the p-th bit
  * (MSB-first) of the digest's first 8 bytes; band b packs bits
  * 16b..16b+15 MSB-first (ExtensionsSpec pins the equality) — but computed
  * as ONE digest + vote loop per row instead of a 64-way interpreted
  * lambda that re-scans the hash array per bit position with
  * per-element string arithmetic (measured: the shingle-set
  * fingerprint build over sf0.1 drops from ~14 min to seconds; the
  * lambda form was the single largest one-time cost in the suite).
  * Shuffle-free per-row work — pure map parallelism at any scale;
  * CodegenFallback is fine because the digest loop dominates, not
  * expression dispatch; it also keeps the operator out of whole-stage
  * codegen.
  */
case class SimHashBands(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_simhash_bands"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val total = arr.numElements()
    val md = MessageDigest.getInstance("MD5")
    val cnt = new Array[Int](64)
    // null elements are skipped (SQL-registered function — arbitrary
    // arrays reach it): a null feature neither votes nor counts toward
    // the majority threshold. Production call sites never emit nulls.
    var n = 0
    var i = 0
    while (i < total) {
      if (!arr.isNullAt(i)) {
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var p = 0
        while (p < 64) {
          cnt(p) += (d(p >> 3) >> (7 - (p & 7))) & 1
          p += 1
        }
        n += 1
      }
      i += 1
    }
    // vote > 0 ⟺ 2·cnt > n (sum of ±1 votes rewritten over the count)
    val bands = new Array[Any](4)
    var b = 0
    while (b < 4) {
      var v = 0L
      var j = 0
      while (j < 16) {
        v = v * 2 + (if (2 * cnt(b * 16 + j) > n) 1L else 0L)
        j += 1
      }
      bands(b) = v
      b += 1
    }
    new GenericArrayData(bands)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashBands =
    copy(child = newChild)
}

/** Custom Catalyst `Generator` (SURVEY §2-J UDTF tier): word n-grams
  * emitted LAZILY, one row at a time. The declarative formulation
  * (`explode(transform(sequence(...), i -> concat(...)))`) first
  * materializes the complete shingle array per row — for a 1 MB
  * document that is hundreds of thousands of strings resident at once,
  * per row, before the explode even starts. This generator yields each
  * n-gram from an iterator over one shared token array, so peak memory
  * per row is the token split plus ONE n-gram, independent of document
  * length. Value-identical to the eager form (ExtensionsSpec asserts
  * it); splits on single spaces exactly like `split(text, ' ')`.
  */
case class WordNGrams(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {
  require(n >= 1 && n <= 16, s"graft_ngrams: n must be in [1, 16], got $n")

  override def prettyName: String = "graft_ngrams"

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_ngrams requires a string column, got ${child.dataType.catalogString}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow):
      IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      // -1 keeps trailing empty tokens, matching split(text, ' ')
      val words = v.asInstanceOf[UTF8String].toString.split(" ", -1)
      if (words.length < n) Iterator.empty
      else (0 to words.length - n).iterator.map { i =>
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(words.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

/** Unicode normalization (`java.text.Normalizer`) as a codegen unary
  * expression (its generated code calls `compute` through
  * [[Kernel.callCompute]]) — stays inside whole-stage codegen, unlike
  * the digest-loop expressions above (whose loop bodies dominate and
  * make CodegenFallback the right call). Spark ships no normalization
  * function, yet NFC canonicalization is a standard corpus-hygiene
  * step: the same text can arrive precomposed (é = U+00E9) or
  * decomposed (e + U+0301), byte-different but canonically equal, so
  * exact dedup silently misses cross-form duplicates. The kernel
  * takes the `isNormalized` fast path first — for the (typical)
  * already-NFC row it costs one scan and ZERO allocation, so at 100 TB
  * the pass is cheap map-side work that only pays the normalize
  * allocation on the rows that need it. Form is constructor-pinned to
  * the java.text enum names; NFC matches DuckDB's `nfc_normalize`
  * byte-for-byte (both implement Unicode TR-15), which is what makes
  * `llm_unicode_normalize` oracle-able. */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {
  require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unsupported normalization form: $form")

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_normalize"

  @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)

  def compute(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, f)) u
    else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => Kernel.callCompute(ctx, ev, this, c))

  override protected def withNewChildInternal(
      newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** `size(array_intersect(a, b))` without materializing the intersection
  * — the r16 verify kernel. Every exact near-dup verify in the engine
  * (PPJoin's Jaccard, the kNN-graph Jaccard, ngram-jaccard, minhash
  * containment, the in-stream dedup verdicts) needs only the COUNT of
  * distinct common elements, but `array_intersect` allocates a hash
  * set, an output array, AND a second pass for `size()` — per candidate
  * PAIR. This expression counts in one set-build + one probe pass with
  * zero output allocation.
  *
  * Semantics are EXACTLY `size(array_intersect(a, b))` on any pair of
  * NON-NULL arrays (Round16Spec pins it, duplicate and null ELEMENTS
  * included): distinct common elements count once — matched set
  * entries are removed so a duplicate in `b` cannot recount — and a
  * null element present on both sides counts once, mirroring
  * array_intersect's null handling. When either INPUT array is NULL
  * the two diverge (ADVICE r16): this BinaryExpression is
  * null-in/null-out, while `size(array_intersect(...))` under Spark's
  * default legacy sizeOfNull returns −1 — the intended behavior here
  * (a null set has no meaningful overlap count; −1 would flow into
  * ratio arithmetic as a real value). The engine's call sites all
  * feed non-null, distinct-by-construction arrays, so no declared
  * result depends on the difference. Shuffle-free per-row work;
  * CodegenFallback is fine because the set probe loop dominates, not
  * expression dispatch; it also keeps the operator out of whole-stage
  * codegen.
  */
case class IntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_intersect_size"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> arguments, " +
        s"got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val set = new java.util.HashSet[UTF8String](
      math.max(8, aa.numElements() * 2))
    var aHasNull = false
    var i = 0
    while (i < aa.numElements()) {
      if (aa.isNullAt(i)) aHasNull = true
      else set.add(aa.getUTF8String(i))
      i += 1
    }
    var count = 0
    var j = 0
    while (j < bb.numElements()) {
      if (bb.isNullAt(j)) {
        if (aHasNull) { count += 1; aHasNull = false }
      } else if (set.remove(bb.getUTF8String(j))) count += 1
      j += 1
    }
    count
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSize =
    copy(left = newLeft, right = newRight)
}

object TextOps {
  /** |distinct(a) ∩ distinct(b)| of two array<string> columns — see
    * [[IntersectSize]]; value-identical to size(array_intersect(a,b))
    * for non-null inputs (null input → null, not legacy −1). */
  def intersectSize(a: Column, b: Column): Column =
    GraftSqlBridge.toColumn(IntersectSize(
      GraftSqlBridge.toExpression(a), GraftSqlBridge.toExpression(b)))

  /** k-hash MinHash signature of an array<string> column. */
  def minhashSig(shingles: Column, k: Int): Column =
    GraftSqlBridge.toColumn(
      MinHashSignature(GraftSqlBridge.toExpression(shingles), k))

  /** 4×16-bit SimHash bands of an array<string> feature column. */
  def simhashBands(features: Column): Column =
    GraftSqlBridge.toColumn(
      SimHashBands(GraftSqlBridge.toExpression(features)))

  /** Lazy word n-gram fan-out of a string column (custom Generator). */
  def wordNGrams(text: Column, n: Int): Column =
    GraftSqlBridge.toColumn(
      WordNGrams(GraftSqlBridge.toExpression(text), n))

  /** Unicode-normalized form of a string column (NFC by default —
    * the DuckDB-parity form). */
  def unicodeNorm(text: Column, form: String = "NFC"): Column =
    GraftSqlBridge.toColumn(
      UnicodeNormalize(GraftSqlBridge.toExpression(text), form))
}
