package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass window fingerprinting for the ExactSubstr scan
 * (q_substr_dedup): all `k`-CHARACTER window hashes of a string,
 * computed as a byte-exact polynomial rolling hash in a single O(n)
 * traversal.
 *
 * Replaces the HOF formulation
 * `transform(sequence(1, n-k+1), i -> xxhash64(substring(text, i, k)))`,
 * which costs O(n·k) — every window re-extracts a k-char substring
 * (allocation + copy) and re-hashes its bytes — AND runs interpreted:
 * Spark's ArrayTransform is CodegenFallback, so the lambda is
 * evaluated expression-tree-at-a-time per window. This kernel does the
 * whole row in one tight codegen loop: prefix hashes at char
 * boundaries, then each window is two multiplies and a subtract
 * (`P[i+k] − P[i]·B^bytes(window)`), byte-length-aware so multi-byte
 * UTF-8 windows hash their exact byte span.
 *
 * Grouping semantics are what the ExactSubstr plan needs and the
 * DuckDB oracle pins (the oracle groups the RAW 30-char windows):
 * equal substrings always hash equal (the hash is a pure function of
 * the window's bytes); unequal substrings collide with ~2⁻⁶⁴
 * probability per pair, the same regime as the xxhash64 formulation it
 * replaces (a collision would shift a count and hash-fail the gate —
 * at gate scale ~250k distinct windows that chance is ~1e-9). Each
 * window hash is additionally mixed through murmur3's fmix64
 * finalizer — a bijection, so equal-iff-equal is untouched — which
 * breaks the LINEAR collision classes a fixed-base polynomial mod-2⁶⁴
 * carries (adversarially craftable same-hash window families), at the
 * cost of three shift-xors and two multiplies per window.
 *
 * Null string → null; fewer than `k` chars → EMPTY array (explode
 * emits nothing — same downstream behavior as the `length(text) >= k`
 * guard the call site keeps for clarity).
 */
case class SubstrHashWindowsExpr(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, s"window length must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"substr_hash_windows expects string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      SubstrHash.hashWindows(input.asInstanceOf[UTF8String], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val arr = ctx.freshName("arr")
      s"""
         |long[] $arr = graft.functions.SubstrHash.hashWindows($s, $k);
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SubstrHashWindowsExpr = copy(child = newChild)

  override def prettyName: String = "substr_hash_windows"
}

/**
 * Sorted run-length-encoded window fingerprints: the per-document gram
 * MULTISET `(hash, count)` computed inside the row, replacing
 * q_substr_dedup's `explode → groupBy(doc_id, h)` stage. That stage
 * paid a corpus-position-scale hash aggregation (every window a probe
 * into a hash map carrying every distinct (doc, gram) of the map
 * partition) plus an exchange of the distinct pairs; here each doc's
 * windows sort in-row (primitive long sort, cache-local) and
 * run-length-encode in one pass — no shuffle, no shared hash table,
 * and downstream sees exactly the rows the groupBy produced.
 * Element order within the array is ascending by hash — irrelevant to
 * the downstream aggregation (SubstrHashSpec pins multiset parity with
 * the groupBy formulation, not order).
 */
case class SubstrHashWindowsRleExpr(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, s"window length must be >= 1, got $k")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h", LongType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"substr_hash_windows_rle expects string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    SubstrHash.hashWindowsRle(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = graft.functions.SubstrHash.hashWindowsRle($s, $k);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SubstrHashWindowsRleExpr = copy(child = newChild)

  override def prettyName: String = "substr_hash_windows_rle"
}

object SubstrHash {

  /** Polynomial base: FNV-64 prime — odd, so multiplication by it is a
   * bijection mod 2⁶⁴ and prefix differences cancel exactly. */
  final val B = 1099511628211L

  /** All k-char window hashes of `s` (empty if `s` has < k chars).
   * Static entry point shared by interpreted eval and generated code
   * (top-level Scala objects emit static forwarders, so Janino can
   * call this directly). One O(n) pass for char-boundary offsets and
   * prefix hashes, a window-span-sized B-power table (≤ 4k entries,
   * NOT doc-sized), then each window is
   * `P[w+k] − P[w]·B^(byteLen of window)`. */
  def hashWindows(s: UTF8String, k: Int): Array[Long] = {
    val bytes = s.getBytes
    val m = bytes.length
    // char-boundary byte offsets: off(c) = first byte of char c; off(nChars) = m
    val off = new Array[Int](m + 1)
    var nChars = 0
    var i = 0
    while (i < m) {
      off(nChars) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      nChars += 1
    }
    off(nChars) = m // clamps a truncated trailing multi-byte char to the end
    if (nChars < k) return new Array[Long](0)
    // prefix hashes at char boundaries
    val pref = new Array[Long](nChars + 1)
    var h = 0L
    var c = 1
    var j = 0
    while (j < m) {
      h = h * B + bytes(j)
      if (c <= nChars && j + 1 == off(c)) { pref(c) = h; c += 1 }
      j += 1
    }
    // B-powers only up to the longest WINDOW byte span (≤ 4k bytes for
    // k UTF-8 chars), not the document length: only pow(bytes(window))
    // is ever read, and the old m+1-sized table allocated and filled
    // 8·m bytes per ROW — 8 MB of dead longs on a 1 MB doc (r18 review
    // backlog, sanctioned r19; fuzz pins are the behavior gate)
    val nWin = nChars - k + 1
    var maxWin = 0
    var w = 0
    while (w < nWin) {
      val span = off(w + k) - off(w)
      if (span > maxWin) maxWin = span
      w += 1
    }
    val pow = new Array[Long](maxWin + 1)
    pow(0) = 1L
    var p = 0
    while (p < maxWin) { pow(p + 1) = pow(p) * B; p += 1 }
    val out = new Array[Long](nWin)
    w = 0
    while (w < out.length) {
      out(w) = fmix64(pref(w + k) - pref(w) * pow(off(w + k) - off(w)))
      w += 1
    }
    out
  }

  /** murmur3's 64-bit finalizer — a bijection mod 2⁶⁴ (each step is
   * invertible), so window equality semantics are unchanged while the
   * polynomial hash's linear collision structure is destroyed. */
  @inline private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** Sorted-RLE gram multiset of `s` as array<struct<h,c>> — see
   * [[SubstrHashWindowsRleExpr]]. Two passes over the sorted hashes
   * (run count, then fill) avoid a growable buffer. */
  def hashWindowsRle(s: UTF8String, k: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val hs = hashWindows(s, k)
    java.util.Arrays.sort(hs)
    val n = hs.length
    var runs = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && hs(j) == hs(i)) j += 1
      runs += 1; i = j
    }
    val out = new Array[Any](runs)
    i = 0
    var r = 0
    while (i < n) {
      var j = i + 1
      while (j < n && hs(j) == hs(i)) j += 1
      out(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](hs(i), (j - i).toLong))
      r += 1; i = j
    }
    new GenericArrayData(out)
  }

  /** All k-char window hashes of a string column. */
  def windows(text: Column, k: Int): Column =
    column(SubstrHashWindowsExpr(expr(text), k))

  /** Per-row sorted-RLE gram multiset. */
  def windowsRle(text: Column, k: Int): Column =
    column(SubstrHashWindowsRleExpr(expr(text), k))
}
