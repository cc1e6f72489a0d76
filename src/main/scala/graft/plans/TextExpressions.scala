package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Char-level operator kernels as single-pass JVM loops (r21 optimization
  * round, guide §1.2 "per-task work" + §4 "eliminate interpreted chains in
  * the hot path").
  *
  * The declarative formulations these replace (q_text_winnowing /
  * q_dedup_cdc_chunks map stages) build, PER DOCUMENT, a chain of
  * intermediate Catalyst arrays — split(text,'') (one UTF8String per
  * char), transform→ascii codes, transform→(h,i) hash structs, per-window
  * least() slices, array_distinct — all evaluated through interpreted
  * higher-order lambdas (lambda functions never enter whole-stage
  * codegen). At the ×50 long-doc bench axis that map stage was 52-67 s
  * (winnowing) / 5-10 s (cdc) of pure GC+interpreter churn over ~80 M
  * positions. Each expression here walks the document's UTF-8 bytes once
  * with zero per-position allocation; rows are documents (thousands), so
  * CodegenFallback's per-ROW boundary cost is noise — the FloatVecDot
  * precedent needed codegen because its rows were candidate PAIRS
  * (millions), not docs.
  *
  * PARITY DOCTRINE (Det.sparkRollAt/sqlRollAt): the rolling hash is the
  * base-131 polynomial over per-char codes, pmod 2³¹−1, computed with
  * EXACTLY the old term order and Java long wraparound, so values are
  * bit-identical to the expr() formulation on any input where ascii(c)
  * equals the code point (the documented printable-ASCII corpus domain;
  * both formulations already diverge from DuckDB outside it). Code points
  * are decoded from UTF-8 so multi-byte chars degrade the same way a
  * codepoint-wise split does, and chunk md5 bytes are sliced on codepoint
  * boundaries — identical to md5(concat of the char slice).
  */
private[plans] object CharKernel {
  final val Mod = 2147483647L // 2^31 − 1 (Det doctrine prime)
  final val K = 8 // rolling window chars
  // weights 131^(K−1)..131^0 — same orientation as Det.sparkRollAt
  final val Pows: Array[Long] = Array.iterate(1L, K)(_ * 131L).reverse

  /** Decode code points; empty input decodes to n = 0 (callers replicate
    * split('')'s [''] singleton semantics explicitly). Each char's width is
    * `UTF8String.numBytesForFirstByte`, the table `numChars` counts with,
    * so a malformed lead byte (a stray continuation byte 0x80-0xBF, 0xC0,
    * 0xC1 or 0xF5-0xFF) is one 1-byte char and the offset never drifts
    * past the end. The payload decodes as `UTF8String.codePointFrom` does
    * (a 1-byte non-ASCII char keeps its low 7 bits), except that a
    * multi-byte sequence truncated by the end of the string reads its
    * missing continuation bytes as 0 payload bits: the lead byte's payload
    * shifted into place (bytes 0x61 0xE2 decode to 0x61, 0x2000).
    */
  def codePoints(s: UTF8String): Array[Int] = {
    val n = s.numChars()
    val out = new Array[Int](n)
    var i = 0
    var off = 0
    val bytes = s.getBytes
    // continuation payload of byte j, 0 past the end of the string
    def cont(j: Int): Int = if (j < bytes.length) bytes(j) & 0x3f else 0
    while (i < n) {
      val b0 = bytes(off) & 0xff
      if (b0 < 0x80) { out(i) = b0; off += 1 }
      else {
        // multi-byte: decode directly from the tracked byte offset
        // (ADVICE r21: the old substring(i, i+1) fallback rescanned the
        // UTF8String from byte 0 per char — O(n²) on non-ASCII docs).
        val w = UTF8String.numBytesForFirstByte(bytes(off))
        out(i) = w match {
          case 1 => b0 & 0x7f
          case 2 => ((b0 & 0x1f) << 6) | cont(off + 1)
          case 3 => ((b0 & 0x0f) << 12) | (cont(off + 1) << 6) | cont(off + 2)
          case _ => ((b0 & 0x07) << 18) | (cont(off + 1) << 12) |
            (cont(off + 2) << 6) | cont(off + 3)
        }
        off += w
      }
      i += 1
    }
    out
  }

  /** Byte offset of each codepoint start, plus total length sentinel —
    * lets chunk md5 slice original bytes on char boundaries. Widths come
    * from the same table as `codePoints`; the ASCII test comes first
    * because calling the table lookup for every byte made this loop
    * about 4× slower on ASCII text.
    */
  def byteOffsets(s: UTF8String): Array[Int] = {
    val bytes = s.getBytes
    val n = s.numChars()
    val out = new Array[Int](n + 1)
    var i = 0
    var off = 0
    while (i < n) {
      out(i) = off
      val b = bytes(off)
      off += (if (b >= 0) 1 else UTF8String.numBytesForFirstByte(b))
      i += 1
    }
    out(n) = bytes.length
    out
  }

  /** h(i) for 0-based position i over codes (0 past end), the direct
    * 8-term polynomial — identical arithmetic (incl. wraparound) to the
    * spelled-out Det.sparkRollAt terms, then pmod.
    */
  def hashAt(codes: Array[Int], i: Int): Long = {
    var acc = 0L
    var j = 0
    while (j < K) {
      val idx = i + j
      if (idx < codes.length) acc += codes(idx).toLong * Pows(j)
      j += 1
    }
    ((acc % Mod) + Mod) % Mod
  }

  /** All position hashes; m = max(n − 7, 1) like the expr() sequence. */
  def positionHashes(codes: Array[Int]): Array[Long] = {
    val m = math.max(codes.length - (K - 1), 1)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) { out(i) = hashAt(codes, i); i += 1 }
    out
  }
}

/** array<long> of DISTINCT winnowing fingerprints of one document:
  * window w = 4 minima over the 8-gram rolling hashes, min by (h, then
  * position) — the leftmost-tie rule of the struct least() it replaces.
  * The distinct SET equals the old array_distinct(transform(...)) value;
  * element order is ascending (the consumer explodes into set-keyed
  * aggregation, so order is immaterial — pinned by R21OptSpec).
  */
case class WinnowFingerprints(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def checkInputDataTypes(): TypeCheckResult = TypeCheck(
    child.dataType == StringType,
    s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any = {
    val codes = CharKernel.codePoints(input.asInstanceOf[UTF8String])
    val hs = CharKernel.positionHashes(codes)
    val m = hs.length
    val mins = new Array[Long](m)
    var j = 0
    while (j < m) {
      // least() over up to 4 (h, i) structs: smallest h wins, leftmost on
      // ties — scanning ascending i with strict < implements the tiebreak
      var best = hs(j)
      var idx = j + 1
      val end = math.min(j + 3, m - 1)
      while (idx <= end) {
        if (hs(idx) < best) best = hs(idx)
        idx += 1
      }
      mins(j) = best
      j += 1
    }
    java.util.Arrays.sort(mins)
    var uniq = 0
    var i = 0
    while (i < m) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(uniq) = mins(i); uniq += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(mins, uniq))
  }

  override protected def withNewChildInternal(
      newChild: Expression): WinnowFingerprints = copy(child = newChild)
}

/** array<struct<ch: string, clen: bigint>> of content-defined chunks of
  * one document: boundary starts at char 1 plus every position whose
  * 8-gram rolling hash ≡ 0 (mod 64); each chunk is md5(hex) of the char
  * span to the next start (sentinel n+1). Identical values to the
  * zip_with/slice/md5 expr() chain it replaces (md5 of the same bytes,
  * same clen), including the empty-document [''] singleton case.
  */
case class CdcChunks(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ch", StringType, nullable = true),
      StructField("clen", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def checkInputDataTypes(): TypeCheckResult = TypeCheck(
    child.dataType == StringType,
    s"$prettyName requires a string argument, got ${child.dataType.sql}")

  private def hex(bytes: Array[Byte]): UTF8String = {
    val digits = "0123456789abcdef"
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = digits((bytes(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = digits(bytes(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val codes = CharKernel.codePoints(s)
    val md = java.security.MessageDigest.getInstance("MD5")
    // split('') on '' yields [''] — one empty chunk of clen 1 (the chunk
    // length formula reads size(cs) + 1 − st = 1 + 1 − 1)
    if (codes.length == 0) {
      return new GenericArrayData(Array[Any](
        InternalRow(hex(md.digest(Array.emptyByteArray)), 1L)))
    }
    val hs = CharKernel.positionHashes(codes)
    val n = codes.length
    // boundary starts (1-based): 1, plus every i with h ≡ 0 (mod 64)
    var nStarts = 0
    val starts = new Array[Int](hs.length)
    var i = 0
    while (i < hs.length) {
      if (i == 0 || hs(i) % 64 == 0) { starts(nStarts) = i + 1; nStarts += 1 }
      i += 1
    }
    val offs = CharKernel.byteOffsets(s)
    val bytes = s.getBytes
    val out = new Array[Any](nStarts)
    var c = 0
    while (c < nStarts) {
      val st = starts(c)
      val nxt = if (c + 1 < nStarts) starts(c + 1) else n + 1
      val b0 = offs(st - 1)
      val b1 = offs(nxt - 1)
      md.reset()
      md.update(bytes, b0, b1 - b0)
      out(c) = InternalRow(hex(md.digest()), (nxt - st).toLong)
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): CdcChunks = copy(child = newChild)
}

/** Shared shingle walk for the two set kernels below: 3-token shingles
  * exactly as Llm.shinglesWithPos builds them — concat_ws(' ',
  * slice(toks, i, 3)) over a split(text, ' ') token array, docs with
  * < 3 tokens yielding NO shingles (the .where(size >= 3) row filter
  * becomes an empty array the caller's explode drops).
  */
private[plans] object ShingleKernel {
  private val Space = UTF8String.fromString(" ")

  def eachShingle(toksRaw: ArrayData)(f: UTF8String => Unit): Boolean = {
    val n = toksRaw.numElements()
    if (n < 3) return false
    var i = 0
    while (i <= n - 3) {
      // concat_ws skips NULLs (split never emits them) and keeps empty
      // tokens — concatWs replicates both
      f(UTF8String.concatWs(Space, toksRaw.getUTF8String(i),
        toksRaw.getUTF8String(i + 1), toksRaw.getUTF8String(i + 2)))
      i += 1
    }
    true
  }

  def sortedDistinct(vals: Array[Long], m: Int): Array[Long] = {
    val a = java.util.Arrays.copyOf(vals, m)
    java.util.Arrays.sort(a)
    var uniq = 0
    var i = 0
    while (i < a.length) {
      if (i == 0 || a(i) != a(i - 1)) { a(uniq) = a(i); uniq += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, uniq)
  }
}

/** Sorted DISTINCT array<long> of xxhash64(3-token shingle) per token
  * array — the map side of the shingle→hash postings pipeline
  * (dedupBase sh, q_text_boilerplate, q_ngram_novelty). Value-equal to
  * exploding shinglesWithPos and hashing (XXH64.hashUTF8String with
  * Spark's seed 42), with distinct applied to the HASH — the ~n²/2⁶⁴
  * in-doc collision acceptance those call sites already document.
  * Replaces an interpreted transform(sequence(...)) lambda (one
  * UTF8String slice array + concat per position) plus a string-keyed
  * distinct exchange with one pass and a long-keyed exchange.
  */
case class ShingleXxh64Set(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_xxh64_set"

  override def checkInputDataTypes(): TypeCheckResult = TypeCheck(
    TypeCheck.isArrayOf(child.dataType, StringType),
    s"$prettyName requires array<string>, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val out = new Array[Long](math.max(n - 2, 0))
    var m = 0
    ShingleKernel.eachShingle(toks) { sh =>
      out(m) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(sh, 42L)
      m += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(ShingleKernel.sortedDistinct(out, m))
  }

  override protected def withNewChildInternal(
      newChild: Expression): ShingleXxh64Set = copy(child = newChild)
}

/** Sorted array<long> of Det.pHash60/pHash32 md5-prefix values over the
  * per-doc DISTINCT shingle STRINGS (exact string distinct — the
  * shingleSets semantics), one value per distinct shingle INCLUDING any
  * md5-prefix duplicates, so size() is the exact distinct-shingle count
  * and the sorted order equals sort_array(collect_list(h)).
  * hexLen = 15 → first 60 md5 bits (pHash60), 8 → first 32 (pHash32):
  * value = big-endian md5 prefix, identical to
  * conv(substring(md5(shingle), 1, hexLen), 16, 10).
  */
case class ShingleMd5Set(child: Expression, hexLen: Int)
    extends UnaryExpression with CodegenFallback {

  require(hexLen == 15 || hexLen == 8, "hexLen must be 15 or 8")

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_md5_set"

  override def checkInputDataTypes(): TypeCheckResult = TypeCheck(
    TypeCheck.isArrayOf(child.dataType, StringType),
    s"$prettyName requires array<string>, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](math.max(n - 2, 0))
    var m = 0
    ShingleKernel.eachShingle(toks) { sh =>
      if (seen.add(sh)) {
        md.reset()
        val d = md.digest(sh.getBytes)
        // first hexLen nibbles of the hex digest as an unsigned value:
        // 15 → bytes 0..7 >>> 4 (60 bits), 8 → bytes 0..3 (32 bits)
        val v =
          if (hexLen == 15)
            (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
              ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
              ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
              ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
          else
            ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        out(m) = v
        m += 1
      }
    }
    val a = java.util.Arrays.copyOf(out, m)
    java.util.Arrays.sort(a)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(a)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ShingleMd5Set = copy(child = newChild)
}

/** All K MinHash signature values of one base-hash array in one pass:
  * out[k] = min over h of (as(k)·h + bs(k)) mod p — the same universal
  * hash family, same Java long arithmetic, as the per-row expression
  * `min((a*h + b) % p)` aggregated over exploded rows. A MinHash
  * signature is a PER-DOCUMENT value, so computing it map-side removes
  * the (doc_id, h) explode + groupBy exchange entirely — the
  * map-side-signature property that makes MinHash the 100 TB dedup
  * path in the first place. Callers must filter shingle-less docs first
  * (the old groupBy dropped them implicitly); an empty array would
  * yield Long.MaxValue sentinels, not absent rows.
  */
case class MinhashSigs(child: Expression, as: Seq[Long], bs: Seq[Long],
                       p: Long)
    extends UnaryExpression with CodegenFallback {

  require(as.length == bs.length && as.nonEmpty)

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  override def checkInputDataTypes(): TypeCheckResult = TypeCheck(
    TypeCheck.isArrayOf(child.dataType, LongType),
    s"$prettyName requires array<bigint>, got ${child.dataType.sql}")

  @transient private lazy val aArr = as.toArray
  @transient private lazy val bArr = bs.toArray

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val k = aArr.length
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var best = Long.MaxValue
      var i = 0
      val a = aArr(j)
      val b = bArr(j)
      while (i < n) {
        // null slots are skipped, not read as garbage (ADVICE r21: the
        // type check admits containsNull=true arrays; current call
        // sites never produce one, but the function is session-visible)
        if (!hs.isNullAt(i)) {
          val v = (a * hs.getLong(i) + b) % p
          if (v < best) best = v
        }
        i += 1
      }
      out(j) = best
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinhashSigs = copy(child = newChild)
}
