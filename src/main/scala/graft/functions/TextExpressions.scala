package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native 3-word shingle generator: `text_shingles(text)` →
  * `array<string>` of all consecutive 3-word windows, words delimited by
  * single spaces (exactly `split(text, ' ')` semantics — consecutive
  * spaces yield empty words, matching DuckDB's `string_split`).
  *
  * WHY a custom expression: the declarative form —
  * `transform(sequence(0, size(ws)-3), i -> concat_ws(' ', ws[i], …))` —
  * is a higher-order function, which Spark always evaluates INTERPRETED
  * (HOF lambdas have no codegen). That puts per-word interpreted `eval`
  * calls on the hottest path of every dedup query, and in a long-lived
  * JVM the megamorphic dispatch degrades further. This expression runs
  * the whole scan-and-slice in one compiled pass: one byte scan to find
  * the space positions, then each shingle is a zero-copy byte-range
  * slice of the original string (joining space-split words with spaces
  * reconstructs the original substring — no concatenation needed).
  */
case class TextShingles(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "text_shingles"

  override def nullSafeEval(input: Any): Any =
    TextShingles.shingles3(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextShingles.shingles3($c);")

  override protected def withNewChildInternal(newChild: Expression): TextShingles =
    copy(child = newChild)
}

/** Native character n-gram generator: `char_ngrams(text, n)` →
  * `array<string>` of every n-character window (n a foldable literal).
  * Characters are Unicode code points (sliced at UTF-8 boundaries via
  * [[Utf8CodePoints]]), matching DuckDB `len`/`substr` semantics on ANY
  * text, supplementary plane included. Same rationale as
  * [[TextShingles]]: the transform/substring HOF form runs interpreted.
  */
case class CharNGrams(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, literal int), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override def nullSafeEval(t: Any, n: Any): Any =
    CharNGrams.ngrams(t.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"${ev.value} = graft.functions.CharNGrams.ngrams($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharNGrams =
    copy(left = newLeft, right = newRight)
}

object CharNGrams {
  def ngrams(s: UTF8String, n: Int): ArrayData = {
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val bytes = s.getBytes
    val offs = Utf8CodePoints.offsets(bytes)
    val cp = offs.length - 1
    if (cp < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cp - n + 1)
    var i = 0
    while (i <= cp - n) {
      // zero-decode slice of the original UTF-8 bytes
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native unordered-pair expansion: `array_pairs(xs)` over a SORTED
  * `array<bigint>` → `array<struct<a:bigint, b:bigint>>` of all a<b
  * element pairs — the candidate-pair generator after a groupBy-collect
  * (q81). The declarative nested-transform/slice/flatten form is a
  * higher-order function (always interpreted); this runs the k(k-1)/2
  * expansion compiled. Callers bound k (stop-shingle DF cap) — the
  * expansion is quadratic by definition and MUST be capped upstream.
  */
case class ArrayPairs(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "array_pairs"

  override def nullSafeEval(input: Any): Any =
    ArrayPairs.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ArrayPairs.pairs($c);")

  override protected def withNewChildInternal(newChild: Expression): ArrayPairs =
    copy(child = newChild)
}

object ArrayPairs {
  def pairs(xs: ArrayData): ArrayData = {
    val k = xs.numElements()
    // Long arithmetic: k*(k-1)/2 overflows Int for k > ~65k, which would
    // otherwise surface as an inscrutable NegativeArraySizeException from
    // a hot bucket. Fail with the actionable message instead — the caller
    // must cap bucket cardinality (DF cap / bucket-size cap) upstream.
    val np = k.toLong * (k - 1) / 2
    if (np > Int.MaxValue - 8) throw new IllegalArgumentException(
      s"array_pairs: bucket of $k elements expands to $np pairs — too " +
        "large for pair expansion; cap bucket size upstream")
    val out = new Array[Any](np.toInt)
    var idx = 0
    var i = 0
    while (i < k) {
      val a = xs.getLong(i)
      var j = i + 1
      while (j < k) {
        out(idx) = org.apache.spark.sql.catalyst.InternalRow(a, xs.getLong(j))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused near-dup pair verifier: `hamming_pairs(entries, maxham)` over a
  * SORTED `array<struct<doc_id:bigint, sh:string>>` (16-hex SimHash per
  * doc) → `array<struct<a:bigint, b:bigint, hamming:bigint>>` of the
  * a<b pairs within hamming distance maxham.
  *
  * WHY fused (q78): LSH band buckets are skewed by construction — a
  * mega-cluster of near-identical docs lands its whole membership in one
  * bucket (observed sf0.1: one bucket of 1.6k docs = 1.3M of 2.4M raw
  * candidate pairs). Expanding those pairs through a generator and
  * verifying AFTER a shuffle (array_pairs → distinct → join signatures →
  * filter) materializes and shuffles every candidate. Here the k(k-1)/2
  * expansion, the nibble-xor/popcount hamming, and the threshold filter
  * all run compiled inside ONE expression invocation: nibbles decode
  * once per doc (not per pair), the inner loop early-exits past maxham,
  * and only SURVIVING pairs are ever materialized — the downstream
  * shuffle carries qualifying pairs instead of all candidates.
  */
case class HammingPairs(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StructType(Array(a, b)), _), IntegerType)
      if a.dataType == LongType && b.dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<struct<bigint,string>>, int), got ($l, $r)")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("hamming", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "hamming_pairs"

  override def nullSafeEval(arr: Any, mh: Any): Any =
    HammingPairs.pairs(arr.asInstanceOf[ArrayData], mh.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, m) =>
      s"${ev.value} = graft.functions.HammingPairs.pairs($a, $m);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingPairs =
    copy(left = newLeft, right = newRight)
}

object HammingPairs {
  // popcount of a nibble (0-15)
  private val POP = Array(0, 1, 1, 2, 1, 2, 2, 3, 1, 2, 2, 3, 2, 3, 3, 4)

  private def hexVal(b: Byte): Int =
    if (b >= '0' && b <= '9') b - '0'
    else if (b >= 'a' && b <= 'f') b - 'a' + 10
    else if (b >= 'A' && b <= 'F') b - 'A' + 10
    else 0 // inputs are md5-hex signatures; never hit

  def pairs(xs: ArrayData, maxham: Int): ArrayData = {
    val k = xs.numElements()
    // quadratic in bucket size by definition; the early-exit keeps each
    // comparison ~maxham nibble ops, but a pathological bucket must still
    // fail actionably (pre-dedup exact duplicates — q80 — upstream)
    if (k > 100000) throw new IllegalArgumentException(
      s"hamming_pairs: bucket of $k elements — cap bucket size upstream " +
        "(run exact dedup before near-dup pairing)")
    // decode ids + signature nibbles ONCE per doc, not per pair
    val ids = new Array[Long](k)
    val nibs = new Array[Array[Byte]](k)
    var i = 0
    while (i < k) {
      val row = xs.getStruct(i, 2)
      ids(i) = row.getLong(0)
      val s = row.getUTF8String(1).getBytes
      val n = math.min(16, s.length)
      val nb = new Array[Byte](16)
      var p = 0
      while (p < n) { nb(p) = hexVal(s(p)).toByte; p += 1 }
      nibs(i) = nb
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    i = 0
    while (i < k) {
      val na = nibs(i)
      var j = i + 1
      while (j < k) {
        val nb = nibs(j)
        var d = 0
        var p = 0
        while (p < 16 && d <= maxham) {
          d += POP(na(p) ^ nb(p))
          p += 1
        }
        if (d <= maxham)
          out += org.apache.spark.sql.catalyst.InternalRow(ids(i), ids(j), d.toLong)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Fused MinHash pair estimator: `minhash_pairs(entries)` over a SORTED
  * `array<struct<doc_id:bigint, sig:array<string>>>` (16-slot MinHash
  * signature per doc) → `array<struct<a:bigint, b:bigint, agree:int>>`
  * of ALL a<b pairs with agree = the number of equal signature slots —
  * the numerator of the unbiased MinHash Jaccard estimator (agree/K).
  *
  * WHY fused (q79): the estimator's only inputs are the signatures that
  * were ALREADY shuffled to build the band buckets. Computing it after a
  * pair-candidate shuffle (array_pairs → groupBy → join signatures on
  * doc_a → join again on doc_b) re-exchanges the signature table twice
  * for data the bucket row already held. Carrying the signature INTO the
  * bucket struct (exactly as q78 carries the SimHash) and counting slot
  * agreement inside the pair expansion leaves NO join after the bucket
  * groupBy — the q78 move applied to MinHash. Unlike hamming_pairs there
  * is no threshold: q79's contract is the estimate for every candidate
  * pair, so all pairs emit (LSH buckets are near-dup clusters — small by
  * construction; the quadratic guard still fails actionably).
  */
case class MinHashAgreePairs(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(a, b)), _)
      if a.dataType == LongType && (b.dataType match {
        case ArrayType(StringType, _) => true
        case _ => false
      }) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<bigint,array<string>>>, got $t")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("agree", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "minhash_pairs"

  override def nullSafeEval(input: Any): Any =
    MinHashAgreePairs.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashAgreePairs.pairs($c);")

  override protected def withNewChildInternal(newChild: Expression): MinHashAgreePairs =
    copy(child = newChild)
}

object MinHashAgreePairs {
  def pairs(xs: ArrayData): ArrayData = {
    val k = xs.numElements()
    // same Long-arithmetic overflow guard as array_pairs: a pathological
    // bucket must fail with the actionable message, not a negative size
    val np = k.toLong * (k - 1) / 2
    if (np > Int.MaxValue - 8) throw new IllegalArgumentException(
      s"minhash_pairs: bucket of $k elements expands to $np pairs — too " +
        "large for pair expansion; cap bucket size upstream")
    // decode ids + slot digests ONCE per doc, not per pair
    val ids = new Array[Long](k)
    val sigs = new Array[Array[Array[Byte]]](k)
    var i = 0
    while (i < k) {
      val row = xs.getStruct(i, 2)
      ids(i) = row.getLong(0)
      val arr = row.getArray(1)
      val n = arr.numElements()
      val slots = new Array[Array[Byte]](n)
      var p = 0
      while (p < n) { slots(p) = arr.getUTF8String(p).getBytes; p += 1 }
      sigs(i) = slots
      i += 1
    }
    val out = new Array[Any](np.toInt)
    var idx = 0
    i = 0
    while (i < k) {
      val sa = sigs(i)
      var j = i + 1
      while (j < k) {
        val sb = sigs(j)
        val n = math.min(sa.length, sb.length)
        var agree = 0
        var p = 0
        while (p < n) {
          if (java.util.Arrays.equals(sa(p), sb(p))) agree += 1
          p += 1
        }
        out(idx) = org.apache.spark.sql.catalyst.InternalRow(ids(i), ids(j), agree)
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-thread MD5 instance — getInstance is a JCA provider lookup +
  * allocation; hot expressions hash once per gram, so the lookup must
  * not be per-call. digest() resets the instance, making reuse safe.
  * Named Md5Pool (not Md5) so a catalyst wildcard import in a caller
  * can never shadow it with Spark's Md5 expression class.
  */
private[functions] object Md5Pool {
  private val local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Reset at acquisition: if a prior evaluation on this executor thread
    * was killed between update() and digest(), the instance would retain
    * partial state and silently corrupt the next hash.
    */
  def get(): java.security.MessageDigest = {
    val md = local.get()
    md.reset()
    md
  }
}

/** UTF-8 code-point boundary offsets. DuckDB's `len()`/`substr()` count
  * Unicode code points, so cross-engine gram generation must slice at
  * code-point boundaries — slicing UTF-16 units (String.substring) forks
  * the gram sets on any supplementary-plane character (emoji are common
  * in web text). A UTF-8 byte starts a code point iff it is not a
  * continuation byte (0b10xxxxxx), so boundaries come from one byte scan
  * with no decode.
  */
private[functions] object Utf8CodePoints {
  /** offs(i) = byte offset of code point i; offs(last) = bytes.length.
    * Code point count = offs.length - 1.
    *
    * Assumes valid UTF-8 (inputs are Spark UTF8String, validated at
    * ingest): on malformed input beginning with a continuation byte,
    * offs(0) stays 0, i.e. the leading junk is folded into the first
    * "code point" rather than detected — acceptable for gram hashing,
    * where both engines see the same bytes.
    */
  def offsets(b: Array[Byte]): Array[Int] = {
    // ONE scan of the bytes (this sits on the per-row path of every gram
    // expression): fill a worst-case-sized array, trim only if multi-byte
    // sequences made it short. ASCII-only text — the common case — takes
    // the no-copy exit; the trim itself is an int memcpy, not a re-scan.
    val tmp = new Array[Int](b.length + 1)
    var n = 0
    var i = 0
    while (i < b.length) {
      if ((b(i) & 0xc0) != 0x80) { tmp(n) = i; n += 1 }
      i += 1
    }
    tmp(n) = b.length
    if (n == b.length) tmp else java.util.Arrays.copyOf(tmp, n + 1)
  }
}

/** Lowercase hex of raw digest bytes — load-bearing for cross-engine
  * comparability (must match Spark's and DuckDB's md5 output exactly);
  * shared by every fingerprint expression so the format can never fork.
  */
private[functions] object HexBytes {
  def lower(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(2 * b.length)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      sb.append(Character.forDigit(v >> 4, 16))
      sb.append(Character.forDigit(v & 15, 16))
      i += 1
    }
    sb.toString
  }
}

/** Native winnowing fingerprinter: `winnow_fps(text, k, w)` →
  * `array<string>` of the DISTINCT window minima of md5-hashed k-char
  * grams over every w-gram sliding window (tail windows shrink) — the
  * MOSS fingerprint set, fused into one compiled per-document pass.
  *
  * WHY a custom expression: the declarative form (explode grams → md5 →
  * per-doc window min → distinct) shuffles every gram hash — ~32 bytes
  * per corpus CHARACTER through the exchange, a shuffle ~30× the corpus
  * size. Winnowing is document-local by definition, so it belongs
  * map-side: this expression turns q59 into scan → project → final agg
  * with no intermediate shuffle at all.
  */
case class WinnowFps(child: Expression, kExpr: Expression, wExpr: Expression)
  extends TernaryExpression {

  override def first: Expression = child
  override def second: Expression = kExpr
  override def third: Expression = wExpr

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, kExpr.dataType, wExpr.dataType) match {
      case (StringType, IntegerType, IntegerType)
        if kExpr.foldable && wExpr.foldable => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, literal int, literal int), got ($a, $b, $c)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(t: Any, k: Any, w: Any): Any =
    WinnowFps.winnow(t.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k, w) =>
      s"${ev.value} = graft.functions.WinnowFps.winnow($t, $k, $w);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): WinnowFps =
    copy(child = newFirst, kExpr = newSecond, wExpr = newThird)
}

object WinnowFps {
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    if (k <= 0 || w <= 0)
      return new GenericArrayData(Array.empty[Any])
    // grams are k CODE POINTS (byte slices at UTF-8 boundaries) so the
    // gram set matches the oracle's substr(text, i, k) on any text —
    // UTF-16-unit slicing would fork on supplementary-plane characters
    val bytes = s.getBytes
    val offs = Utf8CodePoints.offsets(bytes)
    val cp = offs.length - 1
    if (cp < k) return new GenericArrayData(Array.empty[Any])
    val nGrams = cp - k + 1
    val md = Md5Pool.get()
    val hashes = new Array[Array[Byte]](nGrams)
    var i = 0
    while (i < nGrams) {
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      hashes(i) = md.digest()
      i += 1
    }
    // min per window on RAW digest bytes — unsigned byte order is exactly
    // the engines' lexicographic order of the lowercase-hex VARCHAR (each
    // byte maps monotonically to two hex chars); only the few surviving
    // minima pay for hex conversion. w is small (4): the O(n·w) scan
    // beats a deque's allocation churn.
    val seen = new java.util.LinkedHashSet[String]()
    var last: Array[Byte] = null // consecutive windows usually share a min
    i = 0
    while (i < nGrams) {
      var m = hashes(i)
      var j = i + 1
      val end = math.min(i + w, nGrams)
      while (j < end) {
        if (java.util.Arrays.compareUnsigned(hashes(j), m) < 0) m = hashes(j)
        j += 1
      }
      if (m ne last) { seen.add(HexBytes.lower(m)); last = m }
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = UTF8String.fromString(it.next()); idx += 1 }
    new GenericArrayData(out)
  }
}

/** Native content-defined chunker: `cdc_chunks(text, w)` →
  * `array<struct<s:bigint, e:bigint, h:string>>` — the document cut into
  * content-defined chunks (1-based code-point ranges [s, e], h = md5 hex
  * of the chunk text). A chunk ends at position i iff the first hex
  * digit of md5 of the trailing w-gram (code points i-w+1..i) is '0'
  * (top nibble of the digest = 0 — expected boundary rate 1/16, mean
  * chunk ~16 chars), plus a forced final boundary at len. Docs shorter
  * than w get one chunk [1, len]; empty docs get an empty array.
  *
  * WHY content-defined (the rsync/LBFS boundary rule): the boundary
  * decision depends ONLY on the w local characters, never on position —
  * two documents sharing a substring cut it at the SAME places (except
  * within w-1 of the shared region's edges), whatever offsets the copies
  * sit at. That is the phase invariance q102's stride-sampled windows
  * lack (stride sampling detects a shared span only at offsets congruent
  * mod the stride): here the interior chunks of a shared span hash
  * identically in both docs regardless of offset. Detection is
  * probabilistic-but-content-deterministic — a shared span is found iff
  * it contains at least one full common chunk, expected for spans
  * ≳ 2×16 + w chars; a span whose text happens to contain no boundary
  * w-gram is missed (no forced max-chunk cut: a position-based force
  * would re-introduce phase dependence). Same engine/oracle story as the
  * other gram expressions: md5 + code-point slicing reproduce in DuckDB
  * exactly.
  *
  * WHY a custom expression: the declarative form needs md5-per-position
  * (a HOF — always interpreted, the q59 lesson) and would hash each
  * w-gram through UTF8String allocation; this runs one compiled pass —
  * offsets scan, rolling window digest, zero-copy chunk slices.
  */
case class CdcChunks(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, literal int), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("s", LongType, nullable = false),
      StructField("e", LongType, nullable = false),
      StructField("h", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(t: Any, w: Any): Any =
    CdcChunks.chunks(t.asInstanceOf[UTF8String], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w) =>
      s"${ev.value} = graft.functions.CdcChunks.chunks($t, $w);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CdcChunks =
    copy(left = newLeft, right = newRight)
}

object CdcChunks {
  def chunks(s: UTF8String, w: Int): ArrayData = {
    if (w <= 0) return new GenericArrayData(Array.empty[Any])
    val bytes = s.getBytes
    val offs = Utf8CodePoints.offsets(bytes)
    val cp = offs.length - 1
    if (cp <= 0) return new GenericArrayData(Array.empty[Any])
    val md = Md5Pool.get()
    // boundary END positions (1-based, code points), always closed by cp
    val ends = new java.util.ArrayList[Int]()
    var i = w
    while (i <= cp) {
      md.update(bytes, offs(i - w), offs(i) - offs(i - w))
      // first hex digit '0' ⟺ top nibble of digest byte 0 is zero —
      // no hex string is built on the per-position path
      if ((md.digest()(0) & 0xf0) == 0) ends.add(i)
      i += 1
    }
    if (ends.isEmpty || ends.get(ends.size - 1) != cp) ends.add(cp)
    val out = new Array[Any](ends.size)
    var prev = 0
    var j = 0
    while (j < ends.size) {
      val e = ends.get(j)
      md.update(bytes, offs(prev), offs(e) - offs(prev))
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        prev + 1L, e.toLong, UTF8String.fromString(HexBytes.lower(md.digest())))
      prev = e
      j += 1
    }
    new GenericArrayData(out)
  }
}

object TextShingles {
  /** One compiled pass: space positions → shingle byte ranges. Safe on
    * UTF-8 bytes (0x20 never occurs inside a multi-byte sequence).
    */
  def shingles3(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val words = spaces + 1
    if (words < 3) return new GenericArrayData(Array.empty[Any])
    // starts(k) = byte offset where word k begins
    val starts = new Array[Int](words)
    starts(0) = 0
    var w = 1
    i = 0
    while (i < n) { if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    val out = new Array[Any](words - 2)
    var k = 0
    while (k < words - 2) {
      val from = starts(k)
      val until = if (k + 3 < words) starts(k + 3) - 1 else n
      out(k) = UTF8String.fromBytes(bytes, from, until - from)
      k += 1
    }
    new GenericArrayData(out)
  }
}
