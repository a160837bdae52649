package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Parse a hex string (1..16 chars) as an UNSIGNED 64-bit value and
  * reinterpret the bits as a SIGNED long — the Spark analogue of PostgreSQL's
  * `('x' || substr(md5(...), 1, 16))::bit(64)::bigint` trick used by the
  * reference's sparse-mode sampling predicate (/root/reference/query.go:193).
  *
  * Spark's built-in `conv(s, 16, 10)` saturates at Long.MaxValue for values
  * ≥ 2^63 instead of wrapping, so it cannot express the signed
  * reinterpretation; this is the one scalar the survey flagged as needing a
  * custom expression (SURVEY.md §2.2 P7). Implemented as a native Catalyst
  * `UnaryExpression` with codegen (not a Scala UDF) so it stays inside
  * whole-stage codegen in the sparse-scan hot path.
  */
case class HexToSignedLong(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    HexToSignedLong.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HexToSignedLong.parse($c)")

  override protected def withNewChildInternal(newChild: Expression): HexToSignedLong =
    copy(child = newChild)

  override def prettyName: String = "hex_to_signed_long"
}

object HexToSignedLong {
  /** Static entry point shared by interpreted eval and generated code. */
  def parse(s: UTF8String): Long = java.lang.Long.parseUnsignedLong(s.toString, 16)
}

/** MinHash signature of a shingle array as one codegen expression: lane
  * `p` is the minimum over the non-null shingles `s` of the unsigned 32-bit
  * big-endian word `p % 4` of `md5("{p / 4}:" + s)` — exactly
  * `MinHashLSH.permHash` folded by `array_min`, computed with
  * `numPerm / 4` digests per shingle and no hex round-trip. A lane is null
  * when the array holds no non-null shingle, as `array_min` gives.
  *
  * It replaces an explode, `numPerm / 4` md5 columns and a `numPerm`-way
  * `min` aggregate (one large generated class plus a shuffle) with a
  * per-row call inside the scan's whole-stage codegen.
  */
case class MinHashSignature(child: Expression, numPerm: Int) extends UnaryExpression {
  require(numPerm > 0 && numPerm % 4 == 0,
    s"numPerm=$numPerm must be a positive multiple of 4 (128-bit MD5 split into 32-bit lanes)")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"minhash_signature needs array<string>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashSignature.sign(input.asInstanceOf[ArrayData], numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSignature.sign($c, $numPerm)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  private[functions] val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Static entry point shared by interpreted eval and generated code. */
  def sign(shingles: ArrayData, numPerm: Int): ArrayData = {
    val md = md5.get()
    val nMd5 = numPerm / 4
    val prefixes = Array.tabulate(nMd5)(q => s"$q:".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val mins = Array.fill(numPerm)(Long.MaxValue)
    val digest = new Array[Byte](16)
    var seen = false
    var i = 0
    while (i < shingles.numElements()) {
      if (!shingles.isNullAt(i)) {
        seen = true
        val s = shingles.getUTF8String(i).getBytes
        var q = 0
        while (q < nMd5) {
          md.update(prefixes(q))
          md.update(s)
          md.digest(digest, 0, 16)
          var l = 0
          while (l < 4) {
            val v = ((digest(4 * l) & 0xffL) << 24) | ((digest(4 * l + 1) & 0xffL) << 16) |
              ((digest(4 * l + 2) & 0xffL) << 8) | (digest(4 * l + 3) & 0xffL)
            val p = 4 * q + l
            if (v < mins(p)) mins(p) = v
            l += 1
          }
          q += 1
        }
      }
      i += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](numPerm))
  }
}

/** MinHash band hashes of a signature as one codegen expression: band `b`
  * is the md5 hex of lanes `[b * rowsPerBand, (b + 1) * rowsPerBand)` as
  * decimal strings joined by "|", null lanes skipped — exactly
  * `MinHashLSH.bandHashes` (`md5(array_join(transform(slice(...))))`), whose
  * lambdas keep the plan node that evaluates them out of whole-stage codegen.
  */
case class MinHashBands(child: Expression, numBands: Int, rowsPerBand: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    MinHashBands.bands(input.asInstanceOf[ArrayData], numBands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashBands.bands($c, $numBands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)

  override def prettyName: String = "minhash_bands"
}

object MinHashBands {
  private val HexDigits = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Static entry point shared by interpreted eval and generated code. */
  def bands(sig: ArrayData, numBands: Int, rowsPerBand: Int): ArrayData = {
    val md = MinHashSignature.md5.get()
    val n = sig.numElements()
    val sb = new java.lang.StringBuilder
    val out = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      sb.setLength(0)
      var i = b * rowsPerBand
      while (i < math.min((b + 1) * rowsPerBand, n)) {
        if (!sig.isNullAt(i)) {
          if (sb.length > 0) sb.append('|')
          sb.append(sig.getLong(i))
        }
        i += 1
      }
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Byte](32)
      var k = 0
      while (k < 16) {
        hex(2 * k) = HexDigits((d(k) >> 4) & 0xf)
        hex(2 * k + 1) = HexDigits(d(k) & 0xf)
        k += 1
      }
      out(b) = UTF8String.fromBytes(hex)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Signature positions where two MinHash signatures agree (null lanes
  * never do, and positions past the shorter one never do) — the
  * `size(filter(zip_with(a, b, _ === _), identity))` count as one codegen
  * expression.
  */
case class MinHashMatches(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MinHashMatches.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MinHashMatches.count($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): MinHashMatches =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "minhash_matches"
}

object MinHashMatches {
  /** Static entry point shared by interpreted eval and generated code. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var m = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) m += 1
      i += 1
    }
    m
  }
}

/** Unicode NFC normalization as a native codegen expression. Exact dedup
  * hashes bytes, and the same visible text has many codepoint spellings
  * (precomposed é vs e + COMBINING ACUTE) — without canonical normalization
  * a crawler that emits decomposed forms defeats every hash-keyed dedup
  * stage. Spark ships no normalization function (SPARK-companion libraries
  * reach for UDFs); this is the custom-Expression path instead — a
  * `UnaryExpression` over `java.text.Normalizer` with `doGenCode`, so
  * normalization stays inside whole-stage codegen in the scan-side dedup
  * hot path. The DuckDB oracle twin is its built-in `nfc_normalize`.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  /** Static entry point shared by interpreted eval and generated code.
    * Already-NFC input (the overwhelmingly common case) short-circuits on
    * the quick-check without allocating.
    */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Column-level helpers shared by the fingerprint modes and the north-star
  * operators. Everything here composes built-in codegen'd functions except
  * the lifts of the custom expressions above.
  */
object GraftFunctions {

  /** Lift the custom [[HexToSignedLong]] expression to the Column API. */
  def hexToSignedLong(c: Column): Column =
    Bridge.column(HexToSignedLong(Bridge.expression(c)))

  /** Lift the custom [[MinHashSignature]] expression to the Column API. */
  def minhashSignature(shingles: Column, numPerm: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(shingles), numPerm))

  /** Lift the custom [[MinHashBands]] expression to the Column API. */
  def minhashBands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    Bridge.column(MinHashBands(Bridge.expression(sig), numBands, rowsPerBand))

  /** Lift the custom [[MinHashMatches]] expression to the Column API. */
  def minhashMatches(a: Column, b: Column): Column =
    Bridge.column(MinHashMatches(Bridge.expression(a), Bridge.expression(b)))

  /** Lift the custom [[NfcNormalize]] expression to the Column API. */
  def nfcNormalize(c: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(c)))

  /** `('x'||substr(md5(k),1,16))::bit(64)::bigint` analogue: signed 64-bit
    * value from the first 16 hex chars of `k`'s MD5
    * (/root/reference/query.go:193).
    */
  def md5Signed64(k: Column): Column =
    hexToSignedLong(substring(md5(k), 1, 16))

  /** Deterministic engine-portable bucket id in [0, buckets) from the first 4
    * hex chars of `k`'s MD5 — used by the Merkle fingerprint (SURVEY.md §4
    * "range-partitioned Merkle hash") and by LSH-style band bucketing. Only 16
    * bits are parsed so there is no sign subtlety on either engine; the DuckDB
    * twin is `CAST('0x' || substr(md5(k), 1, 4) AS UBIGINT) % buckets`.
    */
  def md5Bucket(k: Column, buckets: Int): Column =
    pmod(conv(substring(md5(k), 1, 4), 16, 10).cast(LongType), lit(buckets.toLong))
}
