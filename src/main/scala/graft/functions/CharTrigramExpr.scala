package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Character trigrams as packed 63-bit codes — the hot inner loop of the
  * char-trigram LM family ([[graft.ops.LangModel]]).
  *
  * The built-in formulation (`explode(sequence(1, length(t) - 2))` then
  * `substr(t, i, 3)`) allocates one trigram STRING per text position and
  * carries it through the explode, the model joins and the count
  * aggregate. This expression decodes the UTF-8 once and emits one long
  * per trigram position: code points c1, c2, c3 packed 21 bits each,
  * `c1 << 42 | c2 << 21 | c3`. Consumers read the third character as
  * `code & 0x1FFFFF` and the bigram prefix as `code >>> 21` — the packed
  * code of the first two characters, which [[PackCodePoints]] produces for
  * a 2-character key.
  *
  * Exactness: every Unicode code point fits in 21 bits, so on valid UTF-8
  * the packing is injective and one code per position equals one
  * `substr(t, i, 3)` per position (Spark counts and slices characters by
  * code point). `lower()` always returns valid UTF-8 (invalid input bytes
  * come back as U+FFFD), which is why the LM family packs `lower(text)`.
  * Bytes that start no valid UTF-8 sequence are still mapped injectively,
  * to `0x110000 | byte` — outside the code-point range, so such a unit
  * never equals a real character.
  */
case class CharTrigramCodes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_trigram_codes"

  override protected def nullSafeEval(input: Any): Any =
    CharTrigramCodes.codes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharTrigramCodes.codes($c);")

  override protected def withNewChildInternal(
      newChild: Expression): CharTrigramCodes = copy(child = newChild)
}

object CharTrigramCodes {

  /** Bits per packed character. */
  final val Bits = 21
  /** Mask of one packed character (the third character of a trigram). */
  final val Mask = 0x1FFFFFL

  /** Decodes the unit starting at byte `i` of the `nb` UTF-8 bytes at
    * (`base`, `off`): returns
    * `width << 32 | code`, where code is the code point of a valid UTF-8
    * sequence (overlong forms and surrogates are not valid) or
    * `0x110000 | byte` for a byte that starts none.
    */
  private[functions] def unitAt(base: AnyRef, off: Long, nb: Int, i: Int): Long = {
    def at(j: Int): Int = Platform.getByte(base, off + j) & 0xff
    def cont(j: Int): Boolean = j < nb && (at(j) & 0xc0) == 0x80
    val b0 = at(i)
    var w = 1
    var cp = -1
    if (b0 < 0x80) cp = b0
    else if (b0 >= 0xc2 && b0 < 0xe0 && cont(i + 1)) {
      w = 2; cp = (b0 & 0x1f) << 6 | (at(i + 1) & 0x3f)
    } else if (b0 >= 0xe0 && b0 < 0xf0 && cont(i + 1) && cont(i + 2)) {
      val c = (b0 & 0x0f) << 12 | (at(i + 1) & 0x3f) << 6 | (at(i + 2) & 0x3f)
      if (c >= 0x800 && (c < 0xd800 || c > 0xdfff)) { w = 3; cp = c }
    } else if (b0 >= 0xf0 && b0 < 0xf5 && cont(i + 1) && cont(i + 2) &&
        cont(i + 3)) {
      val c = (b0 & 0x07) << 18 | (at(i + 1) & 0x3f) << 12 |
        (at(i + 2) & 0x3f) << 6 | (at(i + 3) & 0x3f)
      if (c >= 0x10000 && c <= 0x10ffff) { w = 4; cp = c }
    }
    if (cp < 0) { w = 1; cp = 0x110000 | b0 }
    w.toLong << 32 | cp
  }

  /** Per-thread output buffer: the per-row path allocates only the
    * result array.
    */
  private val scratch = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](256)
  }

  def codes(s: UTF8String): UnsafeArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    var out = scratch.get()
    if (out.length < nb) { out = new Array[Long](nb); scratch.set(out) }
    var prev = 0L // the last three codes, packed
    var seen = 0
    var k = 0
    var i = 0
    while (i < nb) {
      val u = unitAt(base, off, nb, i)
      i += (u >>> 32).toInt
      prev = ((prev << Bits) | (u & Mask)) & ((1L << (3 * Bits)) - 1)
      seen += 1
      if (seen >= 3) { out(k) = prev; k += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, k, 8)
  }

  /** Column-facing constructor. */
  def charTrigramCodes(text: Column): Column =
    Bridge.column(CharTrigramCodes(Bridge.expression(text)))
}

/** Packed code of a `k`-character string (k ≤ 3) — the encoder of
  * string-keyed model rows onto [[CharTrigramCodes]]' key space. A string
  * of any other length yields NULL, so it matches no packed code, just as
  * a key that is not exactly k characters long equals no k-character
  * substring.
  */
case class PackCodePoints(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1 && k <= 3, "k in [1, 3]")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pack_code_points"

  override protected def nullSafeEval(input: Any): Any = {
    val r = PackCodePoints.pack(input.asInstanceOf[UTF8String], k)
    if (r < 0) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("packed")
    nullSafeCodeGen(ctx, ev, c =>
      s"""long $r = graft.functions.PackCodePoints.pack($c, $k);
         |if ($r < 0) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
         |""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): PackCodePoints = copy(child = newChild)
}

object PackCodePoints {

  /** The packed code of `s`, or -1 when `s` is not exactly `k` units. */
  def pack(s: UTF8String, k: Int): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    var code = 0L
    var n = 0
    var i = 0
    while (i < nb && n <= k) {
      val u = CharTrigramCodes.unitAt(base, off, nb, i)
      i += (u >>> 32).toInt
      code = (code << CharTrigramCodes.Bits) | (u & CharTrigramCodes.Mask)
      n += 1
    }
    if (n == k && i >= nb) code else -1L
  }

  def packCodePoints(s: Column, k: Int): Column =
    Bridge.column(PackCodePoints(Bridge.expression(s), k))
}

/** The `k`-character string a packed code stands for — the inverse of
  * [[PackCodePoints]] (a `0x110000 | byte` unit decodes back to its raw
  * byte).
  */
case class UnpackCodePoints(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1 && k <= 3, "k in [1, 3]")

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "unpack_code_points"

  override protected def nullSafeEval(input: Any): Any =
    UnpackCodePoints.unpack(input.asInstanceOf[Long], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnpackCodePoints.unpack($c, $k);")

  override protected def withNewChildInternal(
      newChild: Expression): UnpackCodePoints = copy(child = newChild)
}

object UnpackCodePoints {

  def unpack(code: Long, k: Int): UTF8String = {
    val out = new java.io.ByteArrayOutputStream(4 * k)
    var j = k - 1
    while (j >= 0) {
      val cp = ((code >>> (j * CharTrigramCodes.Bits)) &
        CharTrigramCodes.Mask).toInt
      if (cp >= 0x110000) out.write(cp & 0xff)
      else {
        val b = new String(Character.toChars(cp)).getBytes("UTF-8")
        out.write(b, 0, b.length)
      }
      j -= 1
    }
    UTF8String.fromBytes(out.toByteArray)
  }

  def unpackCodePoints(code: Column, k: Int): Column =
    Bridge.column(UnpackCodePoints(Bridge.expression(code), k))
}
