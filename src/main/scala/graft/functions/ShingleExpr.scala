package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.Platform

/** Word n-gram shingles of one word array, laid out for hashing without a
  * string per shingle: the non-null words are joined with single spaces
  * into one byte buffer, and shingle j is the byte range
  * `[start(j), start(j) + len(j))` of it. That range is exactly
  * `concat_ws(" ", slice(words, j + 1, n))` — concat_ws skips nulls, and
  * the words of a window are contiguous in the joined buffer — and an
  * array of fewer than `n` words is one whole-array shingle (the
  * [[graft.ops.Dedup.shinglesOfWords]] convention).
  */
private[functions] final class Shingles {
  var buf: Array[Byte] = new Array[Byte](1024)
  var wordStart: Array[Int] = new Array[Int](64) // per non-null word
  var wordEnd: Array[Int] = new Array[Int](64)
  var before: Array[Int] = new Array[Int](65) // non-null words before i
  var start: Array[Int] = new Array[Int](64) // per shingle
  var len: Array[Int] = new Array[Int](64)
  var hash: Array[Long] = new Array[Long](64)
  var count = 0
  private var table: Array[Int] = new Array[Int](128)

  def load(words: ArrayData, n: Int): Unit = {
    val sz = words.numElements()
    if (before.length < sz + 1) {
      before = new Array[Int](sz + 1)
      wordStart = new Array[Int](sz); wordEnd = new Array[Int](sz)
    }
    var pos = 0
    var nn = 0
    var i = 0
    while (i < sz) {
      before(i) = nn
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        val need = pos + 1 + w.numBytes
        if (need > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(need, 2 * buf.length))
        if (nn > 0) { buf(pos) = ' '; pos += 1 }
        w.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        wordStart(nn) = pos
        pos += w.numBytes
        wordEnd(nn) = pos
        nn += 1
      }
      i += 1
    }
    before(sz) = nn
    count = if (sz < n) 1 else sz - n + 1
    if (start.length < count) {
      start = new Array[Int](count); len = new Array[Int](count)
      hash = new Array[Long](count)
    }
    var j = 0
    while (j < count) {
      val first = before(j)
      val last = before(math.min(j + n, sz)) // exclusive
      val s = if (first < last) wordStart(first) else 0
      val l = if (first < last) wordEnd(last - 1) - s else 0
      start(j) = s
      len(j) = l
      hash(j) = XXH64.hashUnsafeBytes(
        buf, Platform.BYTE_ARRAY_OFFSET + s, l, ShingleHashes.Seed)
      j += 1
    }
  }

  private def sameBytes(j: Int, o: Shingles, m: Int): Boolean =
    len(j) == o.len(m) && java.util.Arrays.equals(
      buf, start(j), start(j) + len(j), o.buf, o.start(m), o.start(m) + o.len(m))

  private var mask = 0

  /** Indexes the byte-distinct shingles in an open-addressing table keyed
    * on their hash (each by its first occurrence); returns how many there
    * are.
    */
  def indexDistinct(): Int = {
    var cap = 1
    while (cap < 2 * count) cap <<= 1
    if (table.length < cap) table = new Array[Int](cap)
    else java.util.Arrays.fill(table, 0, cap, 0)
    mask = cap - 1
    var distinct = 0
    var j = 0
    while (j < count) {
      var slot = Shingles.slotOf(hash(j), mask)
      while (table(slot) != 0 && !sameAs(table(slot) - 1, this, j))
        slot = (slot + 1) & mask
      if (table(slot) == 0) { table(slot) = j + 1; distinct += 1 }
      j += 1
    }
    distinct
  }

  private def sameAs(j: Int, o: Shingles, m: Int): Boolean =
    hash(j) == o.hash(m) && sameBytes(j, o, m)

  /** The indexed shingle byte-equal to shingle `m` of `o`, or -1 (after
    * [[indexDistinct]]).
    */
  def find(o: Shingles, m: Int): Int = {
    var slot = Shingles.slotOf(o.hash(m), mask)
    while (table(slot) != 0) {
      val j = table(slot) - 1
      if (sameAs(j, o, m)) return j
      slot = (slot + 1) & mask
    }
    -1
  }
}

private[functions] object Shingles {
  def slotOf(h: Long, mask: Int): Int = (h ^ (h >>> 32)).toInt & mask

  private val scratch = new ThreadLocal[(Shingles, Shingles)] {
    override def initialValue(): (Shingles, Shingles) =
      (new Shingles, new Shingles)
  }
  def pair: (Shingles, Shingles) = scratch.get()
}

/** `xxhash64` (seed 42) of every word `n`-gram shingle of a word array,
  * one long per shingle position — the hash the MinHash, echo and bloom
  * decontamination ops take of each shingle. Bit-identical, as a set, to
  * `xxhash64(explode(shinglesOfWords(words, n)))`: each hash is over the
  * same bytes concat_ws would build (see [[Shingles]]), and a shingle that
  * repeats in the document repeats its hash, which every consumer's
  * minimum / distinct / count-distinct ignores.
  *
  * The built-in formulation runs `transform(sequence(...), i =>
  * concat_ws(" ", slice(words, i, n)))` as an interpreted lambda and
  * builds one string per shingle; this one joins the words once and
  * hashes byte ranges of the joined buffer.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.hashes(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.hashes($c, $n);")

  override protected def withNewChildInternal(
      newChild: Expression): ShingleHashes = copy(child = newChild)
}

object ShingleHashes {

  /** Spark's `xxhash64` seed. */
  final val Seed = 42L

  def hashes(words: ArrayData, n: Int): UnsafeArrayData = {
    val s = Shingles.pair._1
    s.load(words, n)
    UnsafeArrayData.fromPrimitiveArray(
      s.hash, Platform.LONG_ARRAY_OFFSET, s.count, 8)
  }

  def shingleHashes(words: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(words), n))
}

/** Exact word-shingle Jaccard of two word arrays, emitted as a zero- or
  * one-element array: `[j]` when `j >= threshold`, else `[]`. `j` is
  * `|A ∩ B| / |A ∪ B|` over the DISTINCT shingle strings of each side —
  * the same integer counts `size(array_intersect)` / `size(array_union)`
  * of the two `shinglesOfWords` arrays give, so the same double. Shingles
  * are matched by hash and then confirmed byte for byte, so a hash
  * collision can never merge two different shingles.
  *
  * The array result is what lets a pair op verify each pair ONCE: its
  * `explode` is a Generate, which Catalyst pushes no filter through. A
  * scalar Jaccard followed by a `>= threshold` Filter gets that filter
  * pushed into the join condition below while the Project above
  * recomputes the Jaccard for its output.
  */
case class ShingleJaccard(left: Expression, right: Expression, n: Int,
    threshold: Double) extends BinaryExpression {

  require(n >= 1, "n >= 1")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "shingle_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ShingleJaccard.atLeast(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], n, threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ShingleJaccard.atLeast($a, $b, $n, " +
        s"java.lang.Double.longBitsToDouble(" +
        s"${java.lang.Double.doubleToRawLongBits(threshold)}L));")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleJaccard =
    copy(left = newLeft, right = newRight)
}

object ShingleJaccard {

  private def jaccard(a: ArrayData, b: ArrayData, n: Int): Double = {
    val (sa, sb) = Shingles.pair
    sa.load(a, n)
    sb.load(b, n)
    val da = sa.indexDistinct()
    val db = sb.indexDistinct()
    var inter = 0
    var m = 0
    while (m < sb.count) {
      if (sb.find(sb, m) == m && sa.find(sb, m) >= 0) inter += 1
      m += 1
    }
    val uni = da + db - inter
    if (uni == 0) 0.0 else inter.toDouble / uni.toDouble
  }

  def atLeast(a: ArrayData, b: ArrayData, n: Int,
      threshold: Double): UnsafeArrayData = {
    val j = jaccard(a, b, n)
    if (j >= threshold) UnsafeArrayData.fromPrimitiveArray(Array(j))
    else UnsafeArrayData.fromPrimitiveArray(Array.emptyDoubleArray)
  }

  def shingleJaccard(a: Column, b: Column, n: Int, threshold: Double): Column =
    Bridge.column(ShingleJaccard(
      Bridge.expression(a), Bridge.expression(b), n, threshold))
}
