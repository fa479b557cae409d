package graft.functions

import java.nio.ByteBuffer
import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Exact `percentile(x, p)` over a DOUBLE `x` with frequency 1, on
  * primitive arrays: the kernel [[graft.plans.NativePercentile]] swaps in
  * for Spark's `Percentile` (which `median` and `percentile_cont … ASC`
  * also become).
  *
  * Spark's `Percentile` boxes every value into an
  * `OpenHashMap[AnyRef, Long]`, ships one UnsafeRow per distinct value,
  * and at eval sorts the boxed keys with a generic `Ordering`. Here the
  * buffer is a sorted run of distinct doubles with `long` counts plus a
  * raw append region; the region is sorted and merged into the run in
  * place once it holds max(1,024, run length) values, so each value is
  * touched O(log n) times amortized. A buffer serializes as packed
  * primitives, 16 bytes per distinct value.
  *
  * Same-result contract: two values are one key when their
  * `doubleToLongBits` are equal, as Spark's boxed `java.lang.Double`
  * keys are (every NaN is one key; 0.0 and -0.0 are two), and eval is
  * Spark's formula operation for operation: position = (n − 1)·p, the
  * keys at the binary-searched cumulative counts `lower + 1` and
  * `higher + 1`, no interpolation when the position is whole or the two
  * keys are `==`, else `(higher − position)·lowerKey +
  * (position − lower)·higherKey`. So every result is the double Spark
  * returns, with one exemption: Spark's ordering ranks 0.0 and -0.0 as
  * equal and leaves the two in hash order, so where both occur the sign
  * of a zero result may differ; the run orders -0.0 first.
  *
  * Empty input gives NULL; an array percentage gives a non-null array.
  */
case class ExactPercentile(
    child: Expression,
    percentageExpression: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ExactPercentile.Buffer] with BinaryLike[Expression] {

  import ExactPercentile.Buffer

  override def left: Expression = child
  override def right: Expression = percentageExpression

  private lazy val returnArray = percentageExpression.dataType.isInstanceOf[ArrayType]

  @transient private lazy val percentages: Array[Double] = percentageExpression.eval() match {
    case p: Double => Array(p)
    case ps: ArrayData => ps.toDoubleArray()
  }

  override def nullable: Boolean = true

  override def dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false) else DoubleType

  override def prettyName: String = "exact_percentile"

  override def createAggregationBuffer(): Buffer = new Buffer

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: Buffer, input: Buffer): Buffer = {
    buffer.merge(input)
    buffer
  }

  override def eval(buffer: Buffer): Any = buffer.percentiles(percentages) match {
    case null => null
    case r if returnArray => UnsafeArrayData.fromPrimitiveArray(r)
    case r => r(0)
  }

  override def serialize(buffer: Buffer): Array[Byte] = buffer.toBytes

  override def deserialize(bytes: Array[Byte]): Buffer = Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): ExactPercentile =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ExactPercentile =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExactPercentile =
    copy(child = newLeft, percentageExpression = newRight)
}

object ExactPercentile {

  /** Raw values buffered before a merge into the run, at the least. */
  private val MinRaw = 1024

  private val NoKeys = new Array[Double](0)
  private val NoCounts = new Array[Long](0)

  /** A multiset of doubles: `keys(0 until size)` ascending in
    * `java.lang.Double.compare` order (-0.0 before 0.0, NaN last) and
    * distinct, `counts` beside them, and `raw(0 until rawLen)` not yet
    * merged in. Arrays grow by doubling and are reused across merges. */
  final class Buffer {
    private var keys = NoKeys
    private var counts = NoCounts
    private var size = 0
    private var raw = NoKeys
    private var rawLen = 0

    def add(v: Double): Unit = {
      if (rawLen == raw.length)
        raw = Arrays.copyOf(raw, math.min(math.max(16, 2 * rawLen), math.max(MinRaw, size)))
      raw(rawLen) = v
      rawLen += 1
      if (rawLen >= math.max(MinRaw, size)) compact()
    }

    def merge(other: Buffer): Unit = {
      other.compact()
      mergeSorted(other.keys, other.counts, other.size)
    }

    /** Merges the raw region into the run. */
    private def compact(): Unit = if (rawLen > 0) {
      Arrays.sort(raw, 0, rawLen)
      mergeSorted(raw, null, rawLen)
      rawLen = 0
    }

    /** Merges the ascending `src(0 until len)` into the run, in place:
      * one pass counts the values the run lacks, a second fills the
      * grown run from its end, so nothing is overwritten before it is
      * read. `cnt(j)` is `src(j)`'s count; a null `cnt` counts each
      * element once, and equal neighbours add up. */
    private def mergeSorted(src: Array[Double], cnt: Array[Long], len: Int): Unit = {
      var fresh = 0
      var i = 0
      var j = 0
      while (j < len) {
        val v = src(j)
        while (i < size && java.lang.Double.compare(keys(i), v) < 0) i += 1
        if (i == size || java.lang.Double.compare(keys(i), v) != 0) fresh += 1
        j += 1
        while (j < len && java.lang.Double.compare(src(j), v) == 0) j += 1
      }
      val n = size + fresh
      if (n > keys.length) {
        val cap = math.max(n, 2 * keys.length)
        keys = Arrays.copyOf(keys, cap)
        counts = Arrays.copyOf(counts, cap)
      }
      var a = size - 1
      var k = n - 1
      var e = len
      while (e > 0) {
        var s = e - 1
        val v = src(s)
        var c = if (cnt == null) 1L else cnt(s)
        while (s > 0 && java.lang.Double.compare(src(s - 1), v) == 0) {
          s -= 1
          c += (if (cnt == null) 1L else cnt(s))
        }
        while (a >= 0 && java.lang.Double.compare(keys(a), v) > 0) {
          keys(k) = keys(a)
          counts(k) = counts(a)
          a -= 1
          k -= 1
        }
        if (a >= 0 && java.lang.Double.compare(keys(a), v) == 0) {
          counts(k) = counts(a) + c
          keys(k) = keys(a)
          a -= 1
        } else {
          keys(k) = v
          counts(k) = c
        }
        k -= 1
        e = s
      }
      size = n
    }

    /** Spark's exact percentile at each of `ps`, or null when empty. */
    def percentiles(ps: Array[Double]): Array[Double] = {
      compact()
      if (size == 0) return null
      val cum = new Array[Long](size)
      var acc = 0L
      var i = 0
      while (i < size) {
        acc += counts(i)
        cum(i) = acc
        i += 1
      }
      ps.map { p =>
        val position = (acc - 1).toDouble * p
        val lower = math.floor(position).toLong
        val higher = math.ceil(position).toLong
        val lowerKey = keys(search(cum, lower + 1))
        if (higher == lower) lowerKey
        else {
          val higherKey = keys(search(cum, higher + 1))
          if (higherKey == lowerKey) lowerKey
          else (higher - position) * lowerKey + (position - lower) * higherKey
        }
      }
    }

    /** The first index whose cumulative count is at least `target`. */
    private def search(cum: Array[Long], target: Long): Int = {
      val ix = Arrays.binarySearch(cum, 0, size, target)
      if (ix < 0) -(ix + 1) else ix
    }

    /** The run's keys, then its counts. */
    def toBytes: Array[Byte] = {
      compact()
      val bytes = new Array[Byte](16 * size)
      ByteBuffer.wrap(bytes).asDoubleBuffer().put(keys, 0, size)
      ByteBuffer.wrap(bytes, 8 * size, 8 * size).asLongBuffer().put(counts, 0, size)
      bytes
    }
  }

  object Buffer {
    def fromBytes(bytes: Array[Byte]): Buffer = {
      val b = new Buffer
      val n = bytes.length / 16
      b.keys = new Array[Double](n)
      b.counts = new Array[Long](n)
      ByteBuffer.wrap(bytes).asDoubleBuffer().get(b.keys)
      ByteBuffer.wrap(bytes, 8 * n, 8 * n).asLongBuffer().get(b.counts)
      b.size = n
      b
    }
  }
}
