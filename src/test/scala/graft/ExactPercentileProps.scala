package graft

import graft.functions.ExactPercentile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Median, Percentile, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

/** [[ExactPercentile]] returns the doubles Spark's `Percentile` returns.
  *
  * Both aggregates run the same partial-aggregation sequence by hand, with
  * no optimizer rule involved: each partition's rows are `update`d into
  * their own buffer, the buffer is `serialize`d and `deserialize`d, the
  * partial buffers are `merge`d into one, and that is `eval`ed.
  *
  * Inputs are multisets of integers/7 (heavy ties, fractions that are
  * not exact in binary), ±0.0, NaN, ±Inf and nulls, split at random
  * points into 1-7 partitions, some long enough to pass the kernel's
  * 1,024-value raw region several times; the empty input is among them.
  * Percentages are scalars and arrays that include 0 and 1, and `median`.
  *
  * Equal means equal doubles with NaN ≡ NaN, compared with `==`, so the
  * sign of a zero result is not compared: Spark's ordering ranks 0.0 and
  * -0.0 as equal and leaves them in hash order, so its zero sign follows
  * the hash table, not the data.
  */
object ExactPercentileProps extends Properties("exact-percentile") {

  private val x = BoundReference(0, DoubleType, nullable = true)

  private val valueGen: Gen[Any] = Gen.frequency(
    (20, Gen.chooseNum(-60, 60).map(i => i / 7.0)),
    (2, Gen.oneOf(0.0, -0.0)),
    (1, Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)),
    (2, Gen.const(null)))

  private val inputGen: Gen[Vector[Any]] = Gen.frequency(
    (1, Gen.const(Vector.empty)),
    (6, Gen.chooseNum(1, 60).flatMap(Gen.containerOfN[Vector, Any](_, valueGen))),
    (3, Gen.chooseNum(61, 5000).flatMap(Gen.containerOfN[Vector, Any](_, valueGen))))

  /** The input split at random points into 1-7 (possibly empty) parts. */
  private def partitioned(in: Vector[Any]): Gen[Seq[Vector[Any]]] = for {
    parts <- Gen.chooseNum(1, 7)
    cuts <- Gen.listOfN(parts - 1, Gen.chooseNum(0, in.size))
  } yield {
    val bounds = 0 +: cuts.sorted :+ in.size
    bounds.zip(bounds.tail).map { case (a, b) => in.slice(a, b) }
  }

  private val fractionGen: Gen[Double] =
    Gen.frequency((3, Gen.oneOf(0.0, 1.0, 0.5, 0.25, 0.75, 0.05, 0.95)), (2, Gen.chooseNum(0.0, 1.0)))

  /** Spark's `Percentile` and the kernel for one percentage expression. */
  private val pairGen: Gen[(Percentile, ExactPercentile)] = Gen.frequency(
    (3, fractionGen.map(p => Literal(p))),
    (3, Gen.nonEmptyListOf(fractionGen).map(ps =>
      Literal(new GenericArrayData(ps.toArray[Any]), ArrayType(DoubleType, containsNull = false)))),
    (1, Gen.const(null))
  ).map {
    case null =>
      val median = Median(x).replacement.asInstanceOf[Percentile]
      median -> ExactPercentile(median.child, median.percentageExpression)
    case p: Expression => new Percentile(x, p) -> ExactPercentile(x, p)
  }

  /** update → serialize → deserialize → merge → eval over `parts`. */
  private def run[B](agg: TypedImperativeAggregate[B], parts: Seq[Vector[Any]]): Any = {
    val partials = parts.map { rows =>
      val b = agg.createAggregationBuffer()
      rows.foreach(v => agg.update(b, InternalRow(v)))
      agg.deserialize(agg.serialize(b))
    }
    val total = agg.createAggregationBuffer()
    partials.foreach(agg.merge(total, _))
    agg.eval(total)
  }

  private def doubles(r: Any): Option[Seq[Double]] = r match {
    case null => None
    case d: Double => Some(Seq(d))
    case a: ArrayData => Some(a.toDoubleArray().toSeq)
  }

  private def same(a: Double, b: Double): Boolean = (a.isNaN && b.isNaN) || a == b

  property("the same doubles as Spark's Percentile") =
    forAllNoShrink(inputGen.flatMap(in => partitioned(in).map(in -> _)), pairGen) {
      case ((in, parts), (spark, kernel)) =>
        val (want, got) = (doubles(run(spark, parts)), doubles(run(kernel, parts)))
        val ok = (want, got) match {
          case (Some(w), Some(g)) => w.size == g.size && w.zip(g).forall { case (a, b) => same(a, b) }
          case (w, g) => w == g
        }
        (ok: Prop) :| s"${spark.percentageExpression} over ${in.size} values in ${parts.size} parts: Spark $want, kernel $got"
    }

  property("NULL on empty input, an array for an array percentage") =
    forAllNoShrink(pairGen, Gen.oneOf(Seq(Vector.empty), Seq(Vector(null, null), Vector()))) {
      case ((spark, kernel), parts) =>
        (run(kernel, parts) == null) :| "empty gives NULL" &&
          (kernel.dataType == spark.dataType) :| s"${kernel.dataType} vs ${spark.dataType}"
    }
}
