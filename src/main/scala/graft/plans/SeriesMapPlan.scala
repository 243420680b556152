package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeSet, BindReferences, BoundReference, Expression, GenericInternalRow,
  InterpretedUnsafeProjection, JoinedRow, SortOrder, UnsafeArrayData}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.util.AccumulatorV2

/** One time-sorted series as [[SeriesMapExec]] hands it to a kernel.
  *
  * `ts` holds the node's time expression read as a long (its physical
  * value: microseconds for timestamps, days for dates, the number for
  * integral times) and `ys` its value expression as a double. A null
  * reads as 0 in the buffer and is flagged in `tNull` / `yNull`, which
  * are null when the series has no nulls; kernels read values through
  * [[values]], which rejects a series with a null value. Both arrays are exactly `n`
  * long and belong to the kernel: the exec never touches them again. */
final class Series(val ts: Array[Long], val ys: Array[Double],
    val tNull: Array[Boolean], val yNull: Array[Boolean]) {
  def n: Int = ys.length
  def tIsNull(i: Int): Boolean = tNull != null && tNull(i)

  /** `ys` for a kernel that has no meaning for a null value: fails
    * loudly, naming the kernel, when the series holds one. */
  def values(kernel: String): Array[Double] = {
    if (yNull != null) throw new IllegalArgumentException(
      s"$kernel: a series holds ${yNull.count(identity)} null value(s); " +
        "drop or impute them first")
    ys
  }
}

/** A per-series kernel run by [[SeriesMapExec]]: one series in, any
  * number of rows of `schema` out (the exec prepends the series key).
  * `run` should do its work eagerly — the exec's `kernelTime` metric
  * times the call, not the iteration of what it returns. */
final class SeriesKernel(val name: String, val schema: StructType,
    run: Series => Iterator[InternalRow]) extends Serializable {
  def apply(s: Series): Iterator[InternalRow] = run(s)
  override def toString: String = name
}

object SeriesKernel {
  def apply(name: String, schema: StructType)(
      run: Series => Iterator[InternalRow]): SeriesKernel =
    new SeriesKernel(name, schema, run)

  /** Time types a [[Series]] carries losslessly in its long buffer. */
  private[plans] def supportsTime(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Point `i`'s time as a Catalyst value of `dt` (null when flagged). */
  def timeValue(s: Series, i: Int, dt: DataType): Any =
    if (s.tIsNull(i)) null
    else dt match {
      case IntegerType | DateType => s.ts(i).toInt
      case ShortType => s.ts(i).toShort
      case ByteType => s.ts(i).toByte
      case _ => s.ts(i)
    }

  /** The series' times as an array of `dt`. */
  def timeArray(s: Series, dt: DataType): ArrayData =
    if (s.tNull != null) new GenericArrayData(Array.tabulate(s.n)(timeValue(s, _, dt)))
    else dt match {
      case IntegerType | DateType =>
        UnsafeArrayData.fromPrimitiveArray(s.ts.map(_.toInt))
      case ShortType => UnsafeArrayData.fromPrimitiveArray(s.ts.map(_.toShort))
      case ByteType => UnsafeArrayData.fromPrimitiveArray(s.ts.map(_.toByte))
      case _ => UnsafeArrayData.fromPrimitiveArray(s.ts)
    }

  /** The series' values as an array of doubles, nulls kept. */
  def valueArray(s: Series): ArrayData =
    if (s.yNull == null) UnsafeArrayData.fromPrimitiveArray(s.ys)
    else new GenericArrayData(Array.tabulate[Any](s.n)(i =>
      if (s.yNull(i)) null else s.ys(i)))
}

/** Whole-operator tier: one kernel call per series over primitive
  * buffers, in place of `sort_array(collect_list(struct(...)))` plus an
  * array UDF.
  *
  * The node keeps the series key (a child attribute, passed through) and
  * adds the kernel's `produced` attributes. `order` is the per-series
  * order after the key — time, tie-breaks, value, each ascending with
  * nulls first, which is the order `sort_array` gives the struct of the
  * same fields. `time` and `value` are the expressions read into the
  * [[Series]] buffers once a key's rows are sorted. Planned by
  * [[GraftStrategy]] to [[SeriesMapExec]]; key-only filters above it
  * are pushed below it by [[PushFilterThroughAsofJoin]]. */
case class SeriesMap(
    key: Attribute,
    order: Seq[Expression],
    time: Expression,
    value: Expression,
    kernel: SeriesKernel,
    produced: Seq[Attribute],
    child: LogicalPlan)
  extends UnaryNode {

  require(SeriesKernel.supportsTime(time.dataType),
    s"SeriesMap: the time expression must be integral, date or timestamp, " +
      s"got ${time.dataType.simpleString}")
  require(value.dataType == DoubleType,
    s"SeriesMap: the value expression must be double, got ${value.dataType.simpleString}")

  override def output: Seq[Attribute] = key +: produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)

  override protected def withNewChildInternal(newChild: LogicalPlan): SeriesMap =
    copy(child = newChild)
}

/** A [[SQLMetric]] that keeps the maximum of what it is given, within a
  * task and across tasks, instead of the sum. */
private[plans] final class MaxMetric extends SQLMetric("sum", 0L) {
  override def copy(): MaxMetric = { val m = new MaxMetric; m.set(value); m }
  override def add(v: Long): Unit = if (v > value) set(v)
  override def merge(other: AccumulatorV2[Long, Long]): Unit = add(other.value)
}

private[plans] object MaxMetric {
  def apply(sc: SparkContext, name: String): MaxMetric = {
    val m = new MaxMetric
    sc.register(m, name)
    m
  }
}

/** Streams each key's sorted run into primitive buffers and calls the
  * kernel once per series.
  *
  * It declares `ClusteredDistribution(key)` and the child ordering
  * `(key, order…)`, so EnsureRequirements adds one hash exchange and one
  * sort, or none when the child already has them. Rows of one key are
  * contiguous after the sort; the walk reads the time and value of each
  * (no generated code) into growable `Array[Long]` / `Array[Double]`
  * buffers, copies them to exact length at the key's end and hands them
  * to the kernel, which owns them from then on. Output is key-ordered
  * and keeps the child's hash partitioning on the key.
  *
  * Metrics: `numSeries`, `maxSeriesRows` (the longest series, maximum
  * across tasks) and `kernelTime` (time inside kernel calls). */
case class SeriesMapExec(
    key: Attribute,
    order: Seq[Expression],
    time: Expression,
    value: Expression,
    kernel: SeriesKernel,
    produced: Seq[Attribute],
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = key +: produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  // plan dumps name the physical operator apart from the logical node
  override def nodeName: String = "SeriesMapExec"

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numSeries" -> SQLMetrics.createMetric(sparkContext, "number of series"),
    "maxSeriesRows" -> MaxMetric(sparkContext, "max rows in one series"),
    "kernelTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "kernel time"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((key +: order).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] = SortOrder(key, Ascending) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case h: HashPartitioning if h.references.subsetOf(outputSet) => h
    case p => UnknownPartitioning(p.numPartitions)
  }

  override def verboseStringWithOperatorId(): String = {
    def m(k: String) = metrics(k).value
    s"""
       |$formattedNodeName
       |Input [${child.output.size}]: ${child.output.mkString("[", ", ", "]")}
       |Key: $key
       |Order: ${order.mkString("[", ", ", "]")}
       |Kernel: ${kernel.name} ${produced.mkString("[", ", ", "]")}
       |Metrics: numSeries=${m("numSeries")}, maxSeriesRows=${m("maxSeriesRows")}, kernelTime=${m("kernelTime") / 1000000} ms
       |""".stripMargin
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SeriesMapExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val numSeries = longMetric("numSeries")
    val maxRows = longMetric("maxSeriesRows")
    val kernelTime = longMetric("kernelTime")
    val in = child.output
    val keyOrd = in.indexWhere(_.exprId == key.exprId)
    val keyType = key.dataType
    val timeB = BindReferences.bindReference(time, in)
    val valueB = BindReferences.bindReference(value, in)
    val k = kernel
    val outB = output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    val toLong: Any => Long = time.dataType match {
      case IntegerType | DateType => _.asInstanceOf[Int].toLong
      case ShortType => _.asInstanceOf[Short].toLong
      case ByteType => _.asInstanceOf[Byte].toLong
      case _ => _.asInstanceOf[Long]
    }

    // no generated code: the key, time and value are read by ordinal or
    // interpreted, and the output (one row per series or per forecast
    // step, not per point) goes through the interpreted projection
    child.execute().mapPartitions { rows =>
      val outProj = InterpretedUnsafeProjection.createProjection(outB)
      val keyRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val it = rows.buffered
      var ts = new Array[Long](64)
      var ys = new Array[Double](64)
      var tNull = new Array[Boolean](64)
      var yNull = new Array[Boolean](64)

      // one key's run → (key, exact-length series); rows of a key are
      // contiguous, and equal keys compare equal bit for bit
      def nextSeries(): (Any, Series) = {
        val kv = InternalRow.copyValue(it.head.get(keyOrd, keyType))
        var n = 0
        var anyTNull = false
        var anyYNull = false
        while (it.hasNext && java.util.Objects.equals(it.head.get(keyOrd, keyType), kv)) {
          val r = it.next()
          if (n == ys.length) {
            val cap = n * 2
            ts = java.util.Arrays.copyOf(ts, cap)
            ys = java.util.Arrays.copyOf(ys, cap)
            tNull = java.util.Arrays.copyOf(tNull, cap)
            yNull = java.util.Arrays.copyOf(yNull, cap)
          }
          val t = timeB.eval(r)
          ts(n) = if (t == null) 0L else toLong(t)
          tNull(n) = t == null
          anyTNull |= t == null
          val v = valueB.eval(r)
          ys(n) = if (v == null) 0.0 else v.asInstanceOf[Double]
          yNull(n) = v == null
          anyYNull |= v == null
          n += 1
        }
        numSeries += 1
        maxRows.add(n)
        (kv, new Series(java.util.Arrays.copyOf(ts, n), java.util.Arrays.copyOf(ys, n),
          if (anyTNull) java.util.Arrays.copyOf(tNull, n) else null,
          if (anyYNull) java.util.Arrays.copyOf(yNull, n) else null))
      }

      new Iterator[(Any, Series)] {
        def hasNext: Boolean = it.hasNext
        def next(): (Any, Series) = nextSeries()
      }.flatMap { case (kv, s) =>
        val t0 = System.nanoTime()
        val res = k(s)
        kernelTime += System.nanoTime() - t0
        res.map { r =>
          keyRow.update(0, kv)
          outProj(joined(keyRow, r))
        }
      }
    }
  }
}
