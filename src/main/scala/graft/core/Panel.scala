package graft.core

import graft.plans.{GraftPlanning, SeriesKernel, SeriesMap}
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-name configuration for long-format panels.
  *
  * Mirrors the reference's ubiquitous `id_col` / `time_col` / `target_col`
  * kwargs (defaults `unique_id` / `ds` / `y`). `tieBreak` names extra
  * columns appended to every time ordering so that row order is total even
  * when timestamps collide — Spark window functions over a non-total order
  * are nondeterministic, which the reference never has to worry about
  * (Polars preserves input row order).
  */
case class PanelCols(
    id: String = "unique_id",
    time: String = "ds",
    target: String = "y",
    tieBreak: Seq[String] = Nil) {

  def idCol: Column = col(id)
  def timeCol: Column = col(time)
  def targetCol: Column = col(target)
  def orderCols: Seq[Column] = col(time) +: tieBreak.map(col)

  /** Per-series window ordered by time (plus tie-breaks). */
  def w: WindowSpec = Window.partitionBy(col(id)).orderBy(orderCols: _*)
  /** Per-series window over the full partition (no ordering / frame). */
  def wAll: WindowSpec = Window.partitionBy(col(id))
}

object Panel {

  /** Constant-zero partition key for windows over BOUNDED tiny frames
    * (≤|models|, ≤|bins|, ≤|domains| rows — never panel- or corpus-
    * sized). Declares the single partition intentional: a bare
    * `Window.orderBy` logs WindowExec's missing-partition warning, and a
    * foldable `lit(0)` is constant-folded out of the partition spec and
    * warns anyway — so derive 0 non-foldably from any column. Execution
    * is identical (one partition either way); the point is that every
    * REMAINING single-partition window in the engine is one that names a
    * column and asserts boundedness at the call site. */
  def tinyFramePartition(c: Column): Column = pmod(crc32(c.cast("string")), lit(1))

  /** Canonical scale partitioning contract: one shuffle by series id up
    * front, after which every window operator is shuffle-free. On a real
    * cluster pair this with enough partitions that a single series' rows
    * fit an executor; here it documents intent and lets AQE coalesce.
    */
  def repartitionBySeries(df: DataFrame, partitions: Int = 0)(implicit pc: PanelCols): DataFrame = {
    val p = if (partitions > 0) df.repartition(partitions, pc.idCol) else df.repartition(pc.idCol)
    p.sortWithinPartitions(pc.idCol +: pc.orderCols: _*)
  }

  /** Runs a per-series kernel over each series' time-sorted primitive
    * buffers through the [[graft.plans.SeriesMap]] operator: one
    * exchange on the id and one sort by (id, time, tie-breaks…, value),
    * then one kernel call per series with no aggregate buffer, array
    * column or UDF boxing in between. The sort is the order `grouped`
    * has always given — `sort_array` over `struct(time, tie-breaks…,
    * value)`: ascending, nulls first, equal times ordered by their
    * tie-breaks, then by value.
    *
    * `time` maps the time column to the long the kernel sees (default:
    * the column itself, which must then be integral, date or timestamp);
    * the value is the target cast to double. `kernel` gets the time
    * column's type and returns the kernel; output is `[id, kernel
    * fields…]`. Every column is freshly aliased, so a self-join of the
    * result resolves like one of any other DataFrame. */
  def mapSeries(df: DataFrame, time: Column => Column = identity)(
      kernel: DataType => SeriesKernel)(implicit pc: PanelCols): DataFrame = {
    val spark = df.sparkSession
    GraftPlanning.ensure(spark)
    val in = df.select((pc.idCol +: pc.timeCol.as("__t") +:
      pc.tieBreak.zipWithIndex.map { case (c, i) => col(c).as(s"__tb$i") }) :+
      pc.targetCol.cast("double").as("__v"): _*)
    val child = GraftPlanBridge.analyzed(in)
    // the time and value expressions resolved against the child's own
    // attributes (a select over `in` keeps them), time zone included
    val Seq(t, v) = (GraftPlanBridge.analyzed(
        in.select(time(col("__t")).as("__tk"), col("__v"))): @unchecked) match {
      case Project(list, _) => list.map {
        case Alias(e, _) => e
        case e => e
      }
    }
    require((t.references ++ v.references).subsetOf(child.outputSet),
      "mapSeries: the time expression must read the time column only")
    val timeType = child.output(1).dataType
    val k = kernel(timeType)
    val node = SeriesMap(child.output.head, child.output.tail, t, v, k,
      k.schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)()),
      child)
    GraftPlanBridge.ofRows(spark,
      Project(node.output.map(a => Alias(a, a.name)()), node))
  }

  /** Grouped/nested form: one row per series, values time-ordered —
    * `[id, ys: Array[Double], ts: Array[<time type>]]`, nulls kept in
    * both arrays, in [[mapSeries]]' order. The time column must be
    * integral, date or timestamp. */
  def grouped(df: DataFrame)(implicit pc: PanelCols): DataFrame = {
    val ysType = ArrayType(DoubleType, nullable(df, pc.targetCol.cast("double")))
    val tNull = nullable(df, pc.timeCol)
    mapSeries(df)(tt => SeriesKernel("grouped", StructType(Seq(
        StructField("ys", ysType, nullable = false),
        StructField("ts", ArrayType(tt, tNull), nullable = false)))) { s =>
      Iterator.single(new GenericInternalRow(Array[Any](
        SeriesKernel.valueArray(s), SeriesKernel.timeArray(s, tt))))
    })
  }

  /** The time mapping of kernels that never read the time: any
    * orderable time column then works. */
  val noTime: Column => Column = _ => lit(0L)

  /** [[grouped]] without the time array: `[id, ys: Array[Double]]`; any
    * orderable time column. */
  def groupedValues(df: DataFrame)(implicit pc: PanelCols): DataFrame = {
    val ysType = ArrayType(DoubleType, nullable(df, pc.targetCol.cast("double")))
    mapSeries(df, noTime)(_ => SeriesKernel("grouped_values", StructType(Seq(
        StructField("ys", ysType, nullable = false)))) { s =>
      Iterator.single(new GenericInternalRow(Array[Any](SeriesKernel.valueArray(s))))
    })
  }

  // the arrays admit nulls only where the column does, as the struct
  // aggregate's did: a UDF reading a null-free Array[Double] then takes
  // the primitive copy instead of a per-element null-checked one
  private def nullable(df: DataFrame, c: Column): Boolean =
    df.select(c).schema.head.nullable

  /** Per-series inferred frequency = min successive time delta, in
    * microseconds (reference `_infer_freq`, models/_time_utils.py:15-27).
    * Output: `[id, last_ts, freq_us, n]`.
    */
  def seriesMeta(df: DataFrame)(implicit pc: PanelCols): DataFrame = {
    val tsUs = unix_micros(pc.timeCol.cast("timestamp"))
    df.select(pc.idCol, tsUs.as("__us"))
      .withColumn("__delta", col("__us") - lag("__us", 1).over(
        Window.partitionBy(pc.idCol).orderBy(col("__us"))))
      .groupBy(pc.idCol)
      .agg(
        max(col("__us")).as("last_us"),
        min(col("__delta")).as("freq_us"),
        count(lit(1)).as("n"))
  }

  /** Explode h future steps per series with timestamps extrapolated at the
    * inferred frequency: `[id, step (1-based), ds]`. Pure Spark SQL —
    * `explode(sequence(...))`, no driver loop. */
  def futureDates(df: DataFrame, h: Int)(implicit pc: PanelCols): DataFrame =
    seriesMeta(df)
      .select(pc.idCol, col("last_us"), col("freq_us"),
        explode(sequence(lit(1L), lit(h.toLong))).as("step"))
      .withColumn(pc.time,
        timestamp_micros(col("last_us") + col("step") * col("freq_us"))
          .cast("timestamp_ntz"))
      .select(pc.idCol, col("step"), col(pc.time))
}
