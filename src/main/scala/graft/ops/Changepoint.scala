package graft.ops

import graft.core.{Panel, PanelCols}
import graft.kernels.{Bocpd, MannKendall, Pelt}
import graft.plans.SeriesKernel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Changepoint & trend operators (reference polars_ts/changepoint/).
  *
  * `cusum` is 100% native window expressions. `pelt` and `mannKendall`
  * run their kernels on each series' sorted primitive buffers through
  * [[Panel.mapSeries]] — one exchange and one sort, no aggregate, no
  * UDF; `bocpd` and `sensSlope` still go grouped-array form → UDF →
  * explode. Kernels run data-parallel across series in executor tasks.
  */
object Changepoint {

  /** Standardized cumulative sum of mean deviations
    * (reference changepoint/cusum.py:4-56): (y − mean)/std per series,
    * cumulatively summed in time order. */
  def cusum(df: DataFrame, outCol: String = "cusum")(implicit pc: PanelCols): DataFrame = {
    val y = pc.targetCol
    val mu = avg(y).over(pc.wAll)
    val sd = stddev_samp(y).over(pc.wAll)
    val z = when(sd =!= 0.0, (y - mu) / sd).otherwise(0.0)
    df.withColumn(outCol,
      sum(z).over(pc.w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** PELT changepoints: `[id, changepoint_idx, ds]`, one row per detected
    * changepoint (reference changepoint/pelt.py:100-185; indices are
    * 0-based positions into the time-sorted series, matching the
    * reference's segment-start convention). Default penalty 2·ln n.
    * Runs [[Pelt.detect]] on each series' buffers through
    * [[Panel.mapSeries]]; the time column must be integral, date or
    * timestamp. */
  def pelt(df: DataFrame, cost: String = "mean", penalty: Option[Double] = None,
      minSize: Int = 2, prune: Boolean = true)(implicit pc: PanelCols): DataFrame = {
    val costModel = Pelt.cost(cost)
    Panel.mapSeries(df)(tt => SeriesKernel("pelt", StructType(Seq(
        StructField("changepoint_idx", LongType, nullable = false),
        StructField(pc.time, tt)))) { s =>
      val pen = penalty.getOrElse(2.0 * math.log(s.n.toDouble))
      Pelt.detect(s.values("pelt"), costModel, pen, minSize, prune).iterator.map(i =>
        new GenericInternalRow(Array[Any](i, SeriesKernel.timeValue(s, i.toInt, tt))))
    })
  }

  /** BOCPD per-row outputs `[.., run_length, changepoint_prob,
    * is_changepoint]` (reference changepoint/bocpd.py:11-141). */
  def bocpd(df: DataFrame, hazardRate: Double = 200.0, threshold: Double = 0.5,
      pruneThreshold: Double = 0.0)(
      implicit pc: PanelCols): DataFrame = {
    val detectUdf = udf((ys: Seq[Double]) =>
      Bocpd.detect(ys.toArray, hazardRate, threshold = threshold,
          pruneThreshold = pruneThreshold)
        .map { case (rl, p, is) => (rl, p, is) })
    Panel.grouped(df)
      .select(pc.idCol, col("ts").as("__ts"), detectUdf(col("ys")).as("__res"))
      .select(pc.idCol, posexplode(col("__res")).as(Seq("__i", "__r")), col("__ts"))
      .select(pc.idCol,
        expr("__ts[__i]").as(pc.time),
        col("__r._1").as("run_length"),
        col("__r._2").as("changepoint_prob"),
        col("__r._3").as("is_changepoint"))
  }

  /** Mann-Kendall normalized trend statistic per series (reference
    * src/mann_kendall.rs:24-77): `[id, mann_kendall]`, from
    * [[graft.kernels.MannKendall.stat]] on each series' buffer through
    * [[Panel.mapSeries]]. */
  def mannKendall(df: DataFrame)(implicit pc: PanelCols): DataFrame =
    Panel.mapSeries(df, Panel.noTime)(_ => SeriesKernel("mann_kendall",
        StructType(Seq(StructField("mann_kendall", DoubleType, nullable = false)))) { s =>
      Iterator.single(new GenericInternalRow(
        Array[Any](MannKendall.stat(s.values("mann_kendall")))))
    })

  /** Theil-Sen slope per series (reference src/sens_slope.rs:20-49):
    * `[id, sens_slope]`. */
  def sensSlope(df: DataFrame)(implicit pc: PanelCols): DataFrame = {
    val ssUdf = udf((ys: Seq[Double]) => graft.kernels.SensSlope.slope(ys.toArray))
    Panel.grouped(df).select(pc.idCol, ssUdf(col("ys")).as("sens_slope"))
  }
}
