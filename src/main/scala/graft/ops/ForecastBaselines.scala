package graft.ops

import graft.core.{Panel, PanelCols}
import graft.plans.SeriesKernel
import java.time.ZoneOffset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField,
  StructType, TimestampNTZType}
import org.apache.spark.unsafe.types.UTF8String

/** Baseline + exponential-smoothing forecasts emitting the reference's
  * `[id, ds, y_hat]` shape with `h` future rows per series and timestamps
  * extrapolated at the inferred frequency (reference
  * polars_ts/models/baselines.py, exponential_smoothing.py).
  *
  * naive / seasonal-naive / moving-average are pure Spark SQL (one groupBy
  * + explode(sequence) — no per-series loops, no UDFs). The ETS/FFT
  * family ([[multiForecast]]) calls its kernels on each series' sorted
  * primitive buffer through [[Panel.mapSeries]]: one series in, h rows
  * per model out, one exchange on the id and no UDF.
  */
object ForecastBaselines {

  /** `[id, step, ds]` future scaffold joined with a per-series aggregate. */
  private def withFuture(df: DataFrame, agg: DataFrame, h: Int)(
      implicit pc: PanelCols): DataFrame =
    Panel.futureDates(df, h).join(agg, Seq(pc.id))

  /** Repeat the last observed value h steps (baselines.py:17-65). */
  def naive(df: DataFrame, h: Int)(implicit pc: PanelCols): DataFrame = {
    val lastY = df.groupBy(pc.idCol)
      .agg(max_by(pc.targetCol, struct(pc.orderCols: _*)).as("y_hat"))
    withFuture(df, lastY, h).select(pc.idCol, col("step"), pc.timeCol, col("y_hat"))
  }

  /** Cycle the last `seasonLength` values (baselines.py:68-123). */
  def seasonalNaive(df: DataFrame, h: Int, seasonLength: Int)(
      implicit pc: PanelCols): DataFrame = {
    val tail = df.groupBy(pc.idCol)
      .agg(slice(
        sort_array(collect_list(struct(
          pc.orderCols :+ pc.targetCol.cast("double").as(pc.target): _*))),
        -seasonLength, seasonLength).as("__tail"))
      .select(pc.idCol, col("__tail." + pc.target).as("__season"))
    withFuture(df, tail, h)
      .withColumn("y_hat", element_at(col("__season"),
        ((col("step") - 1) % size(col("__season")) + 1).cast("int")))
      .select(pc.idCol, col("step"), pc.timeCol, col("y_hat"))
  }

  /** Flat mean of the last `window` values (baselines.py:126-178). */
  def movingAverage(df: DataFrame, h: Int, window: Int)(
      implicit pc: PanelCols): DataFrame = {
    val tail = df.groupBy(pc.idCol)
      .agg(slice(
        sort_array(collect_list(struct(
          pc.orderCols :+ pc.targetCol.cast("double").as(pc.target): _*))),
        -window, window).as("__tail"))
      .select(pc.idCol,
        (aggregate(col("__tail." + pc.target), lit(0.0), _ + _) /
          size(col("__tail." + pc.target))).as("y_hat"))
    withFuture(df, tail, h).select(pc.idCol, col("step"), pc.timeCol, col("y_hat"))
  }

  import graft.kernels.{Ets, FftForecast}

  /** Run several named forecast kernels from ONE pass over the panel —
    * a single exchange and sort produce every model's h-step forecast
    * plus the future-timestamp scaffold. Each kernel runs on the series'
    * sorted value buffer through [[Panel.mapSeries]]; the last time and
    * the frequency (minimum successive delta, in microseconds of the time
    * cast to timestamp, null times skipped) come from the same sorted
    * buffer. A one-point series has no frequency, so its `ds` is null;
    * steps past a kernel's forecast length get a null `y_hat`.
    * Output: `[id, model, step, ds, y_hat]`. */
  def multiForecast(df: DataFrame, h: Int,
      kernels: Seq[(String, Array[Double] => Array[Double])])(
      implicit pc: PanelCols): DataFrame = {
    require(h >= 1, s"multiForecast: horizon must be at least 1, got $h")
    val fns = kernels.map(_._2).toArray
    val names = kernels.map(_._1).toArray
    // `ds` is timestamp_micros(last + step · freq) cast to timestamp_ntz,
    // i.e. the instant read in the session's time zone
    val zone = DateTimeUtils.getZoneId(df.sparkSession.conf.get("spark.sql.session.timeZone"))
    Panel.mapSeries(df, t => unix_micros(t.cast("timestamp")))(_ =>
      SeriesKernel("multi_forecast", StructType(Seq(
        StructField("model", StringType, nullable = false),
        StructField("step", LongType, nullable = false),
        StructField(pc.time, TimestampNTZType),
        StructField("y_hat", DoubleType)))) { s =>
      val n = s.n
      var freq = Long.MaxValue
      var i = 1
      while (i < n) {
        if (!s.tIsNull(i - 1) && !s.tIsNull(i)) freq = math.min(freq, s.ts(i) - s.ts(i - 1))
        i += 1
      }
      val hasDs = !s.tIsNull(n - 1) && freq != Long.MaxValue
      val last = s.ts(n - 1)
      val ys = s.values("multiForecast")
      val fcs = fns.map(f => f(ys))
      val models = names.map(UTF8String.fromString)
      Iterator.tabulate(fns.length * h) { j =>
        val m = j / h
        val step = j % h + 1
        new GenericInternalRow(Array[Any](models(m), step.toLong,
          if (hasDs) DateTimeUtils.convertTz(last + step * freq, ZoneOffset.UTC, zone) else null,
          if (step <= fcs(m).length) fcs(m)(step - 1) else null))
      }
    })
  }

  private def kernelForecast(df: DataFrame, h: Int,
      fc: Array[Double] => Array[Double])(implicit pc: PanelCols): DataFrame =
    multiForecast(df, h, Seq("" -> fc))
      .select(pc.idCol, col("step"), pc.timeCol, col("y_hat"))

  /** Simple exponential smoothing → flat forecast (src/ets.rs:12-18). */
  def ses(df: DataFrame, h: Int, alpha: Double = 0.3)(
      implicit pc: PanelCols): DataFrame =
    kernelForecast(df, h, ys => Ets.ses(ys, alpha, h))

  /** Holt level+trend linear extrapolation (src/ets.rs:23-35). */
  def holt(df: DataFrame, h: Int, alpha: Double = 0.3, beta: Double = 0.1)(
      implicit pc: PanelCols): DataFrame =
    kernelForecast(df, h, ys => Ets.holt(ys, alpha, beta, h))

  /** Holt-Winters seasonal (src/ets.rs:39-110). */
  def holtWinters(df: DataFrame, h: Int, m: Int, alpha: Double = 0.3,
      beta: Double = 0.1, gamma: Double = 0.1, additive: Boolean = true)(
      implicit pc: PanelCols): DataFrame =
    kernelForecast(df, h, ys => Ets.holtWinters(ys, alpha, beta, gamma, m, additive, h))

  /** Top-k-harmonic FFT extrapolation (baselines.py:181-255). */
  def fft(df: DataFrame, h: Int, nHarmonics: Int = 5)(
      implicit pc: PanelCols): DataFrame =
    kernelForecast(df, h, ys => FftForecast.forecast(ys, h, nHarmonics))
}
