package graft.plans

import graft.TestSpark
import graft.core.{Panel, PanelCols}
import graft.kernels.{Elastic, Ets, MannKendall, Pelt}
import graft.ops.{Changepoint, Distances, ForecastBaselines}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[SeriesMap]] / [[SeriesMapExec]] against the grouping they replace.
  *
  * The oracle is the former `Panel.grouped` —
  * `sort_array(collect_list(struct(time, tie-breaks…, value)))` — and
  * the former `Seq[Double]` / `Array[Double]` UDF forms of the migrated
  * operators built on it. Every case compares whole outputs: tie-breaks
  * and duplicate timestamps (ordered by value), null values and times,
  * timestamp / timestamp_ntz / date / long times, string and int ids
  * (null id included), one-point series and empty input.
  *
  * Two deliberate differences, both pinned here:
  *  - a null value: the `Seq[Double]` UDFs failed on it with Spark's
  *    opaque NOT_NULL_ASSERT_VIOLATION; the kernels now reject it with
  *    an IllegalArgumentException naming the operator. `grouped` keeps
  *    it null in `ys`, as before.
  *  - a forecast step past a kernel's output length: `element_at`
  *    failed under ANSI mode; it is now null (the oracle uses
  *    `try_element_at`). */
class SeriesMapSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  // ── the oracle: the aggregate form the operator replaced ───────────
  private def oracleGrouped(df: DataFrame)(implicit pc: PanelCols): DataFrame = {
    val fields = (pc.timeCol.as("__t") +: pc.tieBreak.zipWithIndex.map {
      case (c, i) => col(c).as(s"__tb$i")
    }) :+ pc.targetCol.cast("double").as("__v")
    df.groupBy(pc.idCol)
      .agg(sort_array(collect_list(struct(fields: _*))).as("__pts"))
      .select(pc.idCol, col("__pts.__v").as("ys"), col("__pts.__t").as("ts"))
  }

  private def oracleMannKendall(df: DataFrame)(implicit pc: PanelCols): DataFrame = {
    val mkUdf = udf((ys: Seq[Double]) => MannKendall.stat(ys.toArray))
    oracleGrouped(df).select(pc.idCol, mkUdf(col("ys")).as("mann_kendall"))
  }

  private def oraclePelt(df: DataFrame)(implicit pc: PanelCols): DataFrame = {
    val detectUdf = udf((ys: Seq[Double]) => {
      val arr = ys.toArray
      Pelt.detect(arr, Pelt.MeanCost, 2.0 * math.log(arr.length.toDouble), 2, true)
    })
    oracleGrouped(df)
      .select(pc.idCol, col("ts").as("__ts"), detectUdf(col("ys")).as("__cps"))
      .select(pc.idCol, explode(col("__cps")).as("changepoint_idx"), col("__ts"))
      .withColumn(pc.time, expr("__ts[int(changepoint_idx)]"))
      .drop("__ts")
  }

  private def oracleMultiForecast(df: DataFrame, h: Int,
      kernels: Seq[(String, Array[Double] => Array[Double])])(
      implicit pc: PanelCols): DataFrame = {
    val fns = kernels.map(_._2)
    val fcUdf = udf((ys: Seq[Double]) => { val arr = ys.toArray; fns.map(f => f(arr)) })
    val nameArr = array(kernels.map(k => lit(k._1)): _*)
    oracleGrouped(df)
      .withColumn("__us", transform(col("ts"), t => unix_micros(t.cast("timestamp"))))
      .select(pc.idCol, fcUdf(col("ys")).as("__fcs"),
        element_at(col("__us"), -1).as("__last_us"),
        array_min(zip_with(
          slice(col("__us"), lit(2), greatest(size(col("__us")) - 1, lit(0))),
          col("__us"), (a, b) => a - b)).as("__freq"))
      .select(pc.idCol, posexplode(col("__fcs")).as(Seq("__m", "__fc")),
        col("__last_us"), col("__freq"))
      .select(pc.idCol, element_at(nameArr, col("__m") + 1).as("model"),
        col("__fc"), col("__last_us"), col("__freq"),
        explode(sequence(lit(1L), lit(h.toLong))).as("step"))
      .withColumn(pc.time,
        timestamp_micros(col("__last_us") + col("step") * col("__freq"))
          .cast("timestamp_ntz"))
      .select(pc.idCol, col("model"), col("step"), pc.timeCol,
        try_element_at(col("__fc"), col("step").cast("int")).as("y_hat"))
  }

  private def oraclePairwise(df: DataFrame, window: Int)(implicit pc: PanelCols): DataFrame = {
    val dist = udf((a: Array[Double], b: Array[Double]) => Elastic.dtwSakoeChiba(a, b, window))
    val g = oracleGrouped(df).select(pc.idCol, col("ys"))
    g.as("a").join(g.as("b"), col(s"a.${pc.id}") < col(s"b.${pc.id}"))
      .select(col(s"a.${pc.id}").as("id_1"), col(s"b.${pc.id}").as("id_2"),
        dist(col("a.ys"), col("b.ys")).as("dtw"))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def sameAs(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(canon(got) == canon(want))
  }

  // grouped's schema, array element nullability included, is the
  // aggregate's: a null-free value column gives a null-free ys
  private def sameGrouped(df: DataFrame)(implicit pc: PanelCols): Unit = {
    assert(Panel.grouped(df).schema == oracleGrouped(df).schema)
    sameAs(Panel.grouped(df), oracleGrouped(df))
  }

  // ── fixtures ───────────────────────────────────────────────────────
  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Random panel: 6 string ids (one null), times on a coarse grid so
    * timestamps collide, a tie-break column that also collides, values
    * with duplicates, ~1/15 null values and ~1/20 null times. */
  private lazy val messy: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    (1 to 400).map { i =>
      val id = if (i % 31 == 0) null else s"s${rng.nextInt(5)}"
      val t = if (i % 20 == 0) null else new Timestamp(t0 + rng.nextInt(40) * 3600000L)
      val tb = rng.nextInt(3).toLong
      val y: java.lang.Double = if (i % 15 == 0) null else rng.nextInt(6).toDouble
      (id, t, tb, y)
    }.toDF("id", "t", "tb", "y").cache()
  }

  /** Same shape with int ids and no nulls, for the kernel comparisons. */
  private lazy val clean: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    (0 until 12).flatMap { s =>
      val n = 1 + rng.nextInt(60) + (if (s == 0) 0 else 5)
      (0 until n).map { j =>
        (s, new Timestamp(t0 + (j + rng.nextInt(2)) * 3600000L), rng.nextInt(4).toLong,
          (if (j > n / 2) 3.0 else 0.0) + rng.nextGaussian())
      }
    }.toDF("id", "t", "tb", "y").cache()
  }

  private val withTb = PanelCols("id", "t", "y", Seq("tb"))
  private val noTb = PanelCols("id", "t", "y")

  // ── grouped ────────────────────────────────────────────────────────
  test("grouped matches the struct sort: tie-breaks, duplicate times by value, nulls") {
    sameGrouped(messy)(withTb)
    sameGrouped(messy)(noTb)
    sameGrouped(clean)(withTb)
  }

  test("grouped keeps null values null and sorts null times first") {
    val rows = Panel.grouped(messy)(noTb).collect()
    val ys = rows.flatMap(_.getSeq[Any](1))
    assert(ys.contains(null), "fixture has null values; grouped must keep them")
    rows.foreach { r =>
      val ts = r.getSeq[Timestamp](2)
      assert(ts.dropWhile(_ == null).forall(_ != null), s"null time not first: $ts")
    }
  }

  test("grouped over timestamp_ntz, date and long times, int ids") {
    val base = messy.filter(col("t").isNotNull || col("id") === "s1")
      .withColumn("iid", coalesce(substring(col("id"), 2, 1).cast("int"), lit(-1)))
    for (tc <- Seq(col("t").cast("timestamp_ntz"), to_date(col("t")),
        unix_seconds(col("t")))) {
      val df = base.withColumn("tt", tc)
      val pc = PanelCols("iid", "tt", "y", Seq("tb"))
      sameGrouped(df)(pc)
    }
  }

  test("grouped and every migrated operator give no rows on empty input") {
    implicit val pc: PanelCols = withTb
    val empty = clean.limit(0)
    assert(Panel.grouped(empty).count() == 0)
    assert(Changepoint.pelt(empty).count() == 0)
    assert(Changepoint.mannKendall(empty).count() == 0)
    assert(ForecastBaselines.multiForecast(empty, 3,
      Seq("ses" -> (ys => Ets.ses(ys, 0.3, 3)))).count() == 0)
    assert(Distances.pairwise(empty, "dtw", Map("window" -> 2.0)).count() == 0)
  }

  // ── the migrated operators against their former UDF forms ──────────
  test("mannKendall matches the Seq[Double] UDF") {
    sameAs(Changepoint.mannKendall(clean)(withTb), oracleMannKendall(clean)(withTb))
  }

  test("kernels reject a null value loudly; the UDF form failed opaquely") {
    implicit val pc: PanelCols = withTb
    val withNull = messy.filter(col("id").isNotNull).na.drop(Seq("t"))
    val old = intercept[Exception](oracleMannKendall(withNull).collect())
    assert(old.getMessage.contains("NOT_NULL_ASSERT_VIOLATION"))
    for ((name, df) <- Seq(
        "mann_kendall" -> Changepoint.mannKendall(withNull),
        "pelt" -> Changepoint.pelt(withNull),
        "multiForecast" -> ForecastBaselines.multiForecast(withNull, 2,
          Seq("ses" -> (ys => Ets.ses(ys, 0.3, 2)))))) {
      val e = intercept[Exception](df.collect())
      assert(e.getMessage.contains(s"$name: a series holds"), e.getMessage)
    }
  }

  test("pelt matches the grouped UDF form, changepoint times included") {
    sameAs(Changepoint.pelt(clean)(withTb), oraclePelt(clean)(withTb))
    sameAs(Changepoint.pelt(clean)(noTb), oraclePelt(clean)(noTb))
  }

  test("multiForecast matches: one-point series, short kernels, null times") {
    implicit val pc: PanelCols = withTb
    val models: Seq[(String, Array[Double] => Array[Double])] = Seq(
      "ses" -> (ys => Ets.ses(ys, 0.3, 4)),
      "hw" -> (ys => if (ys.length >= 6) Ets.holtWinters(ys, 0.3, 0.1, 0.1, 3, true, 4)
        else Ets.ses(ys, 0.5, 4)),
      "short" -> (ys => ys.take(2)))
    sameAs(ForecastBaselines.multiForecast(clean, 4, models),
      oracleMultiForecast(clean, 4, models))
    val onePoint = clean.filter(col("id") === 0).limit(1)
    val got = ForecastBaselines.multiForecast(onePoint, 4, models).collect()
    assert(got.length == 12)
    assert(got.forall(_.isNullAt(3)), "a one-point series has no frequency")
    assert(got.filter(_.getString(1) == "short").count(_.isNullAt(4)) == 3,
      "steps past the kernel's length are null")
    sameAs(ForecastBaselines.multiForecast(onePoint, 4, models),
      oracleMultiForecast(onePoint, 4, models))
    val nullTimes = messy.filter(col("id").isNotNull).na.drop(Seq("y"))
    sameAs(ForecastBaselines.multiForecast(nullTimes, 4, models),
      oracleMultiForecast(nullTimes, 4, models))
  }

  test("pairwise DTW matches the aggregate-grouped self-join") {
    implicit val pc: PanelCols = withTb
    val got = Distances.pairwise(clean, "dtw", Map("window" -> 3.0))
    val want = oraclePairwise(clean, 3)
    val key = (df: DataFrame) => df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(key(got) == key(want))
    // a null value reaches the Array[Double] distance UDF as before
    val withNull = messy.filter(col("id").isNotNull).na.drop(Seq("t"))
      .withColumn("id", substring(col("id"), 2, 1).cast("int"))
    val n = scala.util.Try(key(Distances.pairwise(withNull, "dtw", Map("window" -> 3.0))))
    val o = scala.util.Try(key(oraclePairwise(withNull, 3)))
    assert(n.isFailure == o.isFailure, s"new $n, former $o")
    if (n.isSuccess) assert(n.get == o.get)
  }

  // ── plan shape, self-join, injection paths, metrics ───────────────
  private def execs(df: DataFrame): Seq[SeriesMapExec] =
    collect(df.queryExecution.executedPlan) { case e: SeriesMapExec => e }

  test("one exchange and one sort under SeriesMapExec, no aggregate") {
    val df = Changepoint.mannKendall(clean)(withTb)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val names = collect(plan) { case p: SparkPlan => p.nodeName }
    assert(execs(df).size == 1)
    assert(names.count(_ == "SeriesMapExec") == 1, names)
    assert(names.count(_ == "Exchange") == 1, names)
    assert(names.count(_ == "Sort") == 1, names)
    assert(!names.exists(_.contains("Aggregate")), names)
  }

  test("a self-join of one SeriesMap DataFrame resolves") {
    val g = Panel.grouped(clean)(withTb)
    val pairs = g.as("a").join(g.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"), size(col("a.ys")) + size(col("b.ys")))
      .collect()
    val sizes = clean.groupBy("id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1).toInt).toMap
    assert(pairs.length == sizes.size * (sizes.size - 1) / 2)
    pairs.foreach(r =>
      assert(r.getInt(2) == sizes(r.getInt(0)) + sizes(r.getInt(1))))
  }

  test("key-only filters are pushed below the node") {
    val df = Changepoint.mannKendall(clean)(withTb).filter(col("id") < 3)
    val opt = df.queryExecution.optimizedPlan
    val sm = opt.collectFirst { case s: SeriesMap => s }.get
    assert(sm.child.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]))
    assert(df.count() == 3)
  }

  test("SQL metrics: series count, longest series, kernel time") {
    val df = Panel.grouped(clean)(withTb)
    df.collect()
    val e = execs(df).head
    val longest = clean.groupBy("id").count().agg(max("count")).head().getLong(0)
    assert(e.metrics("numSeries").value == 12)
    assert(e.metrics("maxSeriesRows").value == longest)
    assert(e.metrics("kernelTime").value > 0)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains(s"numSeries=12, maxSeriesRows=$longest"), formatted)
  }

  test("the live-session path plans SeriesMapExec") {
    val df = Panel.grouped(clean)(withTb)
    assert(GraftPlanBridge.experimental(spark).extraStrategies.contains(GraftStrategy))
    assert(execs(df).nonEmpty)
  }

  test("a session built with the extensions class plans SeriesMapExec") {
    val shared = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    try {
      assert(!(fresh eq shared))
      import fresh.implicits._
      val child = GraftPlanBridge.analyzed(Seq((1L, 2L, 1.0), (1L, 1L, 2.0), (2L, 1L, 3.0))
        .toDF("k", "t", "v"))
      val Seq(k, t, v) = child.output
      val kernel = SeriesKernel("first", org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("first",
            org.apache.spark.sql.types.DoubleType)))) { s =>
        Iterator.single(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](s.ys(0))))
      }
      val node = SeriesMap(k, Seq(t, v), t, v, kernel,
        kernel.schema.map(f => org.apache.spark.sql.catalyst.expressions
          .AttributeReference(f.name, f.dataType, f.nullable)()), child)
      val df = GraftPlanBridge.ofRows(fresh, node)
      assert(df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
        Map(1L -> 2.0, 2L -> 3.0))
      assert(execs(df).nonEmpty)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
