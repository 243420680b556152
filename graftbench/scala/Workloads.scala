package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{IO, PanelCols}
import graft.kernels.{Elastic, Ets, MannKendall, Pelt}
import graft.ops._

/** One timed call into the engine: `build` returns the DataFrame (the
  * `ops` / `SparkEntry` call), `run` executes it. */
final case class Call(id: String, build: () => DataFrame, run: DataFrame => Any)

trait Workload {
  def name: String
  /** One set-up round: generate the inputs from the seed, write, cache. */
  def setup(): Unit
  def calls: Seq[Call]
  /** Generated input sizes: rows, bytes, length quantiles, hot-key share. */
  def inputRecord: Map[String, Any]
  /** Output checks, outside any timed region. Returns call id → what
    * failed, and writes anything the DuckDB side must see under the work
    * directory. */
  def check(): Map[String, String]
  /** Run the output checks before the timed passes, as their warm-up,
    * instead of after them. */
  def checksFirst: Boolean = false
  /** Facts the DuckDB side compares against (written to the run record). */
  def checkFacts: Map[String, Any] = Map.empty
  /** Single-threaded direct kernel calls (trace runs): CPU seconds spent
    * and the legs whose executor CPU they mirror. */
  def directKernels(): Option[(Double, Seq[String])] = None
  /** Inputs the scan probe reads through `IO.table`: (dir, table). */
  def scanInputs: Seq[(String, String)] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload =
    name match {
      case "panel_pipeline" => new PanelPipeline(spark, seed, work)
      case "corpus_curation" => new CorpusCuration(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def noop(df: DataFrame): Any = df.write.format("noop").mode("overwrite").save()

  def close(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * (1.0 + math.abs(b))

  def seededPick[T](xs: Seq[T], k: Int, seed: Long, salt: Long): Seq[T] = {
    val r = new SplittableRandom(seed * 7919L + salt)
    val a = xs.toBuffer
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a.take(k).toSeq
  }

  def quantiles(xs: Seq[Int]): Map[String, Int] = {
    val s = xs.sorted
    Seq(0.0, 0.5, 0.9, 0.99, 1.0).map { q =>
      f"q$q%.2f" -> s(math.min(s.size - 1, (q * s.size).toInt))
    }.toMap
  }
}

import Workload._

/** Grouped-series path: a long-format panel with heavy-tailed series
  * lengths plus a zipf-hot second stream for the as-of join. */
final class PanelPipeline(spark: SparkSession, seed: Long, work: String) extends Workload {
  val name = "panel_pipeline"
  private implicit val pc: PanelCols = PanelCols("series_id", "ts", "y")
  private val nSeries = 2000
  private val lens = Data.heavyTailLengths(nSeries, 30, 3000)
  private val streamRows = 100000L
  private val dtwLen = 64
  private val dtwWindow = 8
  private val dtwIds: Seq[Long] =
    seededPick(lens.indices.filter(lens(_) >= dtwLen).map(_.toLong), 160, seed, 1).sorted
  private var panel: DataFrame = _
  private var stream: DataFrame = _
  private var dtwPanel: DataFrame = _
  private var series: Map[Long, Array[Double]] = Map.empty
  def setup(): Unit = {
    Seq(panel, stream, dtwPanel).filter(_ != null).foreach(_.unpersist(true))
    panel = Data.panel(spark, lens, seed).cache()
    panel.count()
    stream = Data.hotKeyStream(spark, streamRows, nSeries, lens.max, seed).cache()
    stream.count()
    dtwPanel = panel
      .join(broadcast(spark.createDataFrame(dtwIds.map(Tuple1(_))).toDF("series_id")),
        "series_id")
      .filter(col("ts") < timestamp_micros(
        lit(Data.PanelStartUs + dtwLen * 3600000000L)).cast("timestamp_ntz"))
      .cache()
    dtwPanel.count()
    series = panel.collect().groupBy(_.getLong(0)).map { case (id, rows) =>
      id -> rows.sortBy(_.getAs[java.time.LocalDateTime](1)).map(_.getDouble(2))
    }
  }

  private val models: Seq[(String, Array[Double] => Array[Double])] = Seq(
    "ses" -> (ys => Ets.ses(ys, 0.3, 12)),
    "hw" -> (ys => Ets.holtWinters(ys, 0.3, 0.1, 0.1, 12, true, 12)))

  private def features: DataFrame =
    Features.rollingFeatures(Features.lagFeatures(panel, Seq(1, 7)), Seq(7), Seq("mean"))

  def calls: Seq[Call] = Seq(
    Call("ets_forecast", () => ForecastBaselines.multiForecast(panel, 12, models), noop),
    Call("pelt", () => Changepoint.pelt(panel, "mean"), noop),
    Call("mann_kendall", () => Changepoint.mannKendall(panel), noop),
    Call("cusum", () => Changepoint.cusum(panel), noop),
    Call("dtw_band", () => Distances.pairwise(dtwPanel, "dtw",
      Map("window" -> dtwWindow.toDouble)), noop),
    Call("feature_asof", () => TemporalJoins.asofJoinNative(features, stream,
      Seq("series_id"), "ts", "ts", Seq("s_val")), noop))

  def inputRecord: Map[String, Any] = {
    val hot = stream.groupBy("series_id").count().orderBy(desc("count"))
      .limit(nSeries / 100).agg(sum("count")).head().getLong(0)
    Map("series" -> nSeries, "panel_rows" -> lens.map(_.toLong).sum,
      "panel_bytes_est" -> lens.map(_.toLong).sum * 24,
      "series_len_quantiles" -> quantiles(lens.toSeq),
      "stream_rows" -> streamRows,
      "stream_hot_key_share_top1pct" -> hot.toDouble / streamRows,
      "dtw_series" -> dtwIds.size, "dtw_len" -> dtwLen)
  }

  private def pelt(ys: Array[Double]): Set[Long] =
    Pelt.detect(ys, Pelt.cost("mean"), 2.0 * math.log(ys.length.toDouble), 2, true).toSet

  @volatile private var kernelSink = 0.0

  override def directKernels(): Option[(Double, Seq[String])] = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val c0 = bean.getCurrentThreadCpuTime
    var sink = 0.0
    series.values.foreach { ys =>
      models.foreach { case (_, f) => sink += f(ys)(0) }
      sink += pelt(ys).size
      sink += MannKendall.stat(ys)
    }
    val arrs = dtwIds.map(id => series(id).take(dtwLen)).toArray
    for (i <- arrs.indices; j <- i + 1 until arrs.length)
      sink += Elastic.dtwSakoeChiba(arrs(i), arrs(j), dtwWindow)
    val cpu = (bean.getCurrentThreadCpuTime - c0) / 1e9
    kernelSink = sink
    Some((cpu, Seq("ets_forecast", "pelt", "mann_kendall", "dtw_band")))
  }

  def check(): Map[String, String] = {
    val sample = seededPick(series.keys.toSeq.sorted, 12, seed, 2)
    val dtwSample = seededPick(dtwIds, 8, seed, 3).toSet
    val inS = col("series_id").isin(sample: _*)
    def leg(id: String): DataFrame = calls.find(_.id == id).get.build()
    val fails = scala.collection.mutable.Map.empty[String, String]
    def verify(id: String)(body: => Option[String]): Unit =
      try body.foreach(m => fails(id) = m)
      catch { case e: Throwable => fails(id) = s"check threw: $e" }

    verify("ets_forecast") {
      val rows = leg("ets_forecast").filter(inS).collect()
      val bad = rows.filterNot { r =>
        val ys = series(r.getAs[Long]("series_id"))
        val f = models.find(_._1 == r.getAs[String]("model")).get._2
        close(r.getAs[Double]("y_hat"), f(ys)(r.getAs[Long]("step").toInt - 1))
      }
      if (rows.length != sample.size * 2 * 12) Some(s"rows ${rows.length}")
      else if (bad.nonEmpty) Some(s"${bad.length} forecasts differ from Ets")
      else None
    }
    verify("pelt") {
      val got = leg("pelt").filter(inS).collect()
        .groupBy(_.getAs[Long]("series_id"))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("changepoint_idx")).toSet }
      val bad = sample.filter(id => got.getOrElse(id, Set.empty[Long]) != pelt(series(id)))
      if (bad.nonEmpty) Some(s"changepoints differ for series ${bad.mkString(",")}") else None
    }
    verify("mann_kendall") {
      val got = leg("mann_kendall").filter(inS).collect()
        .map(r => r.getAs[Long]("series_id") -> r.getAs[Double]("mann_kendall")).toMap
      val bad = sample.filterNot(id =>
        got.get(id).exists(close(_, MannKendall.stat(series(id)))))
      if (bad.nonEmpty) Some(s"statistic differs for series ${bad.mkString(",")}") else None
    }
    verify("cusum") {
      val got = leg("cusum").filter(inS).collect().groupBy(_.getAs[Long]("series_id"))
      val bad = sample.filterNot { id =>
        val ys = series(id)
        val mu = ys.sum / ys.length
        val sd = math.sqrt(ys.map(y => (y - mu) * (y - mu)).sum / (ys.length - 1))
        val want = ys.map(y => if (sd != 0) (y - mu) / sd else 0.0).scanLeft(0.0)(_ + _).tail
        val have = got.getOrElse(id, Array.empty[Row])
          .sortBy(_.getAs[java.time.LocalDateTime]("ts")).map(_.getAs[Double]("cusum"))
        have.length == want.length &&
          have.zip(want).forall { case (a, b) => math.abs(a - b) <= 1e-6 }
      }
      if (bad.nonEmpty) Some(s"cusum differs for series ${bad.mkString(",")}") else None
    }
    verify("dtw_band") {
      val ds = dtwSample.toSeq
      val rows = leg("dtw_band")
        .filter(col("id_1").isin(ds: _*) && col("id_2").isin(ds: _*)).collect()
      val bad = rows.filterNot { r =>
        val a = series(r.getAs[Long]("id_1")).take(dtwLen)
        val b = series(r.getAs[Long]("id_2")).take(dtwLen)
        close(r.getAs[Double]("dtw"), Elastic.dtwSakoeChiba(a, b, dtwWindow))
      }
      if (rows.length != ds.size * (ds.size - 1) / 2) Some(s"pairs ${rows.length}")
      else if (bad.nonEmpty) Some(s"${bad.length} distances differ from Elastic")
      else None
    }
    verify("feature_asof") {
      val rows = leg("feature_asof").filter(inS).collect()
      val right = stream.filter(inS).collect().groupBy(_.getLong(0))
        .map { case (k, rs) => k -> rs.map(r =>
          (r.getAs[java.time.LocalDateTime](1), r.getDouble(2))).sortBy(_._1) }
      val bad = rows.filterNot { r =>
        val id = r.getAs[Long]("series_id")
        val t = r.getAs[java.time.LocalDateTime]("ts")
        val cands = right.getOrElse(id, Array.empty[(java.time.LocalDateTime, Double)])
          .filter(!_._1.isAfter(t))
        val sv = Option(r.getAs[Any]("s_val")).map(_.asInstanceOf[Double])
        if (cands.isEmpty) sv.isEmpty
        else {
          val best = cands.map(_._1).max
          sv.exists(v => cands.exists(c => c._1 == best && c._2 == v))
        }
      }
      val want = sample.map(id => series(id).length).sum
      if (rows.length != want) Some(s"rows ${rows.length}, want $want")
      else if (bad.nonEmpty) Some(s"${bad.length} as-of matches wrong")
      else None
    }
    fails.toMap
  }
}

/** Scan / normalization exchange / Catalyst text and vector kernels: a
  * document corpus and an embedding set with the sf0.1 testdata's sizes
  * and statistics (5,000 documents, 2,000 64-dimensional vectors; see
  * `Data`), replicated twice, read fresh each call. */
final class CorpusCuration(spark: SparkSession, seed: Long, work: String) extends Workload {
  val name = "corpus_curation"
  private val dir = s"$work/corpus"
  private val baseDocs = 5000
  private val baseEmb = 2000
  private val reps = 2
  private val knnK = 10
  private var centroids: Array[Array[Double]] = _
  private var record: Map[String, Any] = Map.empty
  private val queryIds: Seq[Long] =
    seededPick((0L until (baseEmb * reps).toLong), 40, seed, 4).sorted

  /** Replica r > 0 of every document goes through a seed-chosen bijective
    * character cipher and every vector through a circular shift, so each
    * replica keeps the near-duplicate structure of the base set while
    * replicas do not collide (as `graft.Bench.scale10x` does). Replica 0
    * is the identity. */
  private def cipher(r: Int): (String, String) = {
    def perm(s: String, salt: Long) = seededPick(s.toSeq, s.length, seed, salt).mkString
    val lo = "abcdefghijklmnopqrstuvwxyz"; val dg = "0123456789"
    (lo + lo.toUpperCase + dg,
      { val l = perm(lo, 100 + r); l + l.toUpperCase + perm(dg, 200 + r) })
  }

  def setup(): Unit = {
    new java.io.File(dir).mkdirs()
    val docs0 = Data.documents(spark, baseDocs, seed)
    val emb0 = Data.embeddings(spark, baseEmb, 64, seed)
    val rep = explode(sequence(lit(0), lit(reps - 1))).as("__rep")
    val text = (1 until reps).foldLeft(when(col("__rep") === 0, col("text"))) { (acc, r) =>
      val (from, to) = cipher(r)
      acc.when(col("__rep") === r, translate(col("text"), from, to))
    }
    val docs = docs0.select(col("*"), rep)
      .withColumn("doc_id", col("doc_id") * reps + col("__rep"))
      .withColumn("text", text)
      .drop("__rep")
    val shifts = seededPick(1 until 64, reps - 1, seed, 5)
    val shift = (1 until reps).foldLeft(when(col("__rep") === 0, lit(0))) { (acc, r) =>
      acc.when(col("__rep") === r, lit(shifts(r - 1)))
    }
    val emb = emb0.select(col("*"), rep)
      .withColumn("vec_id", col("vec_id") * reps + col("__rep"))
      .withColumn("__s", shift)
      .withColumn("embedding",
        when(col("__s") === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), col("__s") + 1, size(col("embedding")) - col("__s")),
          slice(col("embedding"), lit(1), col("__s")))))
      .drop("__rep", "__s")
    val docBytes = Data.writeTable(docs, dir, "documents")
    val embBytes = Data.writeTable(emb, dir, "embeddings")
    centroids = Similarity.ivfCentroids(embeddings)
    record = Map("documents_rows" -> baseDocs.toLong * reps, "documents_bytes" -> docBytes,
      "embeddings_rows" -> baseEmb.toLong * reps, "embeddings_bytes" -> embBytes,
      "replicas" -> reps, "embedding_dim" -> 64, "knn_queries" -> queryIds.size)
  }

  private def documents: DataFrame = IO.table(spark, dir, "documents")
  private def embeddings: DataFrame =
    IO.table(spark, dir, "embeddings").select("vec_id", "embedding")
  private def curated: DataFrame = {
    val verdict = SparkEntry.queries("doc_curation_pipeline")(spark, dir)
    documents.join(verdict.filter(col("keep")).select("doc_id"), "doc_id")
  }

  def calls: Seq[Call] = Seq(
    Call("dedup_exact", () => Dedup.exact(documents), noop),
    Call("minhash_lsh", () => Dedup.minhashLsh(documents, threshold = 0.5), noop),
    Call("kn_perplexity", () => TextOps.knPerplexity(documents, buckets = 4096), noop),
    Call("span_dedup", () => Dedup.spanDedup(documents), noop),
    Call("quality_metrics", () => TextOps.curationMetrics(documents.drop("n_chars")), noop),
    Call("semdedup", () => Similarity.semDedup(embeddings, centroids, 0.95), noop),
    Call("knn_brute", () => {
      val e = embeddings
      Similarity.bruteForceTopK(e, e.filter(col("vec_id").isin(queryIds: _*)), knnK)
    }, noop),
    Call("curate_write", () => curated,
      df => df.write.mode("overwrite").parquet(s"$work/curated")))

  def inputRecord: Map[String, Any] = record
  override def scanInputs: Seq[(String, String)] =
    Seq(dir -> "documents", dir -> "embeddings")

  private var facts: Map[String, Any] = Map.empty
  override def checkFacts: Map[String, Any] = facts

  /** The checks compute every leg's full output, a pass's worth of work;
    * run first they warm the timed pass up for less than a cold timed pass
    * would cost. */
  override def checksFirst: Boolean = true

  def check(): Map[String, String] = {
    val fails = scala.collection.mutable.Map.empty[String, String]
    val n = baseDocs.toLong * reps
    val nEmb = baseEmb.toLong * reps
    def leg(id: String): DataFrame = calls.find(_.id == id).get.build()
    def perDoc(id: String, key: String, want: Long): Unit = try {
      val out = leg(id)
      val (rows, ids) = {
        val r = out.agg(count(lit(1)), countDistinct(col(key))).head()
        (r.getLong(0), r.getLong(1))
      }
      if (rows != want || ids != want) fails(id) = s"rows $rows ids $ids, want $want"
    } catch { case e: Throwable => fails(id) = s"check threw: $e" }
    val f = scala.collection.mutable.Map.empty[String, Any]
    try {
      val ex = leg("dedup_exact")
      val r = ex.agg(count(lit(1)), sum(when(!col("is_duplicate"), 1).otherwise(0))).head()
      f("dedup_exact_rows") = r.getLong(0); f("dedup_exact_kept") = r.getLong(1)
    } catch { case e: Throwable => fails("dedup_exact") = s"check threw: $e" }
    try leg("minhash_lsh").select("id_a", "id_b").coalesce(1).write.mode("overwrite")
      .parquet(s"$work/check/minhash_pairs")
    catch { case e: Throwable => fails("minhash_lsh") = s"check threw: $e" }
    perDoc("kn_perplexity", "doc_id", n)
    perDoc("span_dedup", "doc_id", n)
    perDoc("quality_metrics", "doc_id", n)
    perDoc("semdedup", "vec_id", nEmb)
    try leg("knn_brute").select("query_id", "neighbor_id", "rank").coalesce(1)
      .write.mode("overwrite").parquet(s"$work/check/knn")
    catch { case e: Throwable => fails("knn_brute") = s"check threw: $e" }
    try f("curate_keep") = SparkEntry.queries("doc_curation_pipeline")(spark, dir)
      .filter(col("keep")).count()
    catch { case e: Throwable => fails("curate_write") = s"check threw: $e" }
    f("documents_rows") = n; f("embeddings_rows") = nEmb
    f("knn_queries") = queryIds.size; f("knn_k") = knnK
    facts = f.toMap
    fails.toMap
  }
}
