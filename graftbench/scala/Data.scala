package graftbench

import java.io.File
import java.nio.file.Files
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every table is a pure function of the seed;
  * the engine only ever sees the generated data. */
object Data {

  /** The 30-token vocabulary of the sf0.1 testdata corpus (every one of
    * its documents is drawn from it, about uniformly), plus its near-copy
    * marker. */
  val Vocab: Array[String] = Array("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "a", "the", "line",
    "sort", "window", "spark", "order", "data", "column", "join", "small",
    "customer", "query", "big", "filter", "stream", "vector", "group")
  val DupMarker = "dup"

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)
  private def micros(y: Int, m: Int, d: Int): Long =
    LocalDateTime.of(y, m, d, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L

  private def df(spark: SparkSession, rows: Seq[Row], fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Write `frame` as ONE parquet file `<dir>/<name>.parquet` (the testdata
    * layout `IO.table` and the DuckDB oracle read). Returns its size. */
  def writeTable(frame: DataFrame, dir: String, name: String): Long = {
    val tmp = new File(dir, s".$name.tmp")
    frame.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = new File(dir, s"$name.parquet")
    dst.delete()
    Files.move(part.toPath, dst.toPath)
    deleteTree(tmp)
    dst.length()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Document text with the statistics of the sf0.1 testdata corpus:
    * 10–100 words (uniform) drawn uniformly from `Vocab`; 5% of documents
    * are another document's text plus " dup" (a near copy) and 0.16% an
    * exact copy of another document. */
  def texts(n: Int, r: SplittableRandom): Array[String] = {
    val base = Array.fill(n)(
      Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    Array.tabulate(n) { i =>
      val u = r.nextDouble()
      def other = { val j = r.nextInt(n - 1); base(if (j >= i) j + 1 else j) }
      if (u < 0.05) s"$other $DupMarker" else if (u < 0.0516) other else base(i)
    }
  }

  /** sf0.1's language mix: 41% en, about 15% each of zh, es, fr and de. */
  private val OtherLangs = Array("zh", "es", "fr", "de")
  private def lang(r: SplittableRandom): String = {
    val k = r.nextInt(100)
    if (k < 41) "en" else OtherLangs((k - 41) * 4 / 59)
  }

  /** `[doc_id, text, lang, source, n_chars]` as in sf0.1: 20 sources
    * round-robin, `n_chars` the text length. */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val r = rng(seed, 11)
    val t = texts(n, r)
    df(spark, (0 until n).map { i =>
      Row(i.toLong, t(i), lang(r), s"src${i % 20}", t(i).length.toLong)
    }, "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType)
  }

  /** `[vec_id, embedding, label]` as in sf0.1: unit vectors from an
    * isotropic Gaussian (no planted near duplicates) and labels 0–9. */
  def embeddings(spark: SparkSession, n: Int, dim: Int, seed: Long): DataFrame = {
    val r = rng(seed, 13)
    df(spark, (0 until n).map { i =>
      val v = Array.fill(dim)(gauss(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }, "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType)
  }

  private def gauss(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Series lengths with a heavy (Pareto, alpha 1.5) tail, from
    * deterministic quantiles, spread over the series ids by a fixed
    * permutation. Shape and placement do not depend on the seed: which
    * shuffle partition the longest series land in decides the slowest
    * task, and a seed should vary the values, not that luck. */
  def heavyTailLengths(n: Int, minLen: Int, maxLen: Int): Array[Int] = {
    val lens = Array.tabulate(n) { i =>
      val u = (i + 0.5) / n
      math.min(maxLen, (minLen * math.pow(1.0 - u, -1.0 / 1.5)).toInt)
    }
    val r = rng(0, 21)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = lens(i); lens(i) = lens(j); lens(j) = t
      i -= 1
    }
    lens
  }

  val PanelStartUs: Long = micros(2024, 1, 1)

  /** Long-format panel `[series_id, ts, y]` built in-engine: hourly
    * points, a seasonal term, a per-series trend and level shift, and
    * hash noise keyed on the seed. */
  def panel(spark: SparkSession, lens: Array[Int], seed: Long): DataFrame = {
    val meta = df(spark, lens.indices.map(i => Row(i.toLong, lens(i))),
      "series_id" -> LongType, "len" -> IntegerType)
    val noise = (c: org.apache.spark.sql.Column) =>
      pmod(xxhash64(lit(seed), col("series_id"), c), lit(100000)) / lit(100000.0)
    meta.select(col("series_id"), col("len"),
        explode(sequence(lit(0), col("len") - 1)).as("i"))
      .select(col("series_id"),
        timestamp_micros(lit(PanelStartUs) + col("i") * 3600000000L)
          .cast("timestamp_ntz").as("ts"),
        (sin(col("i") / lit(3.8197)) * 5.0 +
          col("i") * (noise(lit(-1)) - 0.5) * 0.05 +
          when(col("i") >= col("len") * noise(lit(-2)), noise(lit(-3)) * 8.0)
            .otherwise(0.0) +
          noise(col("i")) * 2.0).as("y"))
  }

  /** Second seeded stream keyed on the panel's series with zipf-like hot
    * keys (key = floor(n^u) − 1 for uniform u: P(key) ∝ 1/key), times
    * spread over the panel's span. `[series_id, ts, s_val]`. */
  def hotKeyStream(spark: SparkSession, rows: Long, nSeries: Int,
      spanHours: Int, seed: Long): DataFrame = {
    val u = (c: Int) =>
      pmod(xxhash64(lit(seed), lit(c), col("id")), lit(1000000007L)) / lit(1000000007.0)
    spark.range(rows).select(
      (floor(pow(lit(nSeries.toDouble), u(1))) - 1).cast("long").as("series_id"),
      timestamp_micros(lit(PanelStartUs) +
        floor(u(2) * spanHours * 3600.0).cast("long") * 1000000L + col("id") % 997)
        .cast("timestamp_ntz").as("ts"),
      (u(3) * 10.0).as("s_val"))
  }
}
