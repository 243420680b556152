package graft.tools

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming-tier throughput harness: drives the stateless curation gate,
  * the stateful first-seen dedup, and the stateless classifier scorer
  * through a real MemoryStream → memory-sink query over the sf documents
  * (cycled to `targetDocs` rows) and reports docs/sec per stage. The
  * number that matters for a firehose deployment: the stateless stages
  * must be scan-bound (≥10⁴ docs/sec/core here ⇒ a 1000-core cluster
  * absorbs ~10⁷ docs/sec before state or shuffle enters the picture).
  * Run: sbt "runMain graft.tools.StreamBench". */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val targetDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "40000").toInt
    val spark = Legs.session()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = graft.core.IO.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val docs: Seq[(Long, String)] = (0 until targetDocs).map { i =>
      val (id, text) = base(i % base.length)
      // unique ids/texts so the dedup stage holds real per-doc state
      (i.toLong, if (i < base.length) text else s"$text v$i")
    }
    val clfModel = graft.ops.Selection.textClassifierFit(
      docs.take(2000).toDF("doc_id", "text"), col("doc_id") % 2 === 0,
      buckets = 64, sampleCap = 1000)

    def drive(name: String)(build: MemoryStream[(Long, String)] =>
        org.apache.spark.sql.DataFrame): Unit = {
      val source = MemoryStream[(Long, String)]
      val q = build(source).writeStream.format("memory")
        .queryName(s"sb_$name").outputMode("append").start()
      try {
        source.addData(docs.take(1000): _*) // warm the plan + codegen
        q.processAllAvailable()
        val t0 = System.nanoTime()
        docs.drop(1000).grouped(8192).foreach(b => source.addData(b: _*))
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        val n = targetDocs - 1000
        println(f"STREAMBENCH $name%-20s $n%7d docs  $secs%6.2f s  ${n / secs}%9.0f docs/sec")
      } finally q.stop()
    }

    drive("curate_stateless") { src =>
      StreamingOps.streamingCurate(src.toDS().toDF("doc_id", "text"))
    }
    drive("classifier_score") { src =>
      StreamingOps.streamingClassifierScore(
        src.toDS().toDF("doc_id", "text"), clfModel)
        .select("doc_id", "quality_prob")
    }
    drive("dedup_stateful") { src =>
      StreamingOps.streamingDedup(
        src.toDS().map { case (id, t) =>
          StreamingOps.Doc(id, new java.sql.Timestamp(86400000L + id), t)
        }, "1 hour")
    }
    spark.stop()
  }
}
