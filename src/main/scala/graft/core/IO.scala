package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Testdata table loaders (TESTDATA.md layout: one parquet per table). */
object IO {

  /** Read one table from a scale-factor directory.
    *
    * The `events` table is written with parquet TIMESTAMP(NANOS), which
    * Spark 4 refuses to read unless `spark.sql.legacy.parquet.nanosAsLong`
    * is set — and then surfaces as a raw nanosecond Long. We truncate
    * nanos → microseconds, which is bit-identical to how DuckDB (the
    * correctness oracle) reads the same file, so timestamps stay
    * hash-comparable end to end.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val typed = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == LongType && f.name == "ts")
        // nanos long → µs → NTZ timestamp (truncation == DuckDB's read)
        d.withColumn(f.name,
          timestamp_micros(expr(s"${f.name} div 1000")).cast("timestamp_ntz"))
      else if (f.dataType == org.apache.spark.sql.types.TimestampType)
        // session TZ is UTC, so LTZ→NTZ is value-preserving; NTZ parquet
        // output (isAdjustedToUTC=false) is what DuckDB emits, keeping
        // timestamps hash-comparable in the driver's oracle diff.
        d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
      else d
    }
    // Scan-parallelism normalization (optimization guide §2.5: "one huge
    // unsplittable file … repartition immediately after the read"). The
    // testdata tables are single-row-group parquet files, and parquet is
    // splittable only at row-group granularity — so every downstream
    // stage up to the first exchange (filters, signature expressions,
    // partial aggregations) otherwise runs as ONE task regardless of
    // maxPartitionBytes (measured r12: q1_agg wall 1.26 s, cpu 3.0 s on
    // 32 cores). Fires ONLY when the scan cannot feed the session's
    // cores; a production multi-row-group / multi-file input yields
    // parts >= parallelism and keeps its shuffle-free scan.
    //
    // Hash-partitioning on the table's high-cardinality id column, NOT
    // round-robin: round-robin pays `sortBeforeRepartition` (a full
    // binary sort of the scan task's rows — measured ~0.5 s of the
    // single-task q1_agg scan), while a column hash is sort-free AND
    // value-deterministic, so downstream seeded `.sample()` fits do not
    // depend on the physical scan layout at all.
    //
    // `embeddings` is deliberately EXCLUDED: the ANN recall-audit gate
    // rows assert recall buckets as pinned SQL literals, and the IVF
    // coarse-quantizer sample + HNSW partition-local graphs are
    // partition-layout-dependent — renormalizing a 2 k-row table buys no
    // parallelism and could move recall across a 0.05 bucket boundary.
    // r13: ALSO gated on input bytes (r12 verdict "Next round" #1). Below
    // ~128 KB a single-task scan decodes in single-digit milliseconds and
    // the exchange costs strictly more than it buys — yet the r12
    // unconditional form charged that exchange to every one of the 822
    // sf0.001 gate tests and all 322 Verify queries, material wall-time
    // under co-tenant load. The floor keeps normalization exactly where
    // it pays: CPU-dense work over >=100k-row single-row-group files
    // (every sf0.1 bench table clears it; every sf0.001 table is under
    // it). Env-overridable, size-based — not tuned to any core count.
    val parallelism = spark.sparkContext.defaultParallelism
    // row-group-accurate where it can be (see effectiveScanUnits): a
    // big single-row-group file reports inflated split counts
    val scanParts = effectiveScanUnits(df).getOrElse(df.rdd.getNumPartitions)
    val scanBytes = df.queryExecution.analyzed.stats.sizeInBytes
    val minBytes = BigInt(sys.env.getOrElse(
      "SPARK_GRAFT_SCAN_NORM_MIN_BYTES", "131072"))
    val spreadKey = Map(
      "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "events" -> "event_id",
      "documents" -> "doc_id").get(name)
    spreadKey match {
      case Some(k) if scanParts * 4 <= parallelism && scanBytes >= minBytes =>
        typed.repartition(NormalizedScanPartitions, col(k))
      case _ => typed
    }
  }

  /** Effective parallelism of a file scan: parquet is splittable only at
    * row-group granularity, so a single-row-group file BIGGER than
    * `maxPartitionBytes` still reports many split-partitions while every
    * row lands in the one task holding the row-group start — the split
    * count lies (measured r13, OPTIMIZATION_r13.md:164: a 1.3 GB 1-RG
    * file read as "11 partitions" ran its scan stage at parallelism
    * 1.0). When the scan has few files, read the footers and count the
    * actual row groups; plenty-of-files scans and non-file plans return
    * None (the split count is honest there). Plan-time footer reads
    * only — never a Spark job. */
  def effectiveScanUnits(df: org.apache.spark.sql.DataFrame): Option[Int] =
    try {
      val files = df.inputFiles
      if (files.isEmpty || files.length > 8) None
      else {
        val conf = df.sparkSession.sessionState.newHadoopConf()
        Some(files.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRowGroups.size finally r.close()
        }.sum)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Partition count for the single-row-group normalization above. A
    * FIXED constant, not `defaultParallelism`: hash(key) % N with fixed N
    * gives the same physical row layout at local[4], local[8] and
    * local[32], so per-series floating-point fold orders (unordered
    * window/groupBy sums) do not shift with the session's core count —
    * the driver re-runs the gate and bench at several core counts and a
    * layout-dependent 6-dp rounding flip would read as a correctness
    * regression. 32 saturates every local core count the driver uses;
    * the constant only ever applies to pathological tiny inputs (the
    * predicate above), never to production multi-row-group data. */
  private val NormalizedScanPartitions = 32

  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
