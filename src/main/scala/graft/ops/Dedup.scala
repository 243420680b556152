package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design: every method reduces to hash → groupBy/join on compact
  * keys. Exact dedup groups on a 64-bit fingerprint (never on the raw
  * text — 100 TB of document bodies must not shuffle). MinHash-LSH
  * shuffles only (band-hash, doc_id) pairs; candidate verification joins
  * signatures, not documents.
  */
object Dedup {

  /** Estimated-input-size threshold (bytes) past which [[minhashLsh]]
    * logs a pointer to the persisted-signature incremental pattern —
    * the documented large-corpus default. */
  val IncrementalHintBytes: Long = 1L << 30

  /** Exact dedup on normalized-text fingerprint: keeps the lowest-id doc
    * per group, appends `dup_count` (group size) and `is_duplicate`. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fp = TextOps.fingerprint(col(textCol))
    val withFp = df.withColumn("__fp", fp)
    val groups = withFp.groupBy(col("__fp"))
      .agg(min(col(idCol)).as("__keep"), count(lit(1)).as("dup_count"))
    withFp.join(groups, Seq("__fp"))
      .withColumn("is_duplicate", col(idCol) =!= col("__keep"))
      .drop("__fp", "__keep")
  }

  /** Canonical mapping per exact-duplicate group — the purge step after
    * detection: every doc maps to the smallest id sharing its fingerprint
    * (`is_canonical` marks survivors; anti-join the rest away). Projects
    * to (id, 64-bit fingerprint) BEFORE the window, so the one shuffle
    * moves 16-byte rows, never document bodies. */
  def canonical(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__fp")
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("__fp"))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
      .drop("__fp")
  }

  /** Persisted fingerprint state for [[exactIncremental]]: the 64-bit
    * normalized-text fingerprints of the existing corpus. */
  def exactFingerprints(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol).as("__id"),
      TextOps.fingerprint(col(textCol)).as("__fp"))

  /** Incremental exact dedup: flags a new ingest batch against the
    * persisted fingerprint table — duplicate if the fingerprint already
    * exists, or repeats within the batch (lowest id survives). Existing
    * text is never re-read; the join moves 8-byte fingerprints only. */
  def exactIncremental(newDocs: DataFrame, existingFps: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val withFp = newDocs.withColumn("__fp", TextOps.fingerprint(col(textCol)))
    val oldFp = existingFps.select(col("__fp")).distinct()
      .withColumn("__inOld", lit(true))
    val batchMin = withFp.groupBy(col("__fp")).agg(min(col(idCol)).as("__keep"))
    withFp.join(batchMin, Seq("__fp"))
      .join(oldFp, Seq("__fp"), "left")
      .withColumn("is_duplicate",
        coalesce(col("__inOld"), lit(false)) || col(idCol) =!= col("__keep"))
      .drop("__fp", "__keep", "__inOld")
  }

  /** Duplicate n-gram coverage — the window-level signal of
    * cross-document substring duplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes LMs Better", arXiv:2107.06499,
    * whose suffix-array spans this approximates with fixed-width
    * windows): per document, the fraction of its word n-gram windows
    * whose gram also occurs in at least one OTHER document. Documents
    * above `threshold` are flagged for span-level dedup.
    *
    * Scale: windows shuffle as (doc_id, 64-bit FNV gram hash) pairs —
    * never text; the gram document-frequency aggregation map-side
    * combines, and the frequency join is co-partitioned on the hash both
    * sides (one shuffle each). Hash collisions (~|windows|²/2⁶⁴) are
    * negligible at any realistic corpus size. */
  def dupNgramCoverage(df: DataFrame, n: Int = 5, threshold: Double = 0.2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val win = df.select(col(idCol),
        explode_outer(Decontam.wordGrams(col(textCol), n)).as("__gram"))
      .select(col(idCol), col("__gram").isNotNull.as("__w"),
        TextOps.fnvHash(col("__gram")).as("__h"))
    val freq = win.filter(col("__w"))
      .groupBy("__h").agg(countDistinct(col(idCol)).as("__nd"))
    win.join(freq, Seq("__h"), "left")
      .groupBy(idCol)
      .agg(count(when(col("__w"), 1)).as("n_windows"),
        count(when(col("__nd") > 1, 1)).as("dup_windows"))
      .withColumn("dup_frac",
        when(col("n_windows") > 0, col("dup_windows") / col("n_windows"))
          .otherwise(lit(0.0)))
      .withColumn("flagged", col("dup_frac") > threshold)
  }

  /** Cross-corpus duplicated-line removal — the RefinedWeb/Falcon line
    * dedup stage (Penedo et al. 2023, arXiv:2306.01116 §3; also The Pile's
    * boilerplate strip): a line (split on `\n`, compared after `trim`)
    * that occurs in at least `minDocs` DISTINCT documents is boilerplate
    * (headers, nav bars, cookie banners, license footers) and is removed
    * from every document that contains it. Returns one row per document:
    * `n_lines`, `n_removed`, and `clean_text` (surviving lines rejoined in
    * original order). Empty/whitespace-only lines are never counted as
    * duplicates (they are kept verbatim).
    *
    * Scale: lines shuffle for the document-frequency aggregation as
    * (64-bit FNV hash, doc_id) pairs — never text — with map-side combine;
    * the frequency table is filtered to `freq >= minDocs` BEFORE the join
    * back (boilerplate lines are a tiny fraction of distinct lines), and
    * that join is hash-co-partitioned. The only text-bearing shuffle is
    * the final per-document reassembly, which any rebuild-the-text
    * operator needs. Hash collisions (~|lines|²/2⁶⁴) are negligible. */
  def lineDedup(df: DataFrame, minDocs: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // coalesce: a null text must still yield an output row (as one blank
    // line, same as an empty string) — posexplode of a null split emits
    // nothing, which would silently drop the document from a chained
    // pipeline while spanDedup/knPerplexity keep it (ADVICE r8)
    val lines = df.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("__pos", "__line")))
      .withColumn("__nonblank", length(trim(col("__line"))) > 0)
      .withColumn("__h", when(col("__nonblank"),
        TextOps.fnvHash(trim(col("__line")))))
    val boiler = lines.filter(col("__nonblank"))
      .groupBy("__h").agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"), lit(true).as("__dup"))
    lines.join(boiler, Seq("__h"), "left")
      .withColumn("__drop", coalesce(col("__dup"), lit(false)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("__drop"), struct(col("__pos"), col("__line"))))),
            s => s.getField("__line")),
          "\n").as("clean_text"))
  }

  /** Cross-document span dedup — the REMOVAL step of Lee et al. 2022
    * (arXiv:2107.06499 §4 delete duplicated substrings of ≥ 50 tokens;
    * their suffix-array spans approximated here with fixed word n-gram
    * windows, the [[dupNgramCoverage]] machinery): a window is duplicated
    * when its n-gram occurs in ≥ 2 DISTINCT documents; a maximal run of
    * ≥ `minRun` consecutive duplicated windows marks the word span
    * `[runStart, runEnd + n − 1]` (≥ n + minRun − 1 words) for deletion.
    * Within-document repetition alone never triggers deletion (document
    * frequency counts distinct docs). Output per document: `n_words`,
    * `n_removed_words`, `clean_text` (surviving words rejoined in order).
    *
    * Scale: windows shuffle as (doc_id, pos, 64-bit gram hash) — never
    * text; the document-frequency aggregation map-side combines; the
    * per-doc dup-position list is bounded by document length and joins
    * back to the words on the doc key. Gram tokenization matches
    * [[Decontam.wordGrams]] (trim, lowercase, `\s+` split) so coverage
    * and removal agree on window identity. */
  def spanDedup(df: DataFrame, n: Int = 5, minRun: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1 && minRun >= 1)
    val win = df.select(col(idCol),
        posexplode_outer(Decontam.wordGrams(col(textCol), n))
          .as(Seq("__pos", "__gram")))
      .select(col(idCol), col("__pos"),
        when(col("__gram").isNotNull, TextOps.fnvHash(col("__gram"))).as("__h"))
    val freq = win.filter(col("__h").isNotNull)
      .groupBy("__h").agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("__h"), lit(true).as("__dup"))
    val dupPos = win.join(freq, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(when(col("__dup"), col("__pos"))))
        .as("__dups"))
    val rebuild = udf((text: String, dups: Seq[Int]) => {
      val words = if (text == null) Array.empty[String]
        else TextOps.WsRe.split(text.trim).filter(_.nonEmpty)
      val drop = new Array[Boolean](words.length)
      if (dups != null && dups.nonEmpty) {
        var i = 0
        while (i < dups.length) {
          var j = i
          while (j + 1 < dups.length && dups(j + 1) == dups(j) + 1) j += 1
          if (j - i + 1 >= minRun) {
            var w = dups(i)
            val end = math.min(dups(j) + n - 1, words.length - 1)
            while (w <= end) { drop(w) = true; w += 1 }
          }
          i = j + 1
        }
      }
      val kept = words.indices.filterNot(drop).map(words)
      (words.length.toLong, (words.length - kept.length).toLong,
        kept.mkString(" "))
    })
    df.join(dupPos, Seq(idCol), "left")
      .withColumn("__r", rebuild(col(textCol), col("__dups")))
      .select(col(idCol), col("__r._1").as("n_words"),
        col("__r._2").as("n_removed_words"), col("__r._3").as("clean_text"))
  }

  /** Packed band key for band `b` of a k-length signature column — the
    * exact key [[minhashLsh]] buckets on, shared with the streaming
    * novelty filter. Signature minima are < 2³¹, so each PAIR of band
    * values packs losslessly into one long (v·2³¹ + w) —
    * engine-reproducible (the oracle computes the same arithmetic) and
    * as cheap to shuffle as a hashed key, with zero collision risk. */
  def packedBandKey(sig: Column, b: Int, rowsPerBand: Int): Column = {
    require(rowsPerBand % 2 == 0, "rowsPerBand must be even for key packing")
    struct((0 until rowsPerBand / 2).map { p =>
      (element_at(sig, b * rowsPerBand + 2 * p + 1) * lit(2147483648L) +
        element_at(sig, b * rowsPerBand + 2 * p + 2)).as(s"k$p")
    }: _*)
  }

  /** MinHash signature of a shingle set: k independent permutations via the
    * classic (a·x + b) mod p universal hash. The expensive string work
    * (shingling + base xxhash64) must be materialized ONCE into a long
    * array — passing raw shingles here would re-run it k times, since
    * Catalyst does not factor common subexpressions across projections. */
  /** The (a, b) universal-hash parameters behind [[minhashSignature]] for
    * a given (k, seed) — exposed so independent engines (the DuckDB
    * oracle) can reproduce signatures exactly. */
  def minhashParams(k: Int, seed: Int = 42): (Array[Long], Array[Long]) = {
    val rng = new scala.util.Random(seed)
    val p = 2147483647L
    (Array.fill(k)((rng.nextLong().abs % (p - 1)) + 1),
      Array.fill(k)(rng.nextLong().abs % p))
  }

  def minhashSignature(hashedShingles: Column, k: Int = 64, seed: Int = 42): Column = {
    val p = 2147483647L
    val (as, bs) = minhashParams(k, seed)
    // one pass over the shingle hashes updating all k minima — k separate
    // array_min(transform(...)) expressions would rescan the array k times
    val u = udf((hs: Seq[Long]) => {
      val mins = Array.fill(k)(Long.MaxValue)
      val it = hs.iterator
      while (it.hasNext) {
        val h = it.next()
        var i = 0
        while (i < k) {
          val v = (as(i) * h + bs(i)) % p
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      mins
    })
    u(hashedShingles)
  }

  /** Shingle set → distinct base hashes in [0, 2^31-1): ONE string pass as
    * a rolling-hash UDF. The expression form (transform+substr per
    * position + array_distinct) allocates a string per shingle and is
    * ~10× slower on multi-KB documents. */
  private val hashedShinglesUdf = udf((text: String, n: Int) => {
    if (text == null) Array.empty[Long]
    else {
      val norm = TextOps.WsRe.matcher(text.trim.toLowerCase).replaceAll(" ")
      val p = 2147483647L
      val seen = new java.util.HashSet[Long]()
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      val last = math.max(norm.length - n, 0)
      while (i <= last) {
        var h = 0xcbf29ce484222325L // FNV-1a offset basis (matches TextOps.fnv64)
        var j = i
        val end = math.min(i + n, norm.length)
        while (j < end) { h ^= norm.charAt(j); h *= 1099511628211L; j += 1 }
        val m = ((h % p) + p) % p
        if (seen.add(m)) out += m
        i += 1
      }
      out.toArray
    }
  })

  def hashedShingles(text: Column, n: Int = 5): Column =
    hashedShinglesUdf(text, lit(n))

  /** Fused text → minhash signature: one UDF doing the rolling shingle
    * hash AND the k running minima, so the ~3k-element shingle array per
    * document never round-trips through the row encoder between two UDF
    * calls (that serialization was ~40% of the minhash_lsh bench).
    * Values are identical to minhashSignature∘hashedShingles — the
    * per-shingle (a·h + b) % p minima don't care about dedup order — so
    * the oracle SQL is unchanged. */
  def minhashSigFromText(text: Column, n: Int = 5, k: Int = 64,
      seed: Int = 42): Column =
    // native codegen expression (graft.plans.MinhashSigExpr) — identical
    // values to the former ScalaUDF, no udf boundary on the hot path
    graft.plans.MinhashSigExpr(text, n, k, seed)

  /** MinHash-LSH near-dup candidate pairs: signatures banded into
    * `bands` groups of `rowsPerBand`; docs sharing any band hash become
    * candidates; candidates verified by estimated Jaccard
    * (signature agreement) >= threshold. Output: [id_a, id_b, jaccard_est]
    * with id_a < id_b. */
  /** Large-corpus guidance: this one-shot form recomputes every
    * signature from text on every run — correct at any size, but a
    * GROWING corpus should not pay it repeatedly. The production
    * default past ~1 GiB of input is the persisted-signature
    * incremental pattern: [[minhashSignatures]] once per ingest batch
    * (stored next to the corpus) + [[minhashLshIncremental]] per batch
    * — measured at the 100× probe: 25.5× wall for full recompute vs
    * 12.7× with persisted signatures (SCALE100; COVERAGE.md:715). A
    * one-line warning fires when the input's estimated size crosses
    * [[IncrementalHintBytes]], so the pattern is discoverable exactly
    * when it starts to matter.
    *
    * @param maxBucketSize skew valve: band buckets larger than this are
    *   dropped before the candidate self-join — a degenerate bucket of B
    *   identical docs otherwise costs B² pairs (near-identical floods are
    *   exact dups, which [[exact]] catches at hash cost). Defaults ON at
    *   10⁴: a 100 TB corpus with one flood key must not quadratically
    *   explode by default; pass None to opt into full recall explicitly.
    *   Dropped buckets are logged with their (band, size) so the loss is
    *   visible, not silent. */
  def minhashLsh(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7, maxBucketSize: Option[Int] = Some(10000)): DataFrame = {
    val k = bands * rowsPerBand
    // auto-hint: estimated plan size past the threshold → point at the
    // incremental pattern (plan-time stats only; never triggers a job).
    // -Dgraft.mh.noprobe switches it off — the A/B knob of the r12 drift
    // adjudication (OPTIMIZATION_r12.md:411).
    if (!sys.props.get("graft.mh.noprobe").contains("true")) try {
      val est = org.apache.spark.sql.GraftPlanBridge.analyzed(df)
        .stats.sizeInBytes
      if (est > IncrementalHintBytes)
        System.err.println(
          s"[graft.Dedup.minhashLsh] input estimated at $est bytes " +
            s"(> $IncrementalHintBytes): one-shot LSH recomputes every " +
            "signature from text each run. For a growing corpus, persist " +
            "minhashSignatures() per ingest batch and dedup with " +
            "minhashLshIncremental() — measured 2x cheaper at the 100x " +
            "probe and O(batch), not O(corpus), per ingest.")
    } catch { case scala.util.control.NonFatal(_) => () }
    // cache lifetime note: the signatures feed the banding pass AND two
    // verification joins inside the RETURNED lazy plan, so this cache
    // cannot be unpersisted here (the caller hasn't run the plan yet).
    // Blocks stay until session end or LRU eviction — recoverable
    // storage, recomputed if evicted. Pipelines that run many dedup
    // passes in one session should persist signatures explicitly via
    // [[minhashSignatures]] instead (the incremental-state pattern).
    // -Dgraft.mh.nocache drops the in-plan cache (A/B knob: the triple
    // use then recomputes the signature pass per consumer)
    val sigs0 = df
      .select(col(idCol).as("__id"),
        minhashSigFromText(col(textCol), shingleN, k).as("__sig"))
    val sigs =
      if (sys.props.get("graft.mh.nocache").contains("true")) sigs0
      else sigs0.cache()
    val banded0 = sigs.select(col("__id"), posexplode(
      array((0 until bands).map(b =>
        packedBandKey(col("__sig"), b, rowsPerBand)): _*))
      .as(Seq("__band", "__bk")))
    val banded = maxBucketSize match {
      case None => banded0
      case Some(cap) =>
        // one row per oversized bucket → one executor-side log line each,
        // so capped recall loss is visible, not silent
        val logDrop = udf((band: Int, sz: Long) => {
          System.err.println(
            s"[graft.Dedup.minhashLsh] dropping band=$band bucket of $sz docs (cap=$cap)")
          true
        })
        val oversized = banded0.groupBy(col("__band"), col("__bk"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > cap)
          .filter(logDrop(col("__band"), col("__bsz")))
          .select(col("__band"), col("__bk"))
        banded0.join(oversized, Seq("__band", "__bk"), "left_anti")
    }
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.__band") === col("b.__band") &&
        col("a.__bk") === col("b.__bk") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b")).distinct()
    val verified = pairs
      .join(sigs.withColumnRenamed("__sig", "__sig_a"), col("id_a") === col("__id")).drop("__id")
      .join(sigs.withColumnRenamed("__sig", "__sig_b"), col("id_b") === col("__id")).drop("__id")
      .withColumn("jaccard_est",
        size(filter(zip_with(col("__sig_a"), col("__sig_b"), (x, y) => x === y),
          b => b)).cast("double") / lit(k.toDouble))
      .filter(col("jaccard_est") >= threshold)
    verified.select(col("id_a"), col("id_b"), col("jaccard_est"))
  }

  /** MinHash signature table `(__id, __sig)` for [[minhashLshIncremental]]:
    * compute once per ingest batch and persist next to the corpus — the
    * signatures, not the text, are the dedup state a growing corpus keeps. */
  def minhashSignatures(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 5, k: Int = 64): DataFrame =
    df.select(col(idCol).as("__id"),
      minhashSigFromText(col(textCol), shingleN, k).as("__sig"))

  /** Incremental MinHash-LSH: near-dup pairs INVOLVING a new ingest slice
    * only — new×new plus new×existing — against a persisted signature
    * table, without recomputing existing×existing. The production shape
    * for a growing 100 TB corpus: per-batch cost is O(|new| + touched
    * buckets), not O(corpus); existing documents' TEXT is never read.
    *
    * Equivalence contract (spec-pinned): with disjoint id spaces,
    * `minhashLshIncremental(new, minhashSignatures(old))` equals
    * `minhashLsh(old ∪ new)` restricted to pairs touching `new` — the
    * band bucketing, the skew-cap (applied to COMBINED bucket sizes, so
    * a capped bucket is capped identically in both forms), and the
    * signature-agreement verify are all shared machinery. */
  def minhashLshIncremental(newDocs: DataFrame, existingSigs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      maxBucketSize: Option[Int] = Some(10000)): DataFrame = {
    val k = bands * rowsPerBand
    val sigsNew = minhashSignatures(newDocs, textCol, idCol, shingleN, k).cache()
    val sigsOld = existingSigs.select(col("__id"), col("__sig"))
    def bandify(s: DataFrame, isNew: Boolean) =
      s.select(col("__id"), lit(isNew).as("__isnew"), posexplode(
        array((0 until bands).map(b =>
          packedBandKey(col("__sig"), b, rowsPerBand)): _*))
        .as(Seq("__band", "__bk")))
    val bAll0 = bandify(sigsNew, isNew = true)
      .unionByName(bandify(sigsOld, isNew = false))
    val bAll = maxBucketSize match {
      case None => bAll0
      case Some(cap) =>
        val logDrop = udf((band: Int, sz: Long) => {
          System.err.println(s"[graft.Dedup.minhashLshIncremental] dropping " +
            s"band=$band bucket of $sz docs (cap=$cap)")
          true
        })
        val oversized = bAll0.groupBy(col("__band"), col("__bk"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > cap)
          .filter(logDrop(col("__band"), col("__bsz")))
          .select(col("__band"), col("__bk"))
        bAll0.join(oversized, Seq("__band", "__bk"), "left_anti")
    }
    // a-side = new rows only; b-side = everything. New×new pairs order by
    // id (each counted once); new×old pairs normalize via least/greatest.
    val pairs = bAll.filter(col("__isnew")).as("a").join(bAll.as("b"),
        col("a.__band") === col("b.__band") &&
        col("a.__bk") === col("b.__bk") &&
        (!col("b.__isnew") || col("a.__id") < col("b.__id")))
      .select(least(col("a.__id"), col("b.__id")).as("id_a"),
        greatest(col("a.__id"), col("b.__id")).as("id_b")).distinct()
    val sigsAll = sigsNew.unionByName(sigsOld)
    pairs
      .join(sigsAll.withColumnRenamed("__sig", "__sig_a"),
        col("id_a") === col("__id")).drop("__id")
      .join(sigsAll.withColumnRenamed("__sig", "__sig_b"),
        col("id_b") === col("__id")).drop("__id")
      .withColumn("jaccard_est",
        size(filter(zip_with(col("__sig_a"), col("__sig_b"), (x, y) => x === y),
          b => b)).cast("double") / lit(k.toDouble))
      .filter(col("jaccard_est") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard_est"))
  }

  /** 64-bit SimHash over whitespace tokens of normalized text: sign-sum of
    * per-token FNV-64 bits. FNV-1a (not xxhash64) so independent engines
    * can reproduce signatures bit-for-bit — the DuckDB oracle mirrors the
    * same fold. One pass per document updating 64 vote counters (faster
    * than a 64-expression vote tree, and the votes never materialize). */
  def simhash(df: DataFrame, textCol: String = "text", outCol: String = "simhash"): DataFrame =
    // native codegen expression (graft.plans.SimhashExpr) — identical
    // values to the former ScalaUDF, no udf boundary on the corpus scan
    df.withColumn(outCol, graft.plans.SimhashExpr(col(textCol)))

  /** SimHash near-dup pairs within `maxHamming` bit flips. The 64-bit
    * signatures are banded into `maxHamming + 1` chunks: a pair with at
    * most `maxHamming` flipped bits must agree exactly on ≥1 chunk
    * (pigeonhole — recall is guaranteed, not approximate), so candidates
    * come from cheap equi-joins on chunk values, then exact
    * `bit_count(xor)` verification. Signatures shuffle, documents don't.
    * Larger `maxHamming` → narrower chunks → denser candidate buckets:
    * keep it ≤ ~7 at corpus scale (the default 3 gives 16-bit chunks). */
  /** All-ones mask of the low `w` bits. `(1L << 64) - 1` is NOT it —
    * JVM shifts mask the count mod 64, so w = 64 (the maxHamming = 0
    * single-chunk case) would produce 0 and collapse every document
    * into one bucket (an O(N^2) self-join at corpus scale). */
  private def chunkMask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1L

  def simhashPairs(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val nChunks = maxHamming + 1
    val base = 64 / nChunks
    val rem = 64 % nChunks
    // first `rem` chunks are one bit wider; offsets partition [0, 64)
    val widths = Array.tabulate(nChunks)(c => if (c < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val sigs = simhash(df, textCol).select(col(idCol).as("__id"), col("simhash"))
    val banded = sigs.select(col("__id"), col("simhash"),
      posexplode(array((0 until nChunks).map(c =>
        shiftrightunsigned(col("simhash"), offsets(c))
          .bitwiseAND(lit(chunkMask(widths(c))))): _*))
        .as(Seq("__chunk", "__cv")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.__chunk") === col("b.__chunk") &&
        col("a.__cv") === col("b.__cv") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.simhash").as("__sa"), col("b.simhash").as("__sb"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("__sa").bitwiseXOR(col("__sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Incremental SimHash near-dup pairs: new×new + new×existing within
    * `maxHamming` bit flips against a persisted `(id, simhash)` table —
    * the same chunk-banding as [[simhashPairs]] (pigeonhole recall),
    * without recomputing existing×existing. Same equivalence contract as
    * [[minhashLshIncremental]]: with disjoint ids, output equals the
    * full run restricted to pairs touching the new slice. */
  def simhashIncremental(newDocs: DataFrame, existingSims: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val nChunks = maxHamming + 1
    val base = 64 / nChunks
    val rem = 64 % nChunks
    val widths = Array.tabulate(nChunks)(c => if (c < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val sigsNew = simhash(newDocs, textCol)
      .select(col(idCol).as("__id"), col("simhash"), lit(true).as("__isnew"))
    val sigsOld = existingSims
      .select(col(idCol).as("__id"), col("simhash"), lit(false).as("__isnew"))
    val banded = sigsNew.unionByName(sigsOld)
      .select(col("__id"), col("simhash"), col("__isnew"),
        posexplode(array((0 until nChunks).map(c =>
          shiftrightunsigned(col("simhash"), offsets(c))
            .bitwiseAND(lit(chunkMask(widths(c))))): _*))
          .as(Seq("__chunk", "__cv")))
    // a-side = new only; (n,o) pairs have one orientation, (n,n') pairs
    // are ordered — so distinct over the normalized ids is pair-unique
    val cand = banded.filter(col("__isnew")).as("a").join(banded.as("b"),
        col("a.__chunk") === col("b.__chunk") &&
        col("a.__cv") === col("b.__cv") &&
        (!col("b.__isnew") || col("a.__id") < col("b.__id")))
      .select(least(col("a.__id"), col("b.__id")).as("id_a"),
        greatest(col("a.__id"), col("b.__id")).as("id_b"),
        col("a.simhash").as("__sa"), col("b.simhash").as("__sb"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("__sa").bitwiseXOR(col("__sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact word-n-gram Jaccard similarity for candidate pairs — the
    * quadratic verifier; run it on LSH candidates, never the full corpus. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3): DataFrame = {
    // bind the words array to a real column before the gram lambda — a
    // captured raw expression re-runs regexp_replace+split per element
    val g = docs
      .withColumn("__w",
        split(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), " "))
      .select(col(idCol).as("__id"), df2Grams(col("__w"), n).as("__grams"))
    pairs
      .join(g.withColumnRenamed("__grams", "__ga"), col("id_a") === col("__id")).drop("__id")
      .join(g.withColumnRenamed("__grams", "__gb"), col("id_b") === col("__id")).drop("__id")
      .withColumn("jaccard",
        size(array_intersect(col("__ga"), col("__gb"))).cast("double") /
          size(array_union(col("__ga"), col("__gb"))).cast("double"))
      .drop("__ga", "__gb")
  }

  private def df2Grams(words: Column, n: Int): Column =
    array_distinct(filter(
      transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => concat_ws(" ", slice(words, i + lit(1), lit(n)))),
      g => length(g) > 0))

  /** Connected components over a near-duplicate pair list → canonical
    * group ids (`[doc_id, group_id]`, group id = min doc id in the
    * component). The step after pair generation every dedup pipeline
    * needs: pick one canonical doc per duplicate cluster.
    *
    * Algorithm: min-label propagation to fixpoint — per round, every node
    * takes the min of its own label and its neighbours' labels. Each
    * round is one shuffle join + aggregation over the EDGE list (never
    * the corpus), converging in O(component diameter) rounds; near-dup
    * components are small cliques, so a handful of rounds closes 100 TB
    * of pairs. `localCheckpoint` truncates the iterative lineage. The
    * fixpoint (min id reachable) is unique regardless of join order, so
    * the result is exactly reproducible — the oracle replays it as a
    * transitive-closure recursive CTE. */
  private def integralIdType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType
  }

  def duplicateGroups(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    // ids must be integral: a permissive cast("long") would turn string
    // ids into nulls and SILENTLY collapse every group into one
    // meaningless (null, null) row — fail at plan time instead
    Seq(idA, idB).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(integralIdType(dt),
        s"duplicateGroups: $c must be an integral id column, got $dt — " +
          "fingerprint non-numeric ids (e.g. TextOps.fnvHash) first")
    }
    val edges = pairs.select(col(idA).cast("long").as("src"),
      col(idB).cast("long").as("dst"))
    val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("group_id", col("id"))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val neighborMin = und.join(labels, und("dst") === labels("id"))
        .groupBy(und("src").as("nid")).agg(min(col("group_id")).as("nlabel"))
      val updated = labels.join(neighborMin, col("id") === col("nid"), "left")
        .select(col("id"),
          least(col("group_id"), coalesce(col("nlabel"), col("group_id")))
            .as("group_id"))
        .localCheckpoint()
      changed = updated.join(
          labels.withColumnRenamed("group_id", "__old"), Seq("id"))
        .filter(col("group_id") =!= col("__old")).count()
      labels = updated
      it += 1
    }
    und.unpersist()
    // ADVICE r6: exiting with changed > 0 means a component with diameter
    // > maxIter holds non-converged labels that silently disagree with the
    // oracle's transitive closure — fail loudly instead
    require(changed == 0L,
      s"duplicateGroups: min-label propagation not converged after $maxIter " +
        s"rounds ($changed labels still changing) — a duplicate component " +
        "has diameter > maxIter; raise maxIter")
    labels.select(col("id").as("doc_id"), col("group_id"))
  }

  /** Incremental duplicate-group maintenance: fold a new ingest batch's
    * near-dup pairs (from [[minhashLshIncremental]] etc.) into a stored
    * `(doc_id, group_id)` table WITHOUT re-propagating the old graph.
    * Each old endpoint contracts to its group label (a supernode), so
    * min-label propagation runs on new docs + touched groups only —
    * O(batch), not O(corpus). Labels are min ids and contraction
    * preserves component minima, so the result equals a full re-run's.
    *
    * Returns `(assignments, remaps)`:
    *  - `assignments` — `(doc_id, group_id)` for every new doc appearing
    *    in `newPairs` (isolated new docs are their own group, as in the
    *    full operator);
    *  - `remaps` — `(old_group_id, group_id)` for existing groups whose
    *    label changed because new links merged them; apply as a
    *    join-update to the stored table. Untouched groups never appear.
    * Requires new-doc ids disjoint from existing ids (ingest-time
    * monotone ids satisfy this), and `existingGroups` must label EVERY
    * existing doc — singletons as themselves — else an unlabeled old doc
    * touched by a new pair is indistinguishable from a new doc. */
  def duplicateGroupsIncremental(newPairs: DataFrame, existingGroups: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 20): (DataFrame, DataFrame) = {
    // same integral-id contract as duplicateGroups (a permissive cast
    // would null out string ids and corrupt the contraction silently)
    Seq(newPairs.schema(idA).dataType, newPairs.schema(idB).dataType,
      existingGroups.schema("doc_id").dataType,
      existingGroups.schema("group_id").dataType).foreach(dt =>
      require(integralIdType(dt),
        s"duplicateGroupsIncremental: integral id columns required, got $dt"))
    val eg = existingGroups.select(col("doc_id").cast("long").as("doc_id"),
      col("group_id").cast("long").as("group_id"))
    val contracted = newPairs
      .select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
      .join(eg.select(col("doc_id").as("src"), col("group_id").as("__gs")),
        Seq("src"), "left")
      .join(eg.select(col("doc_id").as("dst"), col("group_id").as("__gd")),
        Seq("dst"), "left")
      .select(coalesce(col("__gs"), col("src")).as("id_a"),
        coalesce(col("__gd"), col("dst")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val labels = duplicateGroups(contracted, maxIter = maxIter)
    val oldGroupIds = eg.select(col("group_id").as("doc_id")).distinct()
    val remaps = labels.join(oldGroupIds, Seq("doc_id"))
      .filter(col("group_id") =!= col("doc_id"))
      .select(col("doc_id").as("old_group_id"), col("group_id"))
    val assignments = labels.join(oldGroupIds, Seq("doc_id"), "left_anti")
    (assignments, remaps)
  }
}
