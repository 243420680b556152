package graft.tools

import graft.TestSpark
import graft.core.IO
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The leg registry behind Bench, its scale proofs and DeepScale: the
  * registered names are the bench's output contract, every leg builds,
  * and the replica fixture keeps the invariants its ratios rest on. */
class BenchLegsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  // the registry caches base tables; later specs must see plain scans
  override def afterAll(): Unit = {
    spark.sqlContext.clearCache()
    super.afterAll()
  }

  // bench_out.json / compact-line keys: `queries`, `scale10x`, and the
  // per-leg keys of DEEPSCALE_JSON — renaming one breaks every reader
  private val timedNames = Seq("q1_agg", "window_pipeline", "forecast_score",
    "impute_outliers", "resample_decompose", "dedup_exact", "minhash_lsh",
    "text_quality", "knn_brute", "cusum_changepoint", "pairwise_dtw_50x30",
    "pairwise_dtw_band_500x100", "pelt_panel_1000x1000", "ets_panel_1000x1000",
    "mann_kendall_panel", "semdedup", "unigram_logprob", "pack_plan",
    "curation_funnel", "neural_assign", "vision_embed", "html_strip",
    "line_dedup", "span_dedup", "kn_perplexity", "kn_target_ppl",
    "pack_execute", "dsir_weights", "classifier_score", "prototype_prune",
    "media_funnel", "media_pixels", "media_jpeg", "media_resize",
    "media_scenes", "media_audio_seg", "asof_join", "asof_native",
    "range_join", "range_native", "sessionize", "zorder_layout",
    "group_dynamic", "rolling_by_time", "cms_heavy", "hll_distinct",
    "chronos_tokens")
  private val scale10xNames = Seq("pelt_panel", "mann_kendall_panel",
    "matrix_profile", "ets_panel", "pairwise_dtw_band", "minhash_lsh",
    "line_dedup", "span_dedup", "kn_perplexity", "pack_execute",
    "curation_metrics", "dsir_weights", "classifier_score", "semdedup",
    "prototype_prune", "knn_hnsw", "knn_hnsw_all", "asof_join", "asof_native",
    "sessionize", "range_join", "range_native", "group_dynamic",
    "zorder_layout", "minhash_incremental", "cms_sketch", "hll_distinct")
  private val deepScaleNames = Seq("minhash_lsh", "line_dedup",
    "kn_perplexity", "pack_execute", "curation_metrics", "cms_sketch",
    "hll_distinct", "asof_join", "asof_native", "sessionize", "range_native",
    "group_dynamic", "zorder_layout", "asof_native_skew", "asof_skew_unsalted")

  test("registered leg names are the pinned output contract") {
    assert(Legs.tiers.map(_._1) ==
      Seq("core", "curation", "neural", "selection", "media", "temporal", "sketch"))
    assert(Legs.timedLegs.map(_._1) == timedNames)
    assert(Legs.scaleLegs.map(_._1) == scale10xNames)
    assert(Legs.deepScaleDefault == deepScaleNames)
    assert(Legs.skewLegs.map(_._1) ==
      deepScaleNames.filterNot(scale10xNames.contains))
  }

  test("unknown leg names fail loudly, listing the known ones") {
    val e = intercept[IllegalArgumentException](
      Legs.requireKnown(scale10xNames, Seq("minhash_lsh", "minhsah_lsh")))
    assert(e.getMessage.contains("unknown legs: minhsah_lsh;"))
    assert(e.getMessage.contains("known: " + scale10xNames.mkString(",")))
    Legs.requireKnown(scale10xNames, Seq("minhash_lsh"))
  }

  test("every timed leg builds a DataFrame with a non-empty schema") {
    val in = new Legs.Inputs(spark, dir)
    try Legs.timedLegs.foreach { case (name, leg) =>
      assert(leg(in).schema.nonEmpty, name)
    } finally in.release()
  }

  test("every scale leg builds at factor 2, every length leg at its base") {
    val in = new Legs.ScaleInputs(spark, dir)
    try Legs.everyScaleLeg.foreach { case (name, leg) =>
      assert(leg(2, in).schema.nonEmpty, name)
    } finally in.close()
    assert(!new java.io.File(in.dir).exists, "scratch directory leaked")
    Legs.lenLegs.foreach { case (name, base, mk) =>
      assert(mk(spark, base).schema.nonEmpty, name)
    }
  }

  test("a factor-2 replica has twice the rows with disjoint ids") {
    val docs = IO.documents(spark, dir)
    val n = docs.count()
    val docs2 = Legs.replicate(docs, 2)
    assert(docs2.count() == 2 * n)
    assert(docs2.select("doc_id").distinct().count() == 2 * n)
    val emb = IO.embeddings(spark, dir)
    val emb2 = Legs.replicateEmb(emb, 2)
    assert(emb2.count() == 2 * emb.count())
    assert(emb2.select("vec_id").distinct().count() == 2 * emb.count())
  }

  // a circular shift aliased replica 64 onto replica 0 of a 64-d set
  // and failed past it; the seeded coordinate permutation does neither
  for (factor <- Seq(66, 130))
    test(s"embedding replicas at factor $factor are distinct from replica 0") {
      val emb = IO.embeddings(spark, dir).select("vec_id", "embedding")
      val n = emb.count()
      val rep = Legs.replicateEmb(emb, factor)
        .withColumn("__r", col("vec_id") % factor)
        .withColumn("__b", (col("vec_id") / factor).cast("long"))
        .cache()
      try {
        assert(rep.count() == factor * n)
        assert(rep.select("vec_id").distinct().count() == factor * n)
        val base = rep.filter(col("__r") === 0)
          .select(col("__b"), col("embedding").as("__e0"))
        val aliased = rep.filter(col("__r") > 0).join(base, "__b")
          .filter(col("embedding") === col("__e0")).count()
        assert(aliased == 0, s"$aliased replicas equal their replica 0")
        // a coordinate permutation keeps each vector's multiset of values
        val moved = rep.join(base, "__b")
          .filter(array_sort(col("embedding")) =!= array_sort(col("__e0"))).count()
        assert(moved == 0)
      } finally rep.unpersist()
    }

  // the replica fixture's correctness rests on its cipher family: every
  // replica permutation must be a bijection (or Jaccard structure is not
  // preserved) and distinct across replicas (or replicas alias into
  // manufactured exact duplicates — the 26-rotation failure mode)
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Digits = "0123456789"

  test("perm is a bijection of its alphabet at every replica") {
    (0 until 200).foreach { r =>
      val p = Legs.perm(Lower, r)
      assert(p.length == Lower.length && p.toSet == Lower.toSet,
        s"rep $r not a permutation: $p")
      assert(Legs.perm(Digits, r).toSet == Digits.toSet)
    }
  }

  test("perm is identity at replica 0 and reproducible") {
    assert(Legs.perm(Lower, 0) == Lower)
    assert(Legs.perm(Lower, 7) == Legs.perm(Lower, 7))
  }

  test("permutations are pairwise distinct far past the rotation cycle") {
    val ps = (0 until 200).map(r =>
      Legs.perm(Lower, r) + Legs.perm(Digits, r))
    assert(ps.distinct.length == ps.length,
      "replica ciphers collide — fixture would manufacture exact dups")
  }
}
