package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every operator-internal persist is released after use (or does not
  * exist): running each query that reaches a persist site listed in
  * DESIGN_CENSUS.md, in one session, leaves no persisted RDD behind. */
class PinnedCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The queries DESIGN_CENSUS.md lists as reaching a persist site. */
  private val CensusQueries = Seq(
    "p02_minhash_lsh", "p15_cosine_neardup", "p16_dedup_clusters",
    "p19_token_packing", "p20_dedup_apply", "p25_bigram_novelty",
    "p26_decontaminate", "p28_incremental_dedup", "p30_chunk_dedup",
    "p33_tfidf_terms", "p35_winnow", "p36_state_dedup", "p37_rare_tokens",
    "p39_semantic_dedup", "p42_boilerplate", "p44_lexical_topk",
    "p45_bigram_surprise", "p46_curation_pipeline",
    "p47_importance_weights", "p48_perplexity_buckets",
    "p51_simhash_hamming", "p55_split_leakage", "p59_export_shards",
    "p64_domain_caps", "p65_best_quality_keep", "p66_ngram_scrub",
    "p67_hard_negatives", "p69_minhash_estimate", "p70_bpe_tokenize",
    "p72_bm25_topk", "p73_cluster_splits", "p74_bm25_negatives",
    "q11_search_glob", "q24_asof_join", "q36_image_pipeline",
    "q43_image_hover", "q44_period_cache_range")

  test("census queries leave no persisted RDD behind") {
    assert(CensusQueries.forall(SparkEntry.queries.contains),
      s"unknown: ${CensusQueries.filterNot(SparkEntry.queries.contains)}")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val leaks = CensusQueries.flatMap { q =>
      SparkEntry.queries(q)(spark, Harness.warmDir)
        .write.format("noop").mode("overwrite").save()
      // per-query poll so a failure names the query that pinned
      val left = Verify.pinnedSince(spark, before, timeoutMs = 15000L)
      left.foreach(spark.sparkContext.getPersistentRDDs(_).unpersist())
      if (left.isEmpty) None else Some(q -> left.size)
    }
    assert(leaks.isEmpty, s"queries left persisted RDDs: $leaks")
  }
}
