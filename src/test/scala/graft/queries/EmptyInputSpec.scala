package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** Empty-input hardening: at 100 TB a selective filter routinely
  * leaves an operator looking at ZERO rows — a whole empty table is
  * the degenerate case every driver-side scalar collect must survive.
  * Every fixture-table registry query must run (possibly to an empty
  * result) against a dataset directory whose tables have the right
  * schemas and no rows — no NoSuchElement/NPE from a `.head()` on an
  * empty aggregate, no crash in a broadcast-bounds join.
  *
  * Scope: queries reading the driver fixture tables. Fixture-generating
  * queries (`*_scale`, zk pipeline fixtures, mm forges, src round
  * trips) manufacture their own input and are exercised elsewhere.
  */
class EmptyInputSpec extends AnyFunSuite with SparkSpec {

  private var emptyDir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    // same schemas, zero rows
    emptyDir = Files.createTempDirectory("empty-sf").toString
    val src = "/root/testdata/sf0.001"
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")) {
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$emptyDir/$t.parquet")
    }
  }

  private val fixtureBacked = Seq(
    "q1_agg", "q2_topk", "q3_join_agg", "q6_filter", "q8_market_share",
    "q21_waiting_supplier", "s1_scan_pushdown", "semi_join", "anti_join",
    "set_union", "set_intersect", "set_except", "agg_rollup", "agg_cube",
    "agg_percentile", "a5_range_union", "a8_distinct", "a8_count_distinct",
    "a8_approx_distinct", "w1_rank_window", "w3_lag_sequencing",
    "asof_join", "rj1_range_join", "bloom_semi_join", "st4_tumbling_window",
    "d1_token_count", "d2_quality_score", "d3_lang_id", "d4_fingerprint",
    "d5_train_test_split", "d6_balanced_sample", "d7_pii_scrub",
    "d8_contamination", "d9_sequence_packing", "d11_weighted_sample",
    "d13_quality_filter", "d14_inverted_index", "d16_corpus_mix",
    "d17_token_budget", "d19_bm25", "d20_repetition_filter",
    "d21_bigram_lm", "d22_chunk_dedup", "d24_compression_gate",
    "dd1_dedup_exact", "dd2_minhash_lsh", "dd3_simhash",
    "dd4_simhash_neardup", "ss1_topk_ip", "ss2_lsh_buckets",
    "ss3_ann_lsh_topk", "ss11_truncated_rerank",
    "agg_grouping_sets", "skew_aqe_join", "src_bucketed_join",
    "src_orc_ingest", "dd14_cluster_split", "st8_stream_neardup",
    "dq5_drift")

  test("fixture-backed registry queries survive empty tables") {
    val failures = fixtureBacked.flatMap { name =>
      try { SparkEntry.queries(name)(spark, emptyDir).collect(); None }
      catch { case t: Throwable => Some(s"$name: ${t.getClass.getSimpleName} ${t.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
