package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** Physical-plan shape guards — the scale properties the engine
  * depends on must survive refactors:
  *   - filters + projections reach the parquet scan (at 100 TB, scan
  *     bytes are the whole game);
  *   - small dimensions broadcast (no shuffle of the big fact);
  *   - orderBy.limit compiles to TakeOrderedAndProject (no global
  *     sort);
  *   - aggregates are partial/final (map-side combine before the
  *     shuffle).
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("s1: shipdate filter and column projection are pushed to the parquet scan") {
    val p = plan("s1_scan_pushdown")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p.take(2000))
    // pruned read schema: the scan must not read all 16 lineitem columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"), readSchema)
  }

  test("q3: nation dimension broadcasts; q6 filter is pushed") {
    assert(plan("q3_join_agg").contains("BroadcastHashJoin"))
    val p6 = plan("q6_filter")
    assert(p6.contains("PushedFilters") && p6.contains("l_discount"))
  }

  test("q2_topk: orderBy.limit compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q2_topk").contains("TakeOrderedAndProject"))
  }

  test("q1: hash aggregation is partial/final (map-side combine before shuffle)") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("partial_"), "expected partial aggregate functions in the map-side stage")
  }

  test("partitioned storage layout prunes by block_number (P6 as a partition filter)") {
    val dir = java.nio.file.Files.createTempDirectory("part-entries").toString
    graft.pipeline.Fixtures.entries(spark)
      .write.partitionBy("block_number").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("block_number") === 103L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.linesIterator
      .find(_.contains("PartitionFilters")).get.contains("block_number"), p.take(2000))
    assert(df.count() > 0)
  }

  test("q8: snowflake dims broadcast; no sort-merge join on the fact spine") {
    val p = plan("q8_market_share")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // partial/final aggregation pair around the one shuffle
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("q21: EXISTS/NOT EXISTS decorrelate to semi + anti joins, not subquery re-execution") {
    val p = plan("q21_waiting_supplier")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
  }

  test("d8: the benchmark shingle set broadcasts (no shuffle of the corpus for the probe)") {
    val p = plan("d8_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("ss1: query side broadcasts under the nest-loop-free MIPS plan") {
    val p = plan("ss1_topk_ip")
    assert(p.contains("Broadcast"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("rj1: binned range join is an equi-join, never a nested loop") {
    val p = plan("rj1_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
  }

  test("ss7/ss9: batched ANN and knn graph are bucket equi-joins, never nested loops") {
    for (name <- Seq("ss7_batch_ann_topk", "ss9_knn_graph")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name:\n${p.take(3000)}")
    }
  }

  test("mm5/st5: phash blocking and the stream-join twin are equi-joins, never nested loops") {
    for (name <- Seq("mm5_phash_neardup", "st5_stream_join")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name:\n${p.take(3000)}")
    }
  }

  test("d14: term selection is TakeOrderedAndProject, never a vocabulary-wide rank sort") {
    val p = plan("d14_inverted_index")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // the only Window may be the ≤30-row rank pick above the limit —
    // never a row_number over the full term-frequency table, which
    // would show as a Window directly over the aggregated vocabulary
    // without a preceding limit
    assert(p.contains("GlobalLimit") || p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("d17: per-source window input is bounded by the two-level top-K pre-filter") {
    val p = plan("d17_token_budget")
    // first window partitions by (source, pid) — the distributed local
    // rank cut — before the per-source running total
    assert(p.contains("windowspecdefinition(source"), p.take(3000))
    assert(p.contains("pid"), p.take(3000))
  }

  test("d19: BM25 broadcasts terms/df/stats and takes top-k without a global sort") {
    val p = plan("d19_bm25")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("ss11: both stages are TakeOrderedAndProject and the rerank recalls most of the exact top-10") {
    val p = plan("ss11_truncated_rerank")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    val twoStage = SparkEntry.queries("ss11_truncated_rerank")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val exact = SparkEntry.queries("ss1_topk_ip")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert((twoStage & exact).size >= 6, s"recall too low: ${(twoStage & exact).size}/10")
  }

  test("d20/d21/d22: repetition, bigram-LM, and chunk-dedup are equi-join/groupBy shaped") {
    for (name <- Seq("d20_repetition_filter", "d21_bigram_lm", "d22_chunk_dedup")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(3000)}")
      // corpus-scale aggregations must combine map-side before the shuffle
      assert(p.contains("partial_"), s"$name:\n${p.take(3000)}")
    }
    // d22's first-occurrence pick is one window over the chunk key,
    // never a single-partition global window
    val p22 = plan("d22_chunk_dedup")
    assert(p22.contains("windowspecdefinition(chunk"), p22.take(3000))
    assert(!p22.contains("SinglePartition"), p22.take(3000))
    // the 1M-doc proof keeps the same chunk-partitioned window (its
    // only single-partition stage is the final 1-row summary reduce)
    val ps = plan("d22_scale")
    assert(ps.contains("windowspecdefinition(chunk"), ps.take(3000))
  }

  test("dq2/dq2b: profilers are one scan with no Expand replay") {
    // four countDistincts in one agg would compile to a 4-way Expand
    // (the scan replayed per column); the unpivot shape must never
    // regress to that
    for (name <- Seq("dq2_profile", "dq2b_profile_approx")) {
      val p = plan(name)
      assert(!p.contains("Expand"), s"$name:\n${p.take(3000)}")
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$name: expected 1 scan, got $scans:\n${p.take(3000)}")
      // both aggregations combine map-side before their shuffle
      assert(p.contains("partial_"), s"$name:\n${p.take(3000)}")
    }
  }

  test("src_bucketed_join: the co-located SMJ is shuffle-free and matches the plain join") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("src_bucketed_join")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the in-query plan audit found no Exchange on either join side
    assert(rows.forall(_.getAs[Boolean]("shuffle_free_join")),
      "bucketed SMJ was not shuffle-free")
    // and the result is exactly the plain (shuffled) join's
    val expected = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("rev"))
      .orderBy("o_orderpriority")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ===
      expected.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("d9/d18: packing prefix sum is a chunk-partitioned window, never a single-partition running sum") {
    // the placement stage localCheckpoints (single upstream execution),
    // which truncates lineage — so the window shape is asserted on the
    // pre-checkpoint plan the packing queries build
    val placed = graft.queries.Documents.placedPlanForSpec(
      graft.Tables.documents(spark, sf), chunk = 64L)
    val pp = placed.queryExecution.executedPlan.toString
    // the running sum must be windowed over the chunk key …
    assert(pp.contains("windowspecdefinition(_ck"), pp.take(3000))
    assert(!pp.contains("SinglePartition"), pp.take(3000))
    for (name <- Seq("d9_sequence_packing", "d18_pipeline_e2e")) {
      val p = plan(name)
      // … and nothing downstream may collapse to one partition (d9/d18
      // end in orderBy → range partitioning, so any SinglePartition
      // exchange would be the old global-window shape leaking back)
      assert(!p.contains("SinglePartition"), s"$name:\n${p.take(3000)}")
    }
  }
}
