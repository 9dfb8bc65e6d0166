package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Regression-proofs the bench CONSUMPTION methodology (BASELINE.md
  * round-10/11 methodology bridge): `count()` lets Catalyst prune every
  * aggregate expression the row count does not need, so an agg-final
  * query timed through count() measures only its scan — the round-10
  * discovery that hollowed zk_storage_db_scale to 0.07 s while the
  * honest noop-sink wall was ~21 s. This spec pins the mechanism at the
  * PLAN level so a future consumption change cannot silently re-hollow
  * the bench: the plan the noop sink evaluates retains the commitment
  * kernels; the plan count() evaluates does not. */
class BenchMethodologySpec extends AnyFunSuite {
  test("count() prunes agg-final kernels; the noop sink does not") {
    val spark = graft.Graft.session("local[2]", 2)
    try {
      val entries = graft.pipeline.Fixtures.entriesScaled(spark, nBlocks = 3, keysPerBlock = 4)
      val db = graft.pipeline.ZkPipeline.storageDb(entries)
      // what df.write.format("noop") evaluates: the df's own plan —
      // kernels present (the honest consumption)
      val noopPlan = db.queryExecution.executedPlan.toString()
      assert(noopPlan.contains("mapping_leaf_commit") || noopPlan.contains("digestagg"),
        s"noop-consumed plan lost the commitment kernels:\n$noopPlan")
      // what df.count() evaluates: a count over the aggregate — Catalyst
      // prunes the expensive aggregate expressions (the hollow
      // consumption, banned for timing since round 10)
      val countPlan = db.groupBy().count().queryExecution.executedPlan.toString()
      assert(!countPlan.contains("mapping_leaf_commit") && !countPlan.contains("digestagg"),
        "count() no longer prunes the kernels — the r10 methodology bridge " +
          s"(BASELINE.md) needs re-derivation:\n$countPlan")
    } finally spark.stop()
  }
}
