package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.pipeline.Fixtures

/** The reference's fixed-depth circuit bound as a dataset constraint:
  * the state DB holds ≤ 2^5 contracts per block
  * (`query2/state/mod.rs:278` pins state-tree depth 5). G: the
  * fixture (2 contracts/block) passes; N: a tightened bound reports
  * exactly the violating groups.
  */
class ConstraintsSpec extends AnyFunSuite with SparkSpec {

  private val cfg = Fixtures.Cfg()

  test("state-DB depth bound: fixture passes at 32, every block violates at 1") {
    val storageDb = graft.pipeline.ZkPipeline.storageDb(Fixtures.entries(spark, cfg))
    val ok = Constraints.maxGroupSize(storageDb, Seq("block_number"), 32L).head()
    assert(ok.getString(0) == "max_group_size(block_number,32)")
    assert(ok.getLong(1) == 0L, "2 contracts per block is within the depth-5 bound")

    // N: with the bound tightened below the fixture's 2 contracts per
    // block, every one of the nBlocks groups must be reported
    val bad = Constraints.maxGroupSize(storageDb, Seq("block_number"), 1L).head()
    assert(bad.getLong(1) == cfg.nBlocks.toLong)
  }
}
