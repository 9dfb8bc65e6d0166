package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.{Bytes, StorageKey}
import graft.pipeline.{Fixtures, ZkPipeline}

/** The live `eth_getProof` connector against a real (loopback) HTTP
  * JSON-RPC provider: full round-trip verification, the retry/backoff
  * path under injected 5xx failures, and RPC-level errors surfacing
  * as rows instead of disappearing.
  */
class RpcProofSourceSpec extends AnyFunSuite with SparkSpec {

  private val cfg = Fixtures.Cfg()

  private def requests() = Fixtures.entries(spark, cfg)
    .select("block_number", "contract", "mapping_slot", "mapping_key")

  test("HTTP round-trip: every fetched proof verifies and binds to its mapping key") {
    val srv = new FixtureRpcServer(cfg)
    val endpoint = srv.start()
    try {
      val fetched = RpcProofSource.fetch(requests(), endpoint).localCheckpoint(true)
      val verified = ZkPipeline.verifyStorageProofs(RpcProofSource.proofRows(fetched))
      val n = Fixtures.entriesSeq(cfg).size
      val row = verified.agg(
        count(lit(1)).as("n"),
        sum(when(col("proof_ok"), 1L).otherwise(0L)).as("ok"),
        sum(when(col("key_ok"), 1L).otherwise(0L)).as("key_ok")).head()
      assert(row.getLong(0) == n)
      assert(row.getLong(1) == n, "every proof must re-verify")
      assert(row.getLong(2) == n, "every proof key must match the mapping derivation")
      assert(srv.hits.get() == n, "one call per requested location")
    } finally srv.stop()
  }

  test("transient 5xx answers are retried with backoff until the fetch succeeds") {
    val srv = new FixtureRpcServer(cfg, failFirst = 5)
    val endpoint = srv.start()
    try {
      val fetched = RpcProofSource.fetch(requests(), endpoint, maxRetries = 6, backoffMs = 1L)
        .localCheckpoint(true)
      val verified = ZkPipeline.verifyStorageProofs(RpcProofSource.proofRows(fetched))
      val n = Fixtures.entriesSeq(cfg).size
      assert(verified.filter(col("proof_ok")).count() == n)
      assert(srv.hits.get() > n, "the failed attempts must have been retried")
    } finally srv.stop()
  }

  test("a provider-side error surfaces as rpc_error and is excluded from proof rows") {
    val srv = new FixtureRpcServer(cfg)
    val endpoint = srv.start()
    try {
      // one bogus request (unknown block) among real ones
      val bogus = requests().limit(1).withColumn("block_number", lit(999999L))
      val fetched = RpcProofSource.fetch(requests().limit(3).unionByName(bogus), endpoint)
        .localCheckpoint(true)
      val dump = RpcProofSource.toDump(fetched)
      assert(dump.filter(col("rpc_error").isNotNull).count() == 1)
      assert(dump.filter(col("rpc_error") === "proof not found").count() == 1)
      assert(RpcProofSource.proofRows(fetched).count() == 3)
    } finally srv.stop()
  }

  test("request payload matches the eth_getProof wire format") {
    val contract = Fixtures.contractAddr(0)
    val key = Bytes.leftPad32(Bytes.beBytes(1L, 4))
    val loc = StorageKey.mappingLocation(key, 3)
    val p = RpcProofSource.payload(7L, contract, loc, 255L)
    assert(p == s"""{"jsonrpc":"2.0","id":7,"method":"eth_getProof","params":""" +
      s"""["0x${Bytes.toHex(contract)}",["0x${Bytes.toHex(loc)}"],"0xff"]}""")
  }
}
