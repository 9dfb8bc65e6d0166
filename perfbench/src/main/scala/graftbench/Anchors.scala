package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.core.{Bytes, Commitments}
import graft.pipeline.{Fixtures, ZkPipeline}

import Checks.StorageRow
import Gen.{ChainShape, Entry, Header}

/** Commitments pinned as hex constants, recorded from the engine at
  * the commit that introduced the benchmark. The output checks compare
  * the engine against a recomputation through the same
  * `core.Commitments` kernels, so a wrong but deterministic change to a
  * kernel would move both sides together; the pins do not move. Every
  * run checks the recomputation against them, and `ingest` and
  * `append`, whose checks go through the engine's batch path, also run
  * that path over the anchor chain. */
object Anchors {

  /** a small seeded chain: 4 blocks of 5 contracts, skewed groups,
    * heavy churn, so every block and group differs */
  val ChainSeed = 11L
  val chainShape = ChainShape(100L, 4, 5, 8, 1.1, 0.25, 0.5)

  def chain(seed: Long): (Vector[Entry], Vector[Header]) = {
    val s = chainShape
    val r = new SplittableRandom(seed)
    val cs = Gen.contracts(r, s.nContracts, s.maxGroup, s.zipfS)
    val (es, _) = Gen.chain(r, Gen.initialState(r, cs), s.firstBlock, s.nBlocks, s.churn, s.update)
    (es, Gen.headers(r, s.firstBlock, s.nBlocks, Gen.bytes(r, 32)))
  }

  /** the NFT ids of the reference's end-to-end Query2 test */
  val QueryIds: Seq[Long] = 1L to 5L

  /** pinned values: the block-DB root and three storage-DB groups
    * (`n`, `digest`, `storage_root`) of the anchor chain and of the
    * engine's default fixture, and the Query2 key-digest sum of
    * [[QueryIds]] */
  val Pinned: Map[String, String] = Map(
    "chain.block_root" ->
      "1ad12a9e2873fd18203c3eb94d01c91c4ca998578bb48e8998a06724d8e66a2c",
    "chain.group0" -> "100/2a06b24ddb980cf560aff109ae4ef0291d0cbdea/2",
    "chain.group0.digest" ->
      "88afc72776f07ebc967b3ec24a38f70846f5115d7d20a32c8783e15c35877b15b2466848c4aed09abd26a5b90076837cc8e1b04fb50b21ff962840ba03b5163033173acd2292c17b6a4f3c0be772c45e00",
    "chain.group0.root" ->
      "aedd1982727def4838ccab2fc4abf7a0675e1b4c38d1c7d61a7200570c1a7d44",
    "chain.group1" -> "100/3eaf363accd6a7a7560e525692d24bee16da9bd6/8",
    "chain.group1.digest" ->
      "299dceb8784431daf7fed50b5c91f486452a5d20c8784a2ae7bec205238850bb8d54108cdfe9a8e111ef5b0ab1416739b3929b2155ebbb7d3809dac7e563af4f02f8348e384a1f475e75ec64784cf1f000",
    "chain.group1.root" ->
      "7526780c34493bd0debd6e4aaa7cff197e7cbae9c757f58774cf5d86ded56402",
    "chain.group2" -> "100/4157f4fefd88b3f378f96953f3dede3ef6cd00d3/2",
    "chain.group2.digest" ->
      "8a183fc2c83dff5024029609b9d5e21c3c253e67b12971bfdce943d5d9089aab72d77cc574b104098bac5579c74af35391c556e0c6c8204ab09063a4658f3b982d96eaf4266d8dd0f2fab0c61814306c00",
    "chain.group2.root" ->
      "a52fa4e6c7029ab53298c0798b8534f6c0cd94f87ad3c9fae851e10fc9caee0e",
    "fixture.block_root" ->
      "b0ca02bbd2c6d0d49b90104069fb08fafc3201955ed40fcb91b67d541dacc4d8",
    "fixture.group0" -> "100/650b0b14cd3ea583bb3ce75c177ff6224ed2020c/8",
    "fixture.group0.digest" ->
      "1c1667de6991f21c8b4b568f0b25a591188c9337ae5071a1637b558dd4d02d0aa6570b113f83d69f51414e127cb3d1d6775f1050544e55c71551b4f5dad4d2db2994b65dba338f81754ac9997ac1645d00",
    "fixture.group0.root" ->
      "c8c4b01a671f6a78ed704c334eb9075e08bc9b224492437b41a5c72283e613ce",
    "fixture.group1" -> "100/89ec465214f36364aa252753811a7669532772e1/8",
    "fixture.group1.digest" ->
      "c94df5453a0d12d29f406410186db79da487277e5c3ada85abe670f7d867c55428ef3cc209adf6124a55c9971e25c9f4fe25fde1726ec089f4b7861c5460694942f58023909b736be9ed211ff7d0788d00",
    "fixture.group1.root" ->
      "c0442f230bd43f88372afccc8c062a1ad5afc9c29a53f98920c3906af3c5ad1c",
    "fixture.group2" -> "101/650b0b14cd3ea583bb3ce75c177ff6224ed2020c/8",
    "fixture.group2.digest" ->
      "1c1667de6991f21c8b4b568f0b25a591188c9337ae5071a1637b558dd4d02d0aa6570b113f83d69f51414e127cb3d1d6775f1050544e55c71551b4f5dad4d2db2994b65dba338f81754ac9997ac1645d00",
    "fixture.group2.root" ->
      "c8c4b01a671f6a78ed704c334eb9075e08bc9b224492437b41a5c72283e613ce",
    "query2.key_digest" ->
      "0cfe052bf1fbce8621dcae8adc7be5ee9a20262c2b4d403508e1a5e3612a61df8f356256e9c2fd971ae5db228cf2799c9ba3561c8d7fe035c3e1021df24d3c1bd468cb2721f0353876389d1208b3cd7300")

  private def groupPins(prefix: String, groups: Map[(Long, String), StorageRow]): Seq[(String, String)] =
    groups.keys.toSeq.sorted.take(3).zipWithIndex.flatMap { case (k, i) =>
      val g = groups(k)
      Seq(s"$prefix.group$i" -> s"${g.block}/${g.contractHex}/${g.n}", s"$prefix.group$i.digest" -> g.digestHex,
        s"$prefix.group$i.root" -> g.rootHex)
    }

  private def blockRoot(es: Seq[Entry], hs: Seq[Header], groups: Map[(Long, String), StorageRow]): String =
    Bytes.toHex(Commitments.merkleRoot(Checks.blockLeaves(hs, Checks.stateRoots(groups.values, Checks.slotsOf(es)))))

  def fixture(): (Seq[Entry], Seq[Header]) = {
    val cfg = Fixtures.Cfg()
    (Fixtures.entriesSeq(cfg).map(e => Entry(e.block_number, e.contract, e.mapping_slot, e.length_slot,
      e.mapping_key, e.value)),
      Fixtures.headersSeq(cfg).map(h => Header(h.block_number, h.header_rlp, h.block_hash, h.parent_hash)))
  }

  /** the pinned values as the sequential recomputation gives them */
  def reference(): Map[String, String] = {
    def of(prefix: String, es: Seq[Entry], hs: Seq[Header]) = {
      val groups = Checks.storageGroups(es, _ => true)
      (s"$prefix.block_root" -> blockRoot(es, hs, groups)) +: groupPins(prefix, groups)
    }
    val (ce, ch) = chain(ChainSeed)
    val (fe, fh) = fixture()
    val q2 = QueryIds.map(id => Commitments.keyOnlyDigest(Gen.idKey(id)))
      .foldLeft(Commitments.DigestIdentity)(Commitments.digestCombine)
    (of("chain", ce, ch) ++ of("fixture", fe, fh) :+ ("query2.key_digest" -> Bytes.toHex(q2))).toMap
  }

  /** the anchor chain's pinned values as the engine's batch path
    * (`storageDb`, `stateDb`, `blockDb`, `blockDbHead`) gives them */
  def engine(spark: SparkSession): Map[String, String] = {
    val (es, hs) = chain(ChainSeed)
    val sdb = ZkPipeline.storageDb(Gen.entriesDf(spark, es))
    val groups = Workload.storageRows(sdb).map(r => (r.block, r.contractHex) -> r).toMap
    val head = ZkPipeline.blockDbHead(ZkPipeline.blockDb(ZkPipeline.stateDb(sdb), Gen.headersDf(spark, hs)))
      .select("root").collect().head.getAs[Array[Byte]](0)
    ((s"chain.block_root" -> Bytes.toHex(head)) +: groupPins("chain", groups)).toMap
  }

  /** every value of `got` that differs from its pin */
  def mismatches(what: String, got: Map[String, String]): Seq[String] =
    got.toSeq.sorted.collect {
      case (k, v) if !Pinned.get(k).contains(v) => s"$what: anchor $k is $v, pinned ${Pinned.getOrElse(k, "nothing")}"
    }

  /** the run's anchor check: the recomputation always, the engine's
    * batch path when `engineToo` */
  def check(spark: SparkSession, engineToo: Boolean): Seq[String] =
    mismatches("recomputation", reference()) ++ (if (engineToo) mismatches("engine", engine(spark)) else Nil)
}
