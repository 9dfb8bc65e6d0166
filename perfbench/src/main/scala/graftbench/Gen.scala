package graftbench

import java.math.BigInteger
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{Bytes, Keccak, Rlp, U256}

/** Seeded input generator. Every input a workload hands the engine is
  * derived from one seed through `SplittableRandom`, whose sequence is
  * fixed by its specification, so the same seed gives byte-identical
  * inputs on any JVM. Keys and values are random 32-byte strings and
  * every block differs from its parent (key churn and value updates),
  * so no per-block memo can pose as a speed-up. */
object Gen {

  final case class Entry(block: Long, contract: Array[Byte], slot: Int, lengthSlot: Int,
      key: Array[Byte], value: Array[Byte])

  final case class Header(block: Long, rlp: Array[Byte], hash: Array[Byte], parent: Array[Byte])

  /** bytes a raw entry occupies in the input table: block (8),
    * contract (20), two slots (4 + 4), key (32), value (32). */
  val RawEntryBytes = 100

  val entrySchema: StructType = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("contract", BinaryType, nullable = false),
    StructField("mapping_slot", IntegerType, nullable = false),
    StructField("length_slot", IntegerType, nullable = false),
    StructField("mapping_key", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  val headerSchema: StructType = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("header_rlp", BinaryType, nullable = false),
    StructField("block_hash", BinaryType, nullable = false),
    StructField("parent_hash", BinaryType, nullable = false)))

  private def row(e: Entry): Row = Row(e.block, e.contract, e.slot, e.lengthSlot, e.key, e.value)

  /** entries as a local relation, the way a caller hands a batch over */
  def entriesDf(spark: SparkSession, es: Seq[Entry]): DataFrame =
    spark.createDataFrame(es.map(row).asJava, entrySchema)

  /** entries in generation order cut into `slices` partitions, for
    * writing a table of that many files */
  def entriesSliced(spark: SparkSession, es: Seq[Entry], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(es.map(row), slices), entrySchema)

  def headersDf(spark: SparkSession, hs: Seq[Header]): DataFrame = {
    val rows = new java.util.ArrayList[Row](hs.size)
    hs.foreach(h => rows.add(Row(h.block, h.rlp, h.hash, h.parent)))
    spark.createDataFrame(rows, headerSchema)
  }

  def bytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  /** Zipf(s) over ranks 0..n-1 (rank 0 most likely). */
  final class Zipf(n: Int, s: Double) {
    require(n > 0)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ------------------------------------------------------------ mapping chains

  final case class Contract(addr: Array[Byte], slot: Int, lengthSlot: Int, size: Int)

  /** Shape of a chain of mapping contracts: `nContracts` per block, the
    * contract of Zipf rank k holding `max(1, maxGroup / (k+1)^zipfS)`
    * entries; from one block to the next a `churn` share of each
    * contract's keys is replaced by fresh keys and an `update` share
    * of the remaining values is rewritten. */
  final case class ChainShape(firstBlock: Long, nBlocks: Int, nContracts: Int, maxGroup: Int,
      zipfS: Double, churn: Double, update: Double) {
    def describe: Seq[(String, Any)] = Seq(
      "first_block" -> firstBlock, "blocks" -> nBlocks, "contracts_per_block" -> nContracts,
      "max_group" -> maxGroup, "group_zipf_s" -> zipfS, "key_churn" -> churn,
      "value_update" -> update)
  }

  def contracts(r: SplittableRandom, n: Int, maxGroup: Int, s: Double): Vector[Contract] = {
    val ranks = shuffled(r, (0 until n).toVector)
    ranks.map { k =>
      Contract(bytes(r, 20), r.nextInt(256), r.nextInt(256),
        math.max(1, math.round(maxGroup / math.pow(k + 1.0, s)).toInt))
    }
  }

  def shuffled[A](r: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** the state of every contract's mapping at one block */
  final case class MappingState(contracts: Vector[Contract], keys: Vector[Vector[Array[Byte]]],
      values: Vector[Vector[Array[Byte]]]) {

    def entries(block: Long): Iterator[Entry] =
      contracts.indices.iterator.flatMap { c =>
        val ct = contracts(c)
        keys(c).indices.iterator.map(i => Entry(block, ct.addr, ct.slot, ct.lengthSlot, keys(c)(i), values(c)(i)))
      }

    def next(r: SplittableRandom, churn: Double, update: Double): MappingState = {
      val ks = Vector.newBuilder[Vector[Array[Byte]]]
      val vs = Vector.newBuilder[Vector[Array[Byte]]]
      contracts.indices.foreach { c =>
        val k = keys(c).map(x => if (r.nextDouble() < churn) bytes(r, 32) else x)
        val v = values(c).map(x => if (r.nextDouble() < update) bytes(r, 32) else x)
        ks += k
        vs += v
      }
      MappingState(contracts, ks.result(), vs.result())
    }
  }

  def initialState(r: SplittableRandom, cs: Vector[Contract]): MappingState =
    MappingState(cs, cs.map(c => Vector.fill(c.size)(bytes(r, 32))), cs.map(c => Vector.fill(c.size)(bytes(r, 32))))

  /** `n` consecutive blocks starting from `start` (which is block
    * `firstBlock`'s state); returns the entries and the last state. */
  def chain(r: SplittableRandom, start: MappingState, firstBlock: Long, n: Int, churn: Double,
      update: Double): (Vector[Entry], MappingState) = {
    val out = Vector.newBuilder[Entry]
    var st = start
    var i = 0
    while (i < n) {
      if (i > 0) st = st.next(r, churn, update)
      out ++= st.entries(firstBlock + i)
      i += 1
    }
    (out.result(), st)
  }

  // ------------------------------------------------------------ header chain

  /** RLP headers chained by parent hash, with the Ethereum field
    * positions the engine's extractors read (parentHash at 0,
    * stateRoot at 3, number at 8); the state root field is seeded
    * random bytes. */
  def headers(r: SplittableRandom, firstBlock: Long, n: Int, parent0: Array[Byte]): Vector[Header] = {
    var parent = parent0
    (0 until n).map { i =>
      val b = firstBlock + i
      val fields = Vector[Rlp.Item](
        Rlp.Str(parent), Rlp.Str(new Array[Byte](32)), Rlp.Str(new Array[Byte](20)),
        Rlp.Str(bytes(r, 32)), Rlp.Str(new Array[Byte](32)), Rlp.Str(new Array[Byte](32)),
        Rlp.Str(new Array[Byte](8)), Rlp.Str(Array.empty),
        Rlp.Str(Bytes.beBytes(b, 8).dropWhile(_ == 0)))
      val rlp = Rlp.encode(Rlp.Lst(fields))
      val h = Header(b, rlp, Keccak.keccak256(rlp), parent)
      parent = h.hash
      h
    }.toVector
  }

  // ------------------------------------------------------------ serve table

  /** Shape of the served table: one NFT mapping (id → owner) whose
    * owners are drawn Zipf-skewed and change hands with probability
    * `transfer` per block, one ERC20 mapping (holder → balance) whose
    * holders are absent from a block with probability `absent`, and
    * `fillerContracts` unrelated mappings the scoping filter must
    * skip. */
  final case class ServeShape(firstBlock: Long, nBlocks: Int, nIds: Int, nOwners: Int, ownerZipfS: Double,
      transfer: Double, nHolders: Int, absent: Double, fillerContracts: Int, fillerGroup: Int,
      files: Int) {
    def describe: Seq[(String, Any)] = Seq(
      "first_block" -> firstBlock, "blocks" -> nBlocks, "nft_ids" -> nIds, "owners" -> nOwners,
      "owner_zipf_s" -> ownerZipfS, "transfer_per_block" -> transfer, "erc20_holders" -> nHolders,
      "holder_absent" -> absent, "filler_contracts" -> fillerContracts, "filler_group" -> fillerGroup,
      "parquet_files" -> files)
  }

  final case class ServeTable(shape: ServeShape, nft: Contract, erc: Contract, ids: Vector[Long],
      owners: Vector[Array[Byte]], ownerOf: Vector[Array[Int]], holders: Vector[Array[Byte]],
      balances: Vector[Array[BigInteger]], entries: Vector[Entry]) {
    def lastBlock: Long = shape.firstBlock + shape.nBlocks - 1
  }

  def idKey(id: Long): Array[Byte] = Bytes.leftPad32(Bytes.beBytes(id, 4))

  def serveTable(r: SplittableRandom, s: ServeShape): ServeTable = {
    val nft = Contract(bytes(r, 20), r.nextInt(256), r.nextInt(256), s.nIds)
    val erc = Contract(bytes(r, 20), r.nextInt(256), r.nextInt(256), s.nHolders)
    val idSet = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (idSet.size < s.nIds) idSet += 1L + r.nextInt(Int.MaxValue)
    val ids = idSet.toVector
    val owners = Vector.fill(s.nOwners)(bytes(r, 20))
    val ownerZipf = new Zipf(s.nOwners, s.ownerZipfS)
    val holders = Vector.fill(s.nHolders)(bytes(r, 20))
    val fillers = contracts(r, s.fillerContracts, s.fillerGroup, 1.0)
    var filler = initialState(r, fillers)

    val ownerOf = Vector.newBuilder[Array[Int]]
    val balances = Vector.newBuilder[Array[BigInteger]]
    val entries = Vector.newBuilder[Entry]
    var own = Array.fill(s.nIds)(ownerZipf.draw(r))
    var bal = Array.fill(s.nHolders)(new BigInteger(1, bytes(r, 12)))
    (0 until s.nBlocks).foreach { i =>
      val b = s.firstBlock + i
      if (i > 0) {
        own = own.map(o => if (r.nextDouble() < s.transfer) ownerZipf.draw(r) else o)
        bal = bal.map(x => if (r.nextDouble() < 0.3) x.add(BigInteger.valueOf(r.nextInt(1 << 30))) else x)
        filler = filler.next(r, 0.05, 0.2)
      }
      val present = bal.map(x => if (r.nextDouble() < s.absent) null else x)
      ownerOf += own
      balances += present
      ids.indices.foreach(k =>
        entries += Entry(b, nft.addr, nft.slot, nft.lengthSlot, idKey(ids(k)), Bytes.leftPad32(owners(own(k)))))
      holders.indices.foreach(h => if (present(h) != null)
        entries += Entry(b, erc.addr, erc.slot, erc.lengthSlot, Bytes.leftPad32(holders(h)), U256.toBytes32(present(h))))
      entries ++= filler.entries(b)
    }
    ServeTable(s, nft, erc, ids, owners, ownerOf.result(), holders, balances.result(), entries.result())
  }

  /** one serve request for owner or holder `who` over blocks
    * [minB, maxB] */
  final case class Request(who: Int, minB: Long, maxB: Long)

  /** one round of the client: a Query2 request, then a QueryERC20
    * request */
  final case class Round(nft: Request, erc: Request)

  /** a seeded stream of `n` rounds. No source weights one query shape
    * over the other, so every round asks each once. Owners and holders
    * are drawn Zipf-skewed; range widths are log-uniform from 1 block
    * to the whole table, and a range starts uniformly over the
    * positions that keep it in the table. */
  def requests(r: SplittableRandom, t: ServeTable, n: Int, whoZipfS: Double): Vector[Round] = {
    val oz = new Zipf(t.shape.nOwners, whoZipfS)
    val hz = new Zipf(t.shape.nHolders, whoZipfS)
    def one(who: Int): Request = {
      val w = math.min(t.shape.nBlocks, math.max(1, math.exp(r.nextDouble() * math.log(t.shape.nBlocks + 1.0)).toInt))
      val lo = t.shape.firstBlock + r.nextInt(t.shape.nBlocks - w + 1)
      Request(who, lo, lo + w - 1)
    }
    Vector.fill(n) {
      val nft = one(oz.draw(r))
      Round(nft, one(hz.draw(r)))
    }
  }
}
