package graftbench

import java.math.BigInteger
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.core.Bytes
import graft.pipeline.ZkPipeline
import graft.streaming.{BlockDbAppender, StorageDbMaintainer}

import Checks.{Erc20Answer, Head, Q2Answer, StorageRow}
import Gen.{ChainShape, Entry, Header, MappingState, Round, ServeShape, ServeTable}

final case class Ctx(spark: SparkSession, seed: Long, work: Path)

/** What one operation completed: `items` count towards items_per_s,
  * `rowsOut` are the rows it returned or committed. */
final case class Done(items: Long, rowsOut: Long)

/** One workload: repeatable set-up, timed operations, and a check of
  * every operation's output once the timing is over. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark

  /** what one item of items_per_s is */
  def item: String

  /** shape parameters and sizes, printed with the result */
  def describe: Seq[(String, Any)]

  /** the data set-up: inputs, committed tables and base DB */
  def setup(): Unit

  /** untimed operations against the set-up state, so the timed ones
    * start with compiled code and loaded classes */
  def warmUp(): Unit

  /** untimed preparation before operation `op`. An operation id is
    * unique within a run; its [[Workload.index]] picks the input, so
    * the replays of a traced run repeat the timed pass's operations
    * under other ids. */
  def prepare(op: Int): Unit = ()

  def run(op: Int, rec: Recorder): Done

  /** the directory operation `op` writes into, if any */
  def outputDir(op: Int): Option[Path] = None

  /** per operation: entries whose leaf commitment it computes, and
    * blocks it commits */
  def leafCommitsPerOp: Double
  def blocksPerOp: Double

  /** operations whose output is wrong, with the mismatches */
  def check(ops: Seq[Int]): Map[Int, Seq[String]]

  protected def dir(name: String): Path = ctx.work.resolve(name)
}

object Workload {
  val Names: Seq[String] = Seq("ingest", "serve", "append")

  /** operation ids of pass `p` are `p * PassStride + index` */
  val PassStride = 1000000
  def id(pass: Int, index: Int): Int = pass * PassStride + index
  def pass(op: Int): Int = op / PassStride
  def index(op: Int): Int = op % PassStride

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx)
    case "serve" => new Serve(ctx)
    case "append" => new Append(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (${Names.mkString(", ")})")
  }

  def storageRows(df: DataFrame): Set[StorageRow] =
    df.select("block_number", "contract", "n", "digest", "storage_root").collect().map { r =>
      StorageRow(r.getLong(0), Bytes.toHex(r.getAs[Array[Byte]](1)), r.getLong(2),
        Bytes.toHex(r.getAs[Array[Byte]](3)), Bytes.toHex(r.getAs[Array[Byte]](4)))
    }.toSet

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toVector.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** (bytes, files) under a directory */
  def treeSize(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }
}

/** Bulk build of the whole commitment DB from a raw entry table in
  * parquet: storage DB, then state DB, then block DB and its head,
  * each materialized to parquet. One operation is one full build. */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  val shape = ChainShape(firstBlock = 1000L, nBlocks = 24, nContracts = 32, maxGroup = 512,
    zipfS = 1.1, churn = 0.05, update = 0.2)
  private val sampleGroups = 32
  private var entriesPath = ""
  private var headersPath = ""
  private var nEntries = 0L
  private var nGroups = 0L

  def item = "entry committed through all three DB levels"

  private def generate(): (Vector[Entry], Vector[Header]) = {
    val r = new SplittableRandom(ctx.seed)
    val cs = Gen.contracts(r, shape.nContracts, shape.maxGroup, shape.zipfS)
    val (es, _) = Gen.chain(r, Gen.initialState(r, cs), shape.firstBlock, shape.nBlocks, shape.churn, shape.update)
    (es, Gen.headers(r, shape.firstBlock, shape.nBlocks, Gen.bytes(r, 32)))
  }

  def describe: Seq[(String, Any)] = shape.describe ++ Seq(
    "entries" -> nEntries, "storage_groups" -> nGroups,
    "input_raw_mb" -> nEntries * Gen.RawEntryBytes / 1e6, "checked_sample_groups" -> sampleGroups)

  def setup(): Unit = {
    val d = dir("setup")
    val (es, hs) = generate()
    nEntries = es.size.toLong
    nGroups = es.iterator.map(e => (e.block, Bytes.toHex(e.contract))).toSet.size.toLong
    entriesPath = d.resolve("entries").toString
    headersPath = d.resolve("headers").toString
    Gen.entriesDf(spark, es).write.parquet(entriesPath)
    Gen.headersDf(spark, hs).write.parquet(headersPath)
  }

  /** two full builds: the timed builds of a run still got 25 % faster
    * one after another behind a single small one */
  def warmUp(): Unit = {
    val warm = new Recorder(spark, traced = false)
    (0 until 2).foreach(i => build(dir(s"warmup-$i").toString, warm))
  }

  private def build(p: String, rec: Recorder): Unit = {
    rec.call("pipeline.storage_db") {
      ZkPipeline.storageDb(spark.read.parquet(entriesPath)).write.parquet(s"$p/storage")
    }
    rec.call("pipeline.state_db") {
      ZkPipeline.stateDb(spark.read.parquet(s"$p/storage")).write.parquet(s"$p/state")
    }
    rec.call("pipeline.block_db") {
      ZkPipeline.blockDb(spark.read.parquet(s"$p/state"), spark.read.parquet(headersPath)).write.parquet(s"$p/block")
      ZkPipeline.blockDbHead(spark.read.parquet(s"$p/block")).write.parquet(s"$p/head")
    }
  }

  private def buildDir(op: Int): Path = dir(s"build-$op")

  override def outputDir(op: Int): Option[Path] = Some(buildDir(op))

  def run(op: Int, rec: Recorder): Done = {
    build(buildDir(op).toString, rec)
    Done(nEntries, nGroups + 2L * shape.nBlocks + 1)
  }

  def leafCommitsPerOp: Double = nEntries.toDouble
  def blocksPerOp: Double = shape.nBlocks.toDouble

  def check(ops: Seq[Int]): Map[Int, Seq[String]] = {
    val (es, hs) = generate()
    val exp = Checks.expectIngest(es, hs, ctx.seed ^ 0x73616d70L, sampleGroups)
    ops.flatMap { op =>
      val p = buildDir(op).toString
      val h = spark.read.parquet(s"$p/head").collect().head
      val head = Head(h.getAs[Long]("first_block"), h.getAs[Long]("last_block"), h.getAs[Long]("n_blocks"),
        Bytes.toHex(h.getAs[Array[Byte]]("root")), h.getAs[Int]("all_chain_ok"), h.getAs[Int]("all_seq_ok"))
      val sample = Workload.storageRows(spark.read.parquet(s"$p/storage"))
        .map(r => (r.block, r.contractHex) -> r).toMap.filter { case (k, _) => exp.sample.contains(k) }
      val problems = Checks.checkIngest(exp, head, sample)
      if (problems.isEmpty) None else Some(op -> problems)
    }.toMap
  }
}

/** Closed-loop serving with one client: a seeded stream of Query2 and
  * QueryERC20 requests against an entries table committed in set-up.
  * One operation is one round of the stream: a Query2 request, then a
  * QueryERC20 request, each answered and collected. */
final class Serve(ctx: Ctx) extends Workload(ctx) {
  val shape = ServeShape(firstBlock = 20000L, nBlocks = 96, nIds = 256, nOwners = 32, ownerZipfS = 1.1,
    transfer = 0.01, nHolders = 128, absent = 0.05, fillerContracts = 6, fillerGroup = 64, files = 8)
  private val whoZipfS = 1.0
  private val streamLength = 4096
  private val limit = 5
  private val warmUpRounds = 12
  private var table: ServeTable = _
  private var entries: DataFrame = _
  private var stream: Vector[Round] = Vector.empty
  private var rate = BigInteger.ZERO
  private var supply = BigInteger.ONE
  private var nEntries = 0L
  private val answers = mutable.Map.empty[Int, (Q2Answer, Erc20Answer)]

  def item = "request answered"

  def describe: Seq[(String, Any)] = shape.describe ++ Seq(
    "entries" -> nEntries, "table_raw_mb" -> nEntries * Gen.RawEntryBytes / 1e6,
    "request_zipf_s" -> whoZipfS, "request_rounds" -> streamLength, "requests_per_op" -> 2, "query2_limit" -> limit,
    "clients" -> 1, "loop" -> "closed")

  def setup(): Unit = {
    val r = new SplittableRandom(ctx.seed)
    val t = Gen.serveTable(r, shape)
    rate = BigInteger.TEN.pow(18).add(BigInteger.valueOf(r.nextInt(1 << 30)))
    supply = BigInteger.TEN.pow(24).add(BigInteger.valueOf(r.nextLong() >>> 1))
    stream = Gen.requests(r, t, streamLength, whoZipfS)
    val path = dir("setup").resolve("entries").toString
    // entries are generated in block order, so equal slices make files
    // that each hold one contiguous block range
    Gen.entriesSliced(spark, t.entries, shape.files).write.parquet(path)
    nEntries = t.entries.size.toLong
    table = t.copy(entries = Vector.empty)
    entries = spark.read.parquet(path)
  }

  def warmUp(): Unit = {
    val warm = new Recorder(spark, traced = false)
    Gen.requests(new SplittableRandom(ctx.seed + 1), table, warmUpRounds, whoZipfS).foreach(answer(_, warm))
  }

  private def answer(q: Round, rec: Recorder): (Q2Answer, Erc20Answer) = {
    val q2 = rec.call("pipeline.query2") {
      val (ids, checks) = ZkPipeline.query2(entries, table.nft.addr, table.nft.slot, table.owners(q.nft.who),
        q.nft.minB, q.nft.maxB, limit)
      val idv = ids.collect().map(_.getLong(0)).toSeq
      val c = checks.collect().head
      Q2Answer(idv, c.getLong(0), Bytes.toHex(c.getAs[Array[Byte]](1)))
    }
    val erc = rec.call("pipeline.erc20") {
      val row = ZkPipeline.queryErc20(entries, table.erc.addr, table.erc.slot, table.holders(q.erc.who), rate,
        supply, q.erc.minB, q.erc.maxB).collect().head
      Erc20Answer(row.getAs[Long]("n_blocks"), row.getAs[Long]("range_min"), row.getAs[Long]("range_max"),
        Bytes.toHex(row.getAs[Array[Byte]]("result")), row.getAs[Boolean]("gap_free"))
    }
    (q2, erc)
  }

  private def round(op: Int): Round = stream(Workload.index(op) % stream.size)

  def run(op: Int, rec: Recorder): Done = {
    val a = answer(round(op), rec)
    answers(op) = a
    Done(2, a._1.ids.size + 2L)
  }

  def leafCommitsPerOp: Double = 0.0
  def blocksPerOp: Double = 0.0

  def check(ops: Seq[Int]): Map[Int, Seq[String]] = {
    val keyDigest = mutable.Map.empty[Long, Array[Byte]]
    def kd(id: Long) = keyDigest.getOrElseUpdate(id, graft.core.Commitments.keyOnlyDigest(Gen.idKey(id)))
    ops.flatMap { op =>
      val q = round(op)
      val problems = answers.get(op) match {
        case Some((q2, erc)) =>
          Checks.checkQuery2(Checks.expectQuery2(table, q.nft, limit, kd), q2) ++
            Checks.checkErc20(Checks.expectErc20(table, q.erc, rate, supply), erc)
        case None => Seq(s"round $q has no answer")
      }
      if (problems.isEmpty) None else Some(op -> problems)
    }.toMap
  }
}

/** Closed-loop catch-up: blocks appended back to back onto a base DB
  * built in set-up. Each block runs `StorageDbMaintainer.processBatch`
  * on its full entry set, `ZkPipeline.stateDb` over the maintained
  * rows of that block, and `BlockDbAppender.processBatch`. One
  * operation is one block. Blocks come in epochs of `epochBlocks`;
  * every epoch starts from a fresh copy of the base DB with its own
  * seeded blocks, so the DB an append rewrites stays within
  * `epochBlocks` blocks of the base size however long the run. An
  * epoch's blocks depend on its number only, so every replay of a
  * traced run appends the timed pass's blocks, onto its own copy. */
final class Append(ctx: Ctx) extends Workload(ctx) {
  val shape = ChainShape(firstBlock = 5000L, nBlocks = 24, nContracts = 12, maxGroup = 128,
    zipfS = 1.1, churn = 0.05, update = 0.2)
  val epochBlocks = 6
  private var baseDir: Path = _
  private var baseLast: MappingState = _
  private var baseHead: Header = _
  private var baseEntries = 0L
  private var baseGroups = 0L
  private var maint: StorageDbMaintainer = _
  private var appender: BlockDbAppender = _
  private var blocks: Vector[(DataFrame, Header, Long)] = Vector.empty
  /** (pass, epoch) of every epoch started */
  private val epochs = mutable.LinkedHashSet.empty[(Int, Int)]
  private var entriesAppended = 0L
  private var blocksAppended = 0L
  private def firstNew: Long = shape.firstBlock + shape.nBlocks
  private val blockSchema = StructType(Seq(StructField("block_number", LongType),
    StructField("block_hash", BinaryType), StructField("state_root", BinaryType)))

  def item = "block appended"

  def describe: Seq[(String, Any)] = shape.describe ++ Seq(
    "base_entries" -> baseEntries, "base_storage_groups" -> baseGroups,
    "base_raw_mb" -> baseEntries * Gen.RawEntryBytes / 1e6, "epoch_blocks" -> epochBlocks,
    "storage_db_buckets" -> 16, "loop" -> "closed")

  private def base(): (Vector[Entry], Vector[Header], MappingState) = {
    val r = new SplittableRandom(ctx.seed)
    val cs = Gen.contracts(r, shape.nContracts, shape.maxGroup, shape.zipfS)
    val (es, last) = Gen.chain(r, Gen.initialState(r, cs), shape.firstBlock, shape.nBlocks, shape.churn, shape.update)
    (es, Gen.headers(r, shape.firstBlock, shape.nBlocks, Gen.bytes(r, 32)), last)
  }

  /** epoch `e`'s blocks, continuing the base chain from its head */
  private def epoch(e: Int): (Vector[Entry], Vector[Header]) = {
    val r = new SplittableRandom(ctx.seed * 0x9E3779B97F4A7C15L + e)
    val (es, _) = Gen.chain(r, baseLast.next(r, shape.churn, shape.update), firstNew, epochBlocks,
      shape.churn, shape.update)
    (es, Gen.headers(r, firstNew, epochBlocks, baseHead.hash))
  }

  def setup(): Unit = {
    val d = dir("setup").resolve("base")
    val (es, hs, last) = base()
    baseEntries = es.size.toLong
    baseGroups = es.iterator.map(e => (e.block, Bytes.toHex(e.contract))).toSet.size.toLong
    val m = new StorageDbMaintainer(spark, d.resolve("sdb").toString)
    m.processBatch(Gen.entriesDf(spark, es), 0)
    new BlockDbAppender(spark, d.resolve("sink").toString, d.resolve("quarantine").toString)
      .processBatch(ZkPipeline.blockDb(ZkPipeline.stateDb(m.current().get), Gen.headersDf(spark, hs)), 0)
    baseDir = d
    baseLast = last
    baseHead = hs.last
  }

  def warmUp(): Unit = {
    startEpoch(-1, dir("warmup"))
    val warm = new Recorder(spark, traced = false)
    (0 until 2).foreach(i => append(blocks(i), -1, warm))
  }

  private def epochOf(op: Int): Int = Workload.index(op) / epochBlocks
  private def epochDir(pass: Int, e: Int): Path = dir(s"epoch-$pass-$e")

  /** a fresh copy of the base DB and a new maintainer and appender on
    * it; an empty batch loads the appender's frontier, which a node
    * does once, not per block */
  private def startEpoch(e: Int, d: Path): Unit = {
    Workload.copyTree(baseDir, d)
    maint = new StorageDbMaintainer(spark, d.resolve("sdb").toString)
    appender = new BlockDbAppender(spark, d.resolve("sink").toString, d.resolve("quarantine").toString)
    appender.processBatch(spark.createDataFrame(java.util.List.of[Row](), blockSchema), -1L)
    val (es, hs) = epoch(e)
    val byBlock = es.groupBy(_.block)
    blocks = hs.map(h => (Gen.entriesDf(spark, byBlock(h.block)), h, byBlock(h.block).size.toLong))
  }

  override def prepare(op: Int): Unit =
    if (Workload.index(op) % epochBlocks == 0) {
      epochs += ((Workload.pass(op), epochOf(op)))
      startEpoch(epochOf(op), epochDir(Workload.pass(op), epochOf(op)))
    }

  override def outputDir(op: Int): Option[Path] = Some(epochDir(Workload.pass(op), epochOf(op)))

  private def append(b: (DataFrame, Header, Long), op: Int, rec: Recorder): Long = {
    val (delta, h, n) = b
    rec.call("streaming.storage_maint") { maint.processBatch(delta, op.toLong) }
    val stateRoot = rec.call("streaming.state_db") {
      ZkPipeline.stateDb(maint.current().get.filter(col("block_number") === h.block))
        .select("state_root").collect().head.getAs[Array[Byte]](0)
    }
    rec.call("streaming.block_append") {
      appender.processBatch(spark.createDataFrame(java.util.List.of(Row(h.block, h.hash, stateRoot)), blockSchema),
        op.toLong)
    }
    n
  }

  def run(op: Int, rec: Recorder): Done = {
    val n = append(blocks(Workload.index(op) % epochBlocks), op, rec)
    entriesAppended += n
    blocksAppended += 1
    Done(1, n + 2)
  }

  def leafCommitsPerOp: Double = entriesAppended.toDouble / math.max(1L, blocksAppended)
  def blocksPerOp: Double = 1.0

  /** per epoch: the batch path (`storageDb`, `stateDb`, `blockDb`)
    * over the base blocks plus the blocks the epoch got through must
    * give the maintained storage DB and every `root_after`. */
  def check(ops: Seq[Int]): Map[Int, Seq[String]] = {
    val (baseEs, baseHs, _) = base()
    val sdbBase = ZkPipeline.storageDb(Gen.entriesDf(spark, baseEs)).cache()
    val failed = mutable.Map.empty[Int, Seq[String]]
    val ran = ops.toSet
    epochs.foreach { case (pass, e) =>
      val epochOps = (0 until epochBlocks).map(i => Workload.id(pass, e * epochBlocks + i)).filter(ran.contains)
      val d = epochDir(pass, e)
      val (es, allHs) = epoch(e)
      val hs = allHs.take(epochOps.size)
      val sdb = sdbBase.unionByName(ZkPipeline.storageDb(Gen.entriesDf(spark, es.filter(_.block <= hs.last.block))))
      val leaves = ZkPipeline.blockDb(ZkPipeline.stateDb(sdb), Gen.headersDf(spark, baseHs ++ hs))
        .select("block_number", "leaf_hash").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).sortBy(_._1)
      val expRoots = Checks.prefixRoots(leaves.map(_._1).toSeq, leaves.map(_._2).toSeq)
        .filter { case (b, _) => b >= firstNew }
      val gotRoots = spark.read.parquet(d.resolve("sink").toString)
        .filter(col("block_number") >= firstNew).select("block_number", "root_after_hex")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val gotStorage = Workload.storageRows(new StorageDbMaintainer(spark, d.resolve("sdb").toString).current().get)
      Checks.checkAppend(expRoots, gotRoots, Workload.storageRows(sdb), gotStorage).foreach { case (b, msg) =>
        val hit = if (b < firstNew) epochOps else Seq(Workload.id(pass, e * epochBlocks + (b - firstNew).toInt))
        hit.foreach(op => failed(op) = failed.getOrElse(op, Nil) :+ msg)
      }
    }
    sdbBase.unpersist()
    failed.toMap
  }
}
