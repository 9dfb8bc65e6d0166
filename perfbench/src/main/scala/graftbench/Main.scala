package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Graft

/** The benchmark's entry point:
  *
  * {{{
  * Main --workload ingest|serve|append --seed N --seconds S --trace 0|1 --work DIR --trace-out DIR
  * }}}
  *
  * Starts the engine's session, sets the workload's data up and warms
  * it up once (`setup_s` is all of that, up to the first timed
  * operation), runs its operations for `S` seconds, checks every
  * output, and prints the end-to-end metrics as the last line. With
  * `--trace 1` it then replays the same operations three times,
  * untraced, traced and untraced again, and prints the per-layer
  * metrics instead, with the tracing overhead: the traced replay minus
  * the mean of the two untraced ones around it. All three replay
  * operations the engine has seen before (a repeated query hits
  * Spark's code cache), and the bracket cancels the drift of a JVM
  * that is still warming up. */
object Main {

  /** end-to-end metrics: (name, unit) */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "retained_heap_mb" -> "MB")

  final case class Phase(ops: Seq[Int], latMs: Map[Int, Double], done: Map[Int, Done],
      errors: Map[Int, String], wallMs: Double, heapMb: Double, written: Map[Int, (Long, Long)]) {
    def ok: Seq[Int] = ops.filter(done.contains)
    def opWallS: Double = latMs.values.sum / 1e3
    def byIndex: Map[Int, Int] = ok.map(op => Workload.index(op) -> op).toMap

    /** end-to-end metrics over the ok operations, or over those whose
      * index is in `only` */
    def endToEnd: Map[String, Double] = endToEnd(ok)
    def endToEnd(only: Set[Int]): Map[String, Double] = endToEnd(ok.filter(op => only(Workload.index(op))))
    private def endToEnd(sel: Seq[Int]): Map[String, Double] = {
      val lat = sel.map(latMs)
      val items = sel.map(done(_).items).sum
      val (tailP, tailV) = if (lat.isEmpty) (0.0, 0.0) else Stats.tail(lat)
      Map(
        "items_per_s" -> (if (lat.nonEmpty) items / (lat.sum / 1e3) else 0.0),
        "op_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
        "op_tail_ms" -> tailV, "tail_percentile" -> tailP, "samples" -> lat.size.toDouble,
        "retained_heap_mb" -> heapMb)
    }
  }

  /** heap in use after full GCs, repeated until the reading settles:
    * Spark frees unpersisted blocks and cleaned broadcasts
    * asynchronously, after the GC that made them unreachable */
  def retainedHeapMb(): Double = {
    def used() = { System.gc(); Thread.sleep(200); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6 }
    var prev = used()
    var cur = used()
    var rounds = 2
    while (math.abs(cur - prev) > 0.5 && rounds < 8) { prev = cur; cur = used(); rounds += 1 }
    cur
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** traced minus untraced end-to-end metrics over the operations all
    * three replays completed, the untraced value being the mean of the
    * replays before and after the traced one; the median is taken over
    * the per-operation differences */
  def overhead(before: Phase, traced: Phase, after: Phase): Map[String, Double] = {
    val (b, t, a) = (before.byIndex, traced.byIndex, after.byIndex)
    val all = b.keySet & t.keySet & a.keySet
    val (be, te, ae) = (before.endToEnd(all), traced.endToEnd(all), after.endToEnd(all))
    def d(k: String) = te(k) - (be(k) + ae(k)) / 2
    val diffs = all.toSeq.map(i => traced.latMs(t(i)) - (before.latMs(b(i)) + after.latMs(a(i))) / 2)
    Map(
      "trace.overhead_items_per_s" -> d("items_per_s"),
      "trace.overhead_op_p50_ms" -> (if (diffs.isEmpty) 0.0 else Stats.median(diffs)),
      "trace.overhead_op_tail_ms" -> d("op_tail_ms"),
      "trace.overhead_retained_heap_mb" -> (traced.heapMb - (before.heapMb + after.heapMb) / 2))
  }

  /** run operations of pass `pass` with indices 0, 1, ... as long as
    * `more(index, elapsed seconds)` holds; an exception fails its
    * operation and the loop goes on. */
  def measure(wl: Workload, rec: Recorder, pass: Int, trackWrites: Boolean)(more: (Int, Double) => Boolean): Phase = {
    val lat = mutable.Map.empty[Int, Double]
    val done = mutable.Map.empty[Int, Done]
    val errors = mutable.Map.empty[Int, String]
    val written = mutable.Map.empty[Int, (Long, Long)]
    val t0 = System.nanoTime()
    var index = 0
    while (more(index, (System.nanoTime() - t0) / 1e9)) {
      val op = Workload.id(pass, index)
      wl.prepare(op)
      val before = if (trackWrites) wl.outputDir(op).map(Workload.treeSize) else None
      val s = System.nanoTime()
      try {
        done(op) = rec.inOp(op)(wl.run(op, rec))
        lat(op) = (System.nanoTime() - s) / 1e6
      } catch {
        case e: Exception => errors(op) = e.toString
      }
      if (trackWrites) wl.outputDir(op).foreach { d =>
        val (b0, f0) = before.getOrElse((0L, 0L))
        val (b1, f1) = Workload.treeSize(d)
        written(op) = (b1 - b0, f1 - f0)
      }
      index += 1
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    Phase((0 until index).map(Workload.id(pass, _)), lat.toMap, done.toMap, errors.toMap, wallMs, retainedHeapMb(), written.toMap)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val traceOut = Paths.get(need("trace-out")).toAbsolutePath
    require(seconds >= 1, "--seconds must be at least 1")
    if (!Workload.Names.contains(workload)) {
      System.err.println(s"unknown workload '$workload' (${Workload.Names.mkString(", ")})")
      sys.exit(2)
    }

    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = Graft.session(master = s"local[$nproc]", shufflePartitions = nproc)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val wl = Workload(workload, Ctx(spark, seed, work))
      val s0 = System.nanoTime()
      wl.setup()
      val w0 = System.nanoTime()
      wl.warmUp()
      val setupS = (System.nanoTime() - t0) / 1e9
      val (dataS, warmUpS) = ((w0 - s0) / 1e9, (System.nanoTime() - w0) / 1e9)

      println(s"workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}")
      println(s"environment: nproc=$nproc heap_max_mb=${Runtime.getRuntime.maxMemory / 1000000} " +
        s"jdk=${System.getProperty("java.version")} spark=${spark.version} master=local[$nproc] " +
        s"shuffle_partitions=$nproc client_threads=1")
      println("shape: " + wl.describe.map { case (k, v) => s"$k=$v" }.mkString(" "))
      println(f"setup: session_s=$sessionS%.3f data_s=$dataS%.3f warm_up_s=$warmUpS%.3f")

      // the probes warm the kernels' code, so they run before both passes
      val hostBefore = if (traced) Some((Probes.alu(1), Probes.alu(nproc))) else None
      val core = if (traced) Probes.core(seed) else Nil
      val untraced = measure(wl, new Recorder(spark, traced = false), pass = 0, trackWrites = false) {
        (_, elapsedS) => elapsedS < seconds
      }
      def replay(pass: Int) =
        measure(wl, new Recorder(spark, traced = false), pass, trackWrites = false)((index, _) =>
          index < untraced.ops.size)
      val before = if (traced) Some(replay(1)) else None
      val tracedRun = if (!traced) None else Some {
        val tracer = new Tracer
        val rec = new Recorder(spark, traced = true)
        val gc0 = gcMs()
        Tracer.register(spark, tracer)
        val ph = try measure(wl, rec, pass = 2, trackWrites = true)((index, _) => index < untraced.ops.size)
        finally Tracer.unregister(spark, tracer)
        (ph, new Tracer.Assembled(rec.spans.toSeq, tracer), gcMs() - gc0)
      }
      val after = if (traced) Some(replay(3)) else None
      val hostAfter = if (traced) Some((Probes.alu(1), Probes.alu(nproc))) else None

      val phases = Seq(Some(untraced), before, tracedRun.map(_._1), after).flatten
      val checked = phases.flatMap(_.ok)
      // a kernel that moved off its pins fails every output checked against it
      val anchorProblems = Anchors.check(spark, engineToo = workload != "serve")
      val wrong = wl.check(checked)
      val mismatches =
        if (anchorProblems.isEmpty) wrong else checked.map(op => op -> (wrong.getOrElse(op, Nil) ++ anchorProblems)).toMap
      val attempted = phases.map(_.ops.size).sum
      val failedOps = phases.flatMap(_.errors.keys).toSet ++ mismatches.keySet
      (phases.flatMap(_.errors.toSeq) ++ mismatches.toSeq.map { case (op, ps) => op -> ps.mkString("; ") })
        .sortBy(_._1).take(10).foreach { case (op, msg) => println(s"FAILED op $op: $msg") }

      val e2e = untraced.endToEnd
      println(f"run: item='${wl.item}' ops=${untraced.ops.size} ok=${untraced.ok.size} " +
        f"loop_wall_s=${untraced.wallMs / 1e3}%.3f op_wall_s=${untraced.opWallS}%.3f " +
        f"tail=p${e2e("tail_percentile")}%.1f over ${e2e("samples").toInt} samples " +
        s"op_ms=${untraced.ok.map(op => f"${untraced.latMs(op)}%.0f").mkString(",")}")
      println(f"failed_frac=${failedOps.size.toDouble / math.max(1, attempted)}%.6f ($attempted attempted, ${failedOps.size} failed)")

      val metrics: Seq[(String, Double, String)] = tracedRun match {
        case None =>
          EndToEnd.map { case (n, u) => (n, if (n == "setup_s") setupS else e2e(n), u) }
        case Some((ph, trace, gc)) =>
          val layers = Layers.compute(wl, workload, nproc, ph, trace, gc, core, hostBefore.get, hostAfter.get,
            overhead(before.get, ph, after.get))
          Files.createDirectories(traceOut)
          val file = traceOut.resolve(s"trace-$workload-seed$seed.jsonl")
          Files.writeString(file, trace.toJson(workload))
          println(s"trace: ${trace.spans.size} client spans, ${trace.jobs.size} jobs, ${trace.stages.size} stages " +
            s"written to $file")
          println("self time per op (ms): " + trace.selfUs.map { case (k, v) =>
            f"$k=${v / 1e3 / math.max(1, trace.ops.size)}%.3f" }.mkString(" "))
          Layers.notApplicable(workload).foreach(n => println(s"n/a on $workload: $n (reported as 0)"))
          Layers.Declared.map { case (n, u) => (n, layers(n), u) }
      }
      println(Stats.resultLine(failedOps.isEmpty, attempted, failedOps.size, metrics))
    } finally spark.stop()
  }
}
