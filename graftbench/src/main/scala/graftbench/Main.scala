package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.Graft
import graft.mtail.{Frontend, LogLines, Snapshot}
import graft.plan.PlanBuilder
import graft.streaming.{Exporters, MetricsStore}

/** One benchmark run of one workload in this JVM:
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Prints progress records and, last, one JSON result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val run = new Run(Workloads.byName(need("workload")),
      need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")))
    val line = run.execute()
    println(line)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is complete
    System.exit(0)
  }
}

final class Run(wl: Workload, seed: Long, seconds: Double, traced: Boolean,
    work: Path) {

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tailSeed = seed * 31 + 7
  private val year = java.time.Year.now.getValue

  private var attempted = 0L
  private var failed = 0L
  /** one checked operation; a failure is logged and counted */
  private def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[graftbench] FAILED: $what")
    }
  }

  /** n operations of which `bad` failed */
  private def ops(n: Int, bad: Int, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) System.err.println(s"[graftbench] FAILED: $bad $what")
  }

  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()

  private def log(s: String): Unit = System.err.println(
    f"[graftbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs] $s")

  private def session(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the default 100-entry generated-class cache thrashes on engine
      // plans (one query is ~130 codegen units)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()

  // ---- measured-leg accounting: wall, process CPU, steal, lines ----
  private var legWallNs = 0L
  private var legCpuNs = 0L
  private var legStealTicks = 0L
  private val legSpark = mutable.HashMap[String, Double]()
  private var legLines = 0L
  private var counters: SparkCounters = _

  private def steal(): Long = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toLong
    finally f.close()
  }

  private def measured[A](body: => A): A = {
    val (w, c, s, sp) = (System.nanoTime(), os.getProcessCpuTime, steal(),
      counters.totals)
    try body
    finally {
      legWallNs += System.nanoTime() - w
      legCpuNs += os.getProcessCpuTime - c
      legStealTicks += steal() - s
      counters.totals.foreach { case (k, v) =>
        legSpark(k) = legSpark.getOrElse(k, 0.0) + v - sp(k) }
    }
  }

  def execute(): String = {
    Files.createDirectories(work)
    // ---- inputs and their expected store (outside the set-up time) ----
    val g0 = System.nanoTime()
    val oneShotPaths = writeOneShotInput()
    val tailFile = work.resolve("tail.log")
    val tailSrc = work.resolve("tail-source.log")
    val openChunks = math.max(1,
      ((1 - wl.oneShotShare) * seconds * 1000 / Workloads.ChunkMs).toInt)
    val linesPerChunk = wl.offeredLps * Workloads.ChunkMs / 1000
    val tailLines = Workloads.WarmLines + openChunks * linesPerChunk +
      Workloads.Drains * Workloads.BacklogLines
    val ends = writeTailSource(tailSrc, tailLines)
    var oneShotWant =
      if (wl.oneShotLines > 0) wl.expected(seed, wl.oneShotLines) else null
    val genS = (System.nanoTime() - g0) / 1e9

    val spark = session(Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("ERROR")
    counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(s"${wl.name}-$seed-${ProcessHandle.current.pid}",
      traced, () => counters.totals)
    val streamCounters = new StreamCounters(endOffset =>
      tailLagBytes(endOffset, tailFile))
    if (traced) spark.streams.addListener(streamCounters)

    def setupDone(): Unit = {
      val s = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
      e2e("setup_s") = (s, "s")
      log(f"setup_s=$s%.3f (inputs generated in $genS%.3f s, excluded)")
    }

    // per-layer: compile time of the program (median of a few parses)
    val compileMs = (1 to 5).map { _ =>
      val t = System.nanoTime()
      tracer.span("mtail.compile")(Frontend.parse(wl.program, wl.programName))
      (System.nanoTime() - t) / 1e6
    }

    // The tail legs run before the timed one-shot passes on every
    // workload: their micro-batches plan and run the same program dozens
    // of times, which warms the JIT on graft's planning path, so the
    // timed passes start closer to steady state.
    val isTailWorkload = wl.oneShotLines == 0
    var oneShotCells = 0L
    if (!isTailWorkload) {
      // the first result a one-shot user gets is the collected store;
      // it is checked against the fold and then dropped
      val cells = tracer.span("oneshot.cold_pass")(Snapshot.collect(
        Graft.oneShot(spark, wl.program, wl.programName, oneShotPaths)))
      setupDone()
      val miss = Gen.mismatches(oneShotWant, cells)
      op(miss.isEmpty, "one-shot vs fold: " + miss.mkString("; "))
      oneShotWant = null
      oneShotCells = cells.size
    }
    val tail = new TailRun(spark, wl, tailFile, tailSrc, ends)
    warmTail(tail)
    if (isTailWorkload) setupDone()
    val tailCpu = tailLegs(tail, tracer, openChunks, linesPerChunk)
    e2e("heap_retained_mb") = (retainedHeapMb(), "MB")

    // ---- correctness of the tail: counter, fold, one-shot equality ----
    log("legs done")
    val store = tail.handle.runner.store.snapshot()
    op(tail.linesTotal == tail.appended,
      s"line counter ${tail.linesTotal} != lines appended ${tail.appended}")
    val tailMiss = Gen.mismatches(wl.expected(tailSeed, tail.appended), store)
    op(tailMiss.isEmpty, "tail store vs fold: " + tailMiss.mkString("; "))
    if (traced) streamingLayers(spark, tracer, tail, store, tailSrc, ends)
    tail.close()
    log("tail checked and stopped")

    val (oneShotInput, oneShotLines) =
      if (!isTailWorkload) (oneShotPaths, wl.oneShotLines.toLong)
      else {
        val ref = tracer.span("oneshot.reference_pass")(Snapshot.collect(
          Graft.oneShot(spark, wl.program, wl.programName,
            Seq(tailFile.toString))))
        val d = Gen.storeMismatches(ref, store)
        op(d.isEmpty, "tail store vs Graft.oneShot: " + d.mkString("; "))
        oneShotCells = ref.size
        (Seq(tailFile.toString), tail.appended.toLong)
      }
    // on tail_scrape the reference pass has already run the job once
    val oneShot = oneShotLeg(spark, tracer, oneShotInput, oneShotLines,
      oneShotCells, wl.oneShotShare * seconds,
      Workloads.WarmPasses - (if (isTailWorkload) 1 else 0))
    e2e("oneshot_klines_per_s") = (oneShot._1, "klines/s")
    // per line of the workload's own measured leg: the one-shot passes,
    // or on tail_scrape the open-loop and drain legs
    e2e("cpu_us_per_line") =
      (if (isTailWorkload) tailCpu else oneShot._2, "us/line")

    val record = s"""{"record":{"workload":"${wl.name}","seed":$seed,""" +
      s""""measured_wall_s":${Json.num(legWallNs / 1e9)},""" +
      s""""proc_cpu_s":${Json.num(legCpuNs / 1e9)},""" +
      s""""executor_cpu_s":${Json.num(legSpark("spark.executor_cpu_s"))},""" +
      s""""steal_s":${Json.num(legStealTicks / 100.0)},""" +
      s""""lines":$legLines,"attempted":$attempted,"failed":$failed}}"""
    println(record)
    log("done")

    if (traced) {
      layer("mtail.compile_ms") = (Stats.median(compileMs), "ms")
      layer("host.steal_s") = (legStealTicks / 100.0, "s")
      layer("host.proc_cpu_s") = (legCpuNs / 1e9, "s")
      legSpark.foreach { case (k, v) => layer(k) = (v, unitOf(k)) }
      streamCounters.metrics.foreach { case (k, v) =>
        layer(k) = (v, unitOf(k)) }
      layer("ops_failed_share") = (failed.toDouble / attempted, "ratio")
      scalingBaseline(spark, oneShotInput, oneShotLines, oneShot._1)
      writeTrace(tracer)
    } else spark.stop()

    val metrics = (if (traced) layer else e2e).map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$metrics}}"""
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms") || k.contains("_ms_")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_bytes_max")) "bytes"
    else "count"

  // ---- inputs ----

  private def writeOneShotInput(): Seq[String] =
    if (wl.oneShotLines == 0) Nil
    else {
      // consecutive slices of one sequence, so the fold over its first
      // oneShotLines lines is the expectation for all files together
      val it = wl.lines(seed)
      val files = Workloads.OneShotFiles
      val per = wl.oneShotLines / files
      (0 until files).map { i =>
        val p = work.resolve(s"input-$i.log")
        val n = if (i == files - 1)
          wl.oneShotLines - per * (files - 1) else per
        Gen.writeLines(p, Iterator.fill(n)(it.next()))
        p.toString
      }
    }

  private def writeTailSource(p: Path, n: Int): Array[Long] = {
    val ends = new Array[Long](n)
    val it = wl.lines(tailSeed)
    var off = 0L
    var i = 0
    Gen.writeLines(p, Iterator.continually {
      val l = it.next()
      off += l.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 1
      ends(i) = off
      i += 1
      l
    }.take(n))
    ends
  }

  /** bytes of the tail file the query's committed offset is behind */
  private def tailLagBytes(endOffset: String, tailFile: Path): Long = {
    val m = """"pos":(\d+)""".r.findFirstMatchIn(Option(endOffset)
      .getOrElse(""))
    val pos = m.map(_.group(1).toLong).getOrElse(0L)
    math.max(0L, Files.size(tailFile) - pos)
  }

  // ---- legs ----

  /** Warm `Graft.oneShot(...).count()` passes until `secs` have passed
    * (at least three), after `warmPasses` untimed ones. Returns
    * klines/s from the median wall time of the untraced passes and
    * process CPU µs/line from their median CPU time: both describe the
    * same passes, so host contention (wall up, CPU flat) can be told
    * from a regression (both up). Traced, every other pass runs inside a
    * span, for the tracing overhead, beside a per-layer decomposition.
    */
  private def oneShotLeg(spark: SparkSession, tracer: Tracer,
      paths: Seq[String], lines: Long, cells: Long, secs: Double,
      warmPasses: Int): (Double, Double) = {
    val plain = mutable.ArrayBuffer[Double]()
    val plainCpu = mutable.ArrayBuffer[Double]()
    val spanned = mutable.ArrayBuffer[Double]()
    def pass(inSpan: Boolean): Unit = {
      val t = System.nanoTime()
      val c = os.getProcessCpuTime
      val n = measured {
        if (inSpan) tracer.span("oneshot.pass")(Graft.oneShot(spark,
          wl.program, wl.programName, paths).count())
        else Graft.oneShot(spark, wl.program, wl.programName, paths).count()
      }
      legLines += lines
      val s = (System.nanoTime() - t) / 1e9
      if (inSpan) spanned += s
      else {
        plain += s
        plainCpu += (os.getProcessCpuTime - c) / 1e9
      }
      op(n == cells, s"one-shot pass returned $n cells, expected $cells")
    }
    // the first passes after the tail legs still JIT-compile graft's
    // planning path, at seconds of compiler-thread CPU a pass, and take
    // up to 1.7x the wall and CPU time of the timed passes
    def warm(): Long = {
      val ws = (1 to warmPasses).map(_ => timed(
        Graft.oneShot(spark, wl.program, wl.programName, paths).count())._1)
      log(f"warm-up passes ${ws.map(s => f"$s%.3f").mkString(" ")} s")
      System.nanoTime() + (secs * 1e9).toLong
    }
    if (!traced) {
      val end = warm()
      while (plain.size < 3 || System.nanoTime() < end) pass(false)
    } else {
      // untraced and traced passes alternate, and so does which of a
      // pair goes first, so both see the same JIT and cache warmth; the
      // layer split runs once either side
      decompose(spark, tracer, paths)
      val end = warm()
      while (spanned.size < 2 || System.nanoTime() < end) {
        val tracedFirst = spanned.size % 2 == 1
        pass(tracedFirst)
        pass(!tracedFirst)
      }
      decompose(spark, tracer, paths)
      layer("trace.overhead_share") =
        (Stats.median(spanned.toSeq) / Stats.median(plain.toSeq) - 1, "ratio")
    }
    log(f"one-shot passes ${plain.map(s => f"$s%.3f").mkString(" ")} s, " +
      f"CPU ${plainCpu.map(s => f"$s%.2f").mkString(" ")} s ($lines lines)")
    (lines / 1e3 / Stats.median(plain.toSeq),
      Stats.median(plainCpu.toSeq) * 1e6 / lines)
  }

  /** One-shot pass split at the layer boundaries (traced runs only):
    * scan, plan build, extraction, Catalyst, snapshot. The second call
    * overwrites the first, so the reported figures are warm.
    */
  private def decompose(spark: SparkSession, tracer: Tracer,
      paths: Seq[String]): Unit = tracer.span("oneshot.layers") {
    val prog = Frontend.parse(wl.program, wl.programName)
    val bytes = paths.map(p => Files.size(Paths.get(p))).sum
    val (scanS, _) = timed(tracer.span("sources.scan")(
      LogLines.batch(spark, paths: _*).count()))
    val (buildS, pb) = timed(tracer.span("plan.build")(
      new PlanBuilder(prog, LogLines.batch(spark, paths: _*), year)))
    val (extractS, _) = timed(tracer.span("plan.extract")(
      pb.materializeExtraction()))
    try {
      val snap = pb.snapshot()
      val (catalystS, plan) = timed(tracer.span("plan.catalyst")(
        snap.queryExecution.executedPlan))
      val (snapshotS, cells) = timed(tracer.span("plan.snapshot")(
        Snapshot.collect(snap)))
      // counted on the executed plan: AQE fixes exchanges as it runs
      val nodes = planNodes(plan)
      layer("sources.scan_s") = (scanS, "s")
      layer("sources.scan_mb_per_s") = (bytes / 1048576.0 / scanS, "MB/s")
      layer("plan.build_ms") = (buildS * 1e3, "ms")
      layer("plan.extract_s") = (extractS, "s")
      layer("functions.extract_self_s") = (extractS - scanS, "s")
      layer("plan.catalyst_ms") = (catalystS * 1e3, "ms")
      layer("plan.exchanges") =
        (nodes.count(_.isInstanceOf[Exchange]).toDouble, "count")
      layer("plan.branches") = (nodes.collect {
        case u: UnionExec => u.children.size }.sum.toDouble, "count")
      layer("plan.snapshot_s") = (snapshotS, "s")
      layer("plan.cells") = (cells.size.toDouble, "count")
    } finally pb.unpersistExtraction()
  }

  /** every node of a physical plan, through adaptive wrappers and query
    * stages; after execution an adaptive plan holds its final form, with
    * the exchanges AQE planned */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(planNodes)
  }

  private def timed[A](body: => A): (Double, A) = {
    val t = System.nanoTime()
    val r = body
    ((System.nanoTime() - t) / 1e9, r)
  }

  private def warmTail(t: TailRun): Unit = {
    log("tail started")
    t.append(Workloads.WarmLines)
    op(t.awaitLines(t.appended, 60000).isDefined,
      "tail never absorbed its first batch")
    log("tail warm")
  }

  /** open-loop leg (appender + scraper), then the backlog drain;
    * returns their process CPU µs per line appended */
  private def tailLegs(t: TailRun, tracer: Tracer, chunks: Int,
      linesPerChunk: Int): Double = {
    val ol = new OpenLoop(t, linesPerChunk, chunks)
    val before = t.appended
    val cpu0 = os.getProcessCpuTime
    measured(tracer.span("tail.open_loop")(ol.run()))
    legLines += t.appended - before
    ops(chunks, ol.chunksMissed, "chunk(s) not absorbed within " +
      s"${Workloads.ChunkDeadlineMs} ms")
    ops(ol.scrapeLatMs.size + ol.scrapesFailed, ol.scrapesFailed,
      "scrape(s) failed")
    val fresh = ol.freshMs
    val scrapes = ol.scrapeLatMs.toSeq
    log(s"open loop: ${fresh.size} chunks, ${scrapes.size} scrapes " +
      s"(${ol.scrapeBytes / 1024} KiB each)")
    if (fresh.nonEmpty) {
      e2e("fresh_p50_ms") = (Stats.percentile(fresh, 50), "ms")
      e2e("fresh_p99_ms") = (Stats.percentile(fresh, 99), "ms")
    }
    if (scrapes.nonEmpty) {
      e2e("scrape_p50_ms") = (Stats.percentile(scrapes, 50), "ms")
      // a run gives fewer than the 1000 samples a p99 needs, so the tail
      // is the p90; on tail_scrape it moves with CPU steal by more than
      // the end-to-end bound, so it is a per-layer figure
      layer("scrape_p90_ms") = (Stats.percentile(scrapes, 90), "ms")
    }
    layer("gen.late_ms_p99") = (Stats.percentile(ol.lateMs, 99), "ms")
    layer("gen.scrapes_failed") = (ol.scrapesFailed.toDouble, "count")
    layer("streaming.render_kb") = (ol.scrapeBytes / 1024.0, "KB")

    // the same backlog several times over: the median drain rate is
    // steadier than one sample, whose batch boundaries fall at random
    val backlog = Workloads.BacklogLines
    val rates = (1 to Workloads.Drains).flatMap { _ =>
      val drained = measured(tracer.span("tail.drain") {
        val t0 = System.nanoTime()
        t.append(backlog)
        t.awaitLines(t.appended, 60000).map(_ - t0)
      })
      legLines += backlog
      op(drained.isDefined, "backlog not absorbed within 60 s")
      drained.map(ns => backlog / 1e3 / (ns / 1e9))
    }
    if (rates.nonEmpty)
      e2e("tail_drain_klines_per_s") = (Stats.median(rates), "klines/s")
    (os.getProcessCpuTime - cpu0) / 1e3 / (t.appended - before)
  }

  /** least used heap over a few forced collections: Spark's cleaner
    * frees unreferenced blocks and broadcasts only after a GC has
    * cleared their weak references, so one collection can still count
    * them */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** store-side layers of the tail, traced runs only */
  private def streamingLayers(spark: SparkSession, tracer: Tracer,
      t: TailRun, store: Seq[Snapshot.Cell], tailSrc: Path,
      ends: Array[Long]): Unit = {
    val state = tracer.span("streaming.state_count")(
      t.handle.runner.carriedStateForTest.values.map(_.count()).sum)
    layer("streaming.state_rows") = (state.toDouble, "count")
    layer("streaming.store_cells") = (store.size.toDouble, "count")
    // one micro-batch's cells: the program over a batch-sized slice
    val perBatch = math.max(1, (wl.offeredLps.toLong * Workloads.TriggerMs /
      1000).toInt)
    val slice = work.resolve("batch-slice.log")
    Files.write(slice, java.util.Arrays.copyOf(Files.readAllBytes(tailSrc),
      ends(perBatch - 1).toInt))
    val batchCells = Snapshot.collect(Graft.oneShot(spark, wl.program,
      wl.programName, Seq(slice.toString)))
    val concat = Frontend.parse(wl.program, wl.programName).concatTextMetrics
    val mergeMs = (1 to 7).map { _ =>
      val s = new MetricsStore
      s.merge(store, concat)
      val (secs, _) = timed(tracer.span("streaming.merge")(
        s.merge(batchCells, concat)))
      secs * 1e3
    }
    layer("streaming.merge_ms") = (Stats.median(mergeMs), "ms")
    val renderMs = (1 to 7).map { _ =>
      val (secs, _) = timed(tracer.span("streaming.render")(
        Exporters.prometheus(t.handle.runner.store.snapshot(),
          wl.programName)))
      secs * 1e3
    }
    layer("streaming.render_ms") = (Stats.median(renderMs), "ms")
  }

  /** the same one-shot job on one core: the single-threaded baseline
    * (traced runs only; never part of the end-to-end numbers) */
  private def scalingBaseline(spark: SparkSession, paths: Seq[String],
      lines: Long, rate: Double): Unit = {
    spark.stop()
    val one = session(1)
    one.sparkContext.setLogLevel("ERROR")
    // the first job on a new context pays its start-up, so one untimed
    // pass goes first and the rate is the median of three after it
    def pass(): Double = timed(
      Graft.oneShot(one, wl.program, wl.programName, paths).count())._1
    pass()
    val r1 = lines / 1e3 / Stats.median((1 to 3).map(_ => pass()))
    layer("baseline.local1_klines_per_s") = (r1, "klines/s")
    layer("baseline.scaling_ratio") = (rate / r1, "ratio")
    one.stop()
  }

  private def writeTrace(tracer: Tracer): Unit = {
    val dir = work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${wl.name}-seed$seed.jsonl")
    Files.write(f, tracer.jsonLines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    log(s"trace: ${tracer.all.size} spans in $f")
  }
}
