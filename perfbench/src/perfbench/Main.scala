package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.engine.{Engine, SessionCaches}
import graft.tools.CodegenWatch

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** Flat `{"key": "value", ...}` object, the golden file format. */
  def readFlat(text: String): Map[String, String] =
    """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = quartiles(xs)._2

  /** (q1, median, q3), Python `statistics.quantiles(n=4)` (exclusive). */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 0) (0.0, 0.0, 0.0)
    else if (n == 1) (s(0), s(0), s(0))
    else {
      def q(p: Double): Double = {
        val m = (n + 1) * p
        val j = math.min(math.max(m.floor.toInt, 1), n - 1)
        val d = m - m.floor
        if (m < 1) s(0) else if (m >= n) s(n - 1)
        else s(j - 1) + (s(j) - s(j - 1)) * d
      }
      (q(0.25), if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2,
        q(0.75))
    }
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples above
    * it, else the maximum. */
  def highPercentile(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10)
      .map(p => s(math.ceil(s.size * p / 100.0).toInt - 1))
      .getOrElse(s.lastOption.getOrElse(0.0))
  }
}

/** Host contention counters from procfs (zeros where it is absent). */
object Host {
  def stat(): (Long, Long) = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (xs.take(8).sum, if (xs.length > 7) xs(7) else 0L)
    } finally f.close()
  }.getOrElse((0L, 0L))

  /** CPU time of the JIT compiler threads (they live for the whole run
    * under -XX:-UseDynamicNumberOfCompilerThreads), in ns. */
  def jitNs(): Long = scala.util.Try {
    Option(new File("/proc/self/task").listFiles).toSeq.flatten.map { t =>
      val comm = scala.util.Try(
        java.nio.file.Files.readString(new File(t, "comm").toPath)).getOrElse("")
      if (!comm.contains("CompilerThre")) 0L
      else {
        val st = java.nio.file.Files.readString(new File(t, "stat").toPath)
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        (f(11).toLong + f(12).toLong) * 10000000L // USER_HZ = 100
      }
    }.sum
  }.getOrElse(0L)

  /** Waits until the JIT compilers have gone quiet (under a tenth of a
    * core over the last second) or `maxS` has passed; returns seconds
    * waited. Compilation queued by the warm-up pass would otherwise compete
    * with the measured pass for the cores. */
  def settleJit(maxS: Double): Double = {
    val t0 = System.nanoTime()
    var last = jitNs()
    var quiet = false
    while (!quiet && (System.nanoTime() - t0) / 1e9 < maxS) {
      Thread.sleep(1000)
      val now = jitNs()
      quiet = now - last < 100000000L
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg(): Double = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.getLines().next().split(" ")(0).toDouble finally f.close()
  }.getOrElse(0.0)
}

/** Peak heap in use right after a collection, over the heap pools. */
final class HeapWatch extends NotificationListener {
  @volatile var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }
  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo
        .GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
      if (used > peak) peak = used
    }
  /** Collects, then returns the pass peak (including the live set now). */
  def endPass(): Long = {
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peak, now)
  }
}

/** The measured record of one pass. */
final case class Pass(traced: Boolean, wallS: Double, cpuS: Double,
                      jitS: Double,
                      heapMb: Double, ops: Seq[Op],
                      outs: Map[String, String], wrong: Seq[String],
                      writeAmp: Double, outFiles: Long, outBytes: Long,
                      pinnedRdds: Int, searchS: Seq[Double],
                      layer: Map[String, Double])

/** The benchmark harness. Usage:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <checkout> [--setups <n>] [--regen-golden]
  * }}}
  * The last stdout line is the result object; the line before it holds the
  * full report (quartiles, sample counts, the zero-valued figures). */
object Main {
  final case class Opts(workload: String = "", seed: Long = 42,
                        seconds: Int = 10, trace: Boolean = false,
                        root: String = ".", setups: Int = 3,
                        regen: Boolean = false)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--root" :: v :: t => parse(t, o.copy(root = v))
    case "--setups" :: v :: t => parse(t, o.copy(setups = v.toInt))
    case "--regen-golden" :: t => parse(t, o.copy(regen = true))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  val JobNames: Seq[String] = Seq("IngestJob", "CurationJob",
    "StreamIngestJob", "IncrementalDedupJob", "AnnIndexJob")

  /** Gated end-to-end metrics. `pass_s` is reported, not gated: on a
    * shared 4-core host its spread over single-pass runs exceeds any bound
    * worth setting. */
  val EndToEnd: Seq[(String, String)] = Seq("cpu_s" -> "s",
    "heap_peak_mb" -> "MB", "setup_s" -> "s")

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    Layers.All.flatMap(l => Seq(s"$l.spark_jobs" -> "count",
      s"$l.task_cpu_s" -> "s", s"$l.shuffle_write_mb" -> "MB",
      s"$l.spill_mb" -> "MB")) ++ Seq(
      "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
      "spark.gc_s" -> "s", "spark.task_wait_s" -> "s",
      "spark.stage_skew" -> "ratio", "spark.core_busy_frac" -> "frac",
      "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
      "sources.scan_mb" -> "MB", "sources.scan_rows" -> "count",
      "sinks.write_s" -> "s", "sinks.bytes_written" -> "bytes",
      "sinks.files_written" -> "count", "sinks.rows_written" -> "count",
      "engine.materialize_jobs" -> "count", "engine.probe_jobs" -> "count",
      "engine.cache_hits" -> "count", "engine.cache_fills" -> "count",
      "engine.pinned_rdds" -> "count",
      "expressions.codegen_failures" -> "count",
      "streaming.batches" -> "count", "streaming.batch_s" -> "s",
      "streaming.rows_in" -> "count",
      "ext.similarity.search_s" -> "s", "ext.similarity.search_s_high" -> "s",
      "ext.similarity.recall_at_10" -> "frac",
      "ext.dedup.removed_frac" -> "frac") ++
      JobNames.map(j => s"jobs.$j.wall_s" -> "s") ++ Seq(
      "host.steal_frac" -> "frac", "host.loadavg" -> "load",
      "trace.overhead_frac" -> "frac", "trace.span_coverage" -> "frac")

  private val MB = 1024.0 * 1024.0
  /** Measured passes per run at least; a traced run alternates untraced
    * and traced passes, so it makes at least one of each. */
  def minPasses(traced: Boolean): Int = if (traced) 2 else 1
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args.toList)); 0 }
      catch {
        case e: Throwable =>
          System.err.println("perfbench: " + e)
          e.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }

  private def run(o: Opts): Unit = {
    val wl = Workload(o.workload)
    val root = new File(o.root).getCanonicalPath
    val work = s"$root/.bench_work/${o.workload}-${o.seed}"
    val outDir = s"$root/.bench_out"
    val goldenPath = s"$root/perfbench/golden/${o.workload}.json"
    Gen.rm(work)
    new File(outDir).mkdirs()
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    val layers = new Layers(s"$root/src/main/scala")
    val heap = new HeapWatch
    val (cpuTicks0, steal0) = Host.stat()
    if (o.trace) CodegenWatch.install()

    var spark: SparkSession = null
    var spans: Spans = null
    var in = ""
    var inputBytes = 1L
    var golden = Map.empty[String, String]
    var passNo = 0
    val passes = mutable.ArrayBuffer.empty[Pass]

    def onePass(traced: Boolean, listener: Option[(LayerListener,
        StreamListener)]): Pass = {
      val runDir = s"$work/run"
      Gen.rm(runDir)
      new File(runDir).mkdirs()
      val ctx = Ctx(spark, spans, in, runDir)
      wl.prepare(ctx)
      val restored = Gen.du(runDir)
      val sc = spark.sparkContext
      System.gc()
      heap.peak = 0
      listener.foreach { case (l, s) =>
        l.reset(); s.reset()
        sc.addSparkListener(l); spark.streams.addListener(s)
      }
      spans.enabled = traced
      spans.pass = passNo
      passNo += 1
      val (h0, f0, cg0) = (SessionCaches.hits, SessionCaches.fills,
        CodegenWatch.count.get())
      val (cpu0, jit0) = (cpuNs(), Host.jitNs())
      val t0 = System.nanoTime()
      val ops = spans("pass", "pass")(wl.pass(ctx))
      val wall = (System.nanoTime() - t0) / 1e9
      val jit = (Host.jitNs() - jit0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9 - jit
      spans.enabled = false
      val heapMb = heap.endPass() / MB
      val layerSnap = listener.map { case (l, s) =>
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(l); spark.streams.removeListener(s)
        (l, s)
      }
      val outs = wl.outputs(ctx) ++ ops.flatMap(op =>
        op.fps.map { case (k, v) => s"${op.name}/$k" -> v })
      def unit(k: String) = k.takeWhile(_ != '/')
      val wrong =
        if (o.regen) Nil
        else (golden.keySet ++ outs.keySet).groupBy(unit).collect {
          case (u, ks) if ks.exists(k => golden.get(k) != outs.get(k)) => u
        }.toSeq.sorted
      val outBytes = Gen.du(runDir)
      val outFiles = Gen.files(runDir)
      val pinned = sc.getPersistentRDDs.size
      val layer = layerSnap.map { case (l, s) =>
        // the pass span closes last; its direct children are the operations
        val p = spans.done.last
        val covered = spans.done.filter(_.parent == p.id).map(_.seconds).sum
        layerMetrics(l, s, wl, ops, outs, wall, cores, outFiles, pinned,
          SessionCaches.hits - h0, SessionCaches.fills - f0,
          CodegenWatch.count.get() - cg0) +
          ("trace.span_coverage" -> covered / p.seconds)
      }.getOrElse(Map.empty)
      val searchS = wl match {
        case w: Search => w.searchTimes
        case _ => Nil
      }
      Pass(traced, wall, cpu, jit, heapMb, ops, outs, wrong,
        (outBytes - restored).toDouble / inputBytes, outFiles, outBytes,
        pinned, searchS, layer)
    }

    /** A fresh session, as each task of the DAG gets its own. */
    def restart(): Unit = {
      if (spark != null) spark.stop()
      spark = Engine.session("perfbench", Some(s"local[$cores]"), cores)
      if (spans == null) spans = new Spans(spark.sparkContext)
      else spans.sc = spark.sparkContext
    }

    // ---- set-up, repeated: session start, inputs, golden
    val setupParts = (1 to (if (o.regen) 1 else o.setups)).map { i =>
      val t0 = System.nanoTime()
      restart()
      if (in.nonEmpty) Gen.rm(in)
      in = s"$work/in$i"
      wl.generate(spark, in, o.seed)
      inputBytes = math.max(1L, Gen.du(in))
      if (!o.regen) {
        val f = new File(goldenPath)
        require(f.isFile, s"no golden fingerprints at $goldenPath")
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try golden = Json.readFlat(src.mkString) finally src.close()
      }
      (System.nanoTime() - t0) / 1e9
    }
    // ---- one warm-up pass (JIT, class loading, code generation)
    val warm = onePass(traced = false, None)
    warm.ops.flatMap(op => op.error.map(op.name -> _)).foreach {
      case (n, e) => System.err.println(s"perfbench: warm-up $n failed: $e") }
    warm.wrong.foreach(u =>
      System.err.println(s"perfbench: warm-up output of $u differs"))
    val warmWrong = warm.wrong.size + warm.ops.count(_.error.isDefined)
    val settleS = Host.settleJit(10)
    val setupS = Stats.median(setupParts) + warm.wallS + settleS
    if (o.regen) {
      val w = new PrintWriter(new File(goldenPath), "UTF-8")
      try w.println(warm.outs.toSeq.sorted.map { case (k, v) =>
        s"  ${Json.str(k)}: ${Json.str(v)}" }.mkString("{\n", ",\n", "\n}"))
      finally w.close()
      System.err.println(s"perfbench: wrote $goldenPath")
      spark.stop(); Gen.rm(work); return
    }

    // ---- measured passes, closed loop, one client
    val listener =
      if (o.trace) Some((new LayerListener(layers, spans), new StreamListener))
      else None
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    while (System.nanoTime() < deadline || passes.size < minPasses(o.trace)) {
      val traced = o.trace && passes.size % 2 == 1
      restart()
      passes += onePass(traced, if (traced) listener else None)
    }
    val (cpuTicks1, steal1) = Host.stat()
    val load = Host.loadavg()
    spark.stop()

    // ---- report
    val plain = passes.filter(!_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val attempted = passes.map(_.ops.size).sum
    val failed = passes.map(_.ops.count(_.error.isDefined)).sum
    val wrong = passes.map(_.wrong.size).sum
    val correct = failed == 0 && wrong == 0 && warmWrong == 0
    def dist(xs: Seq[Double]): String = {
      val (q1, m, q3) = Stats.quartiles(xs)
      Json.obj(Seq("median" -> Json.num(m), "q1" -> Json.num(q1),
        "q3" -> Json.num(q3), "n" -> xs.size.toString))
    }
    val e2e = Map(
      "pass_s" -> plain.map(_.wallS), "cpu_s" -> plain.map(_.cpuS),
      "heap_peak_mb" -> plain.map(_.heapMb), "setup_s" -> Seq(setupS),
      "write_amp" -> plain.map(_.writeAmp))
    val stealFrac = (steal1 - steal0).toDouble /
      math.max(1L, cpuTicks1 - cpuTicks0)
    val layerMedians: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else PerLayer.map(_._1).map(k =>
        k -> Stats.median(traced.map(_.layer.getOrElse(k, 0.0)))).toMap ++
        searchStats(traced.flatMap(_.searchS)) ++ Map(
        "host.steal_frac" -> stealFrac, "host.loadavg" -> load,
        "trace.overhead_frac" -> (Stats.median(traced.map(_.wallS)) /
          math.max(1e-9, Stats.median(plain.map(_.wallS))) - 1.0),
        "trace.span_coverage" -> traced.map(_.layer("trace.span_coverage")).min)
    val report = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "cores" -> cores.toString,
      "passes" -> plain.size.toString, "traced_passes" -> traced.size.toString,
      "input_bytes" -> inputBytes.toString,
      "fail_frac" -> Json.num(failed.toDouble / math.max(1, attempted)),
      "wrong_outputs" -> wrong.toString,
      "wrong_units" -> passes.flatMap(_.wrong).distinct.map(Json.str)
        .mkString("[", ",", "]"),
      "errors" -> passes.flatMap(_.ops.flatMap(op => op.error.map(e =>
        s"${op.name}: $e"))).distinct.map(Json.str).mkString("[", ",", "]"),
      "pinned_rdds_after_pass" -> passes.map(_.pinnedRdds).mkString("[", ",", "]"),
      "output_bytes_after_pass" -> passes.map(_.outBytes).mkString("[", ",", "]"),
      "setup_parts_s" -> setupParts.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warm.wallS),
      "jit_settle_s" -> Json.num(settleS),
      "pass_s_each" -> plain.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "cpu_s_each" -> plain.map(p => Json.num(p.cpuS)).mkString("[", ",", "]"),
      "jit_cpu_s_each" -> plain.map(p => Json.num(p.jitS)).mkString("[", ",", "]"),
      "phase_s" -> Json.obj(plain.flatMap(p => p.ops.filter(_.name.contains('/'))
        .groupBy(_.name.takeWhile(_ != '/')).map { case (k, v) =>
          k -> v.map(_.wallS).sum }).groupBy(_._1).toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.num(Stats.median(v.map(_._2).toSeq)) }),
      "op_wall_s" -> Json.obj(plain.flatMap(_.ops).groupBy(_.name).toSeq
        .sortBy(_._1).map { case (n, xs) =>
          n -> Json.num(Stats.median(xs.map(_.wallS))) }),
      "host.steal_frac" -> Json.num(stealFrac),
      "host.loadavg" -> Json.num(load)) ++
      e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> dist(v) } ++
      layerMedians.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val tag = s"${o.workload}_${o.seed}_trace${if (o.trace) 1 else 0}"
    val rw = new PrintWriter(new File(s"$outDir/report_$tag.json"), "UTF-8")
    try rw.println(report) finally rw.close()
    if (o.trace) {
      val tw = new PrintWriter(new File(s"$outDir/spans_$tag.json"), "UTF-8")
      try tw.println(spans.toJson) finally tw.close()
    }
    Gen.rm(work)
    val metrics =
      if (o.trace) PerLayer.map { case (k, u) =>
        k -> Json.obj(Seq("value" -> Json.num(layerMedians.getOrElse(k, 0.0)),
          "unit" -> Json.str(u))) }
      else EndToEnd.map { case (k, u) =>
        k -> Json.obj(Seq("value" -> Json.num(Stats.median(e2e(k))),
          "unit" -> Json.str(u))) }
    println(report)
    println(Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics))))
  }

  /** Per-layer figures of one traced pass. */
  private def layerMetrics(l: LayerListener, s: StreamListener, wl: Workload,
                           ops: Seq[Op], outs: Map[String, String],
                           wall: Double, cores: Int, outFiles: Long, pinned: Int, hits: Long,
                           fills: Long, codegen: Int): Map[String, Double] = {
    val t = l.total
    val perLayer = Layers.All.flatMap { name =>
      val a = l.acc.getOrElse(name, new l.Acc)
      Seq(s"$name.spark_jobs" -> a.jobs.toDouble,
        s"$name.task_cpu_s" -> a.cpuNs / 1e9,
        s"$name.shuffle_write_mb" -> a.shuffleWrite / MB,
        s"$name.spill_mb" -> a.spill / MB)
    }
    val (dedupIn, dedupKept) = wl.dedupRows(outs)
    val recall = wl match {
      case w: Search => Seq("ext.similarity.recall_at_10" -> w.recall)
      case _ => Nil
    }
    val jobs = JobNames.map(j => s"jobs.$j.wall_s" ->
      ops.filter(_.job.contains(j)).map(_.wallS).sum)
    (perLayer ++ Seq(
      "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> l.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble, "spark.task_cpu_s" -> t.cpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3, "spark.task_wait_s" -> t.waitMs / 1e3,
      "spark.stage_skew" -> l.worstSkew,
      "spark.core_busy_frac" -> t.runMs / 1e3 / (wall * cores),
      "spark.shuffle_read_mb" -> t.shuffleRead / MB,
      "spark.shuffle_write_mb" -> t.shuffleWrite / MB,
      "sources.scan_mb" -> t.inBytes / MB,
      "sources.scan_rows" -> t.inRows.toDouble,
      "sinks.write_s" -> l.acc.get("sinks").map(_.jobWallMs / 1e3).getOrElse(0.0),
      "sinks.bytes_written" -> t.outBytes.toDouble,
      "sinks.files_written" -> outFiles.toDouble,
      "sinks.rows_written" -> t.outRows.toDouble,
      "engine.materialize_jobs" -> l.materializeJobs.toDouble,
      "engine.probe_jobs" -> l.probeJobs.toDouble,
      "engine.cache_hits" -> hits.toDouble,
      "engine.cache_fills" -> fills.toDouble,
      "engine.pinned_rdds" -> pinned.toDouble,
      "expressions.codegen_failures" -> codegen.toDouble,
      "streaming.batches" -> s.batches.toDouble,
      "streaming.batch_s" -> s.batchMs / 1e3,
      "streaming.rows_in" -> s.rowsIn.toDouble,
      "ext.dedup.removed_frac" ->
        (if (dedupIn == 0) 0.0 else (dedupIn - dedupKept).toDouble / dedupIn))
      ++ recall ++ jobs).toMap
  }

  /** Search latency per probe batch, pooled over the traced passes. */
  private def searchStats(xs: Seq[Double]): Map[String, Double] =
    if (xs.isEmpty) Map.empty
    else Map("ext.similarity.search_s" -> Stats.median(xs),
      "ext.similarity.search_s_high" -> Stats.highPercentile(xs))
}
