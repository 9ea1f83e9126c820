package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Maps a Spark job's short call site (e.g. `parquet at Sinks.scala:45`) to the repository module whose source file
  * fired it. The table is built from the program's source tree, so a file
  * that moves between modules moves with it. */
final class Layers(srcRoot: String) {
  private val byFile: Map[String, String] = {
    val root = new File(srcRoot)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      Layers.of(rel).map(f.getName -> _)
    }.toMap
  }
  private val CallSite = """at ([A-Za-z0-9_$]+\.scala):\d+""".r.unanchored

  def file(callSite: String): Option[String] = callSite match {
    case CallSite(f) => Some(f)
    case _ => None
  }
  def layer(callSite: String): Option[String] = file(callSite).flatMap(byFile.get)

  /** Layer of the innermost repository frame of a long-form call site. */
  def innermost(longForm: String): Option[String] =
    longForm.linesIterator.flatMap(l => """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r
      .findFirstMatchIn(l).flatMap(m => byFile.get(m.group(1)))).nextOption()
}

object Layers {
  /** Layers in report order; `spark` holds work no module fired. */
  val All: Seq[String] = Seq("queries", "jobs", "sources", "transform",
    "ext.dedup", "ext.text", "ext.similarity", "engine", "expressions",
    "sinks", "streaming")

  /** Module of a source file, by its path under `graft/`. */
  def of(rel: String): Option[String] = {
    val p = rel.stripPrefix("graft/")
    val name = p.split('/').last
    if (p == "Queries.scala") Some("queries")
    else if (p.startsWith("jobs/")) Some("jobs")
    else if (p.startsWith("sources/")) Some("sources")
    else if (p.startsWith("transform/")) Some("transform")
    else if (p.startsWith("expressions/")) Some("expressions")
    else if (p.startsWith("sinks/")) Some("sinks")
    else if (p.startsWith("streaming/")) Some("streaming")
    else if (Set("DedupOps.scala", "SketchOps.scala")(name) &&
      p.startsWith("ext/")) Some("ext.dedup")
    else if (p == "ext/TextOps.scala") Some("ext.text")
    else if (p == "ext/SimilarityOps.scala") Some("ext.similarity")
    else if (Set("Engine.scala", "GrainProbe.scala", "SessionCaches.scala")(
      name) && p.startsWith("engine/")) Some("engine")
    else None
  }
}

/** One timed region of the benchmark's own code. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
                      layer: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder: spans stay in memory until the run ends. While a span is
  * open its id rides on the driver thread's Spark local property
  * [[Spans.Key]], which Spark copies onto every job (and stream thread)
  * started inside it. Disabled, it only runs the body. */
final class Spans(var sc: SparkContext) {
  @volatile var enabled = false
  var pass = -1
  private var nextId = 0
  private var stack: List[Span] = Nil
  val done = mutable.ArrayBuffer.empty[Span]
  val layerOf = new ConcurrentHashMap[String, String]()

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val open = Span(nextId, stack.headOption.map(_.id).getOrElse(0), pass,
        name, layer, System.nanoTime(), 0L)
      layerOf.put(open.id.toString, layer)
      val prev = sc.getLocalProperty(Spans.Key)
      sc.setLocalProperty(Spans.Key, open.id.toString)
      stack = open :: stack
      try body
      finally {
        stack = stack.tail
        sc.setLocalProperty(Spans.Key, prev)
        done += open.copy(endNs = System.nanoTime())
      }
    }

  /** Seconds of `s` not covered by its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(_.seconds).sum
    s.seconds - kids
  }

  def toJson: String = done.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},""" +
      s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      f""""self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Spans {
  val Key = "perfbench.span"
}

/** Per-layer sums of Spark task metrics, keyed by the module that fired each
  * job: a repository source file in the job's call site wins, then the
  * innermost repository frame of the SQL execution the job belongs to
  * (adaptive execution submits query stages from its own threads), then
  * the layer of the benchmark span the job ran under, then `spark`. */
final class LayerListener(layers: Layers, spans: Spans) extends SparkListener {
  final class Acc {
    var jobs, tasks = 0L
    var cpuNs, runMs, gcMs, waitMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var inBytes, inRows, outBytes, outRows = 0L
    var jobWallMs = 0L
  }
  val acc = mutable.Map.empty[String, Acc]
  var stages = 0L
  var materializeJobs, probeJobs = 0L
  var worstSkew = 1.0
  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobLayer = mutable.Map.empty[Int, (String, Long)]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val execLayer = mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized {
        layers.layer(x.description).orElse(layers.innermost(x.details))
          .foreach(execLayer(x.executionId.toString) = _)
      }
    case _ =>
  }

  private def a(layer: String) = acc.getOrElseUpdate(layer, new Acc)

  def reset(): Unit = synchronized {
    acc.clear(); stages = 0; materializeJobs = 0; probeJobs = 0
    execLayer.clear()
    worstSkew = 1.0; stageTaskMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a stage's name is the short call site of the job that created it
    val cs = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val outer = prop("spark.sql.execution.id").flatMap(execLayer.get)
      .orElse(prop(Spans.Key).flatMap(id => Option(spans.layerOf.get(id))))
    def layerOf(site: String) =
      layers.layer(site).orElse(outer).getOrElse("spark")
    val layer = layerOf(cs)
    layers.file(cs) match {
      case Some("Engine.scala") => materializeJobs += 1
      case Some("GrainProbe.scala") => probeJobs += 1
      case _ =>
    }
    a(layer).jobs += 1
    jobLayer(e.jobId) = (layer, e.time)
    e.stageInfos.foreach(si => stageLayer(si.stageId) = layerOf(si.name))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobLayer.remove(e.jobId).foreach { case (l, t0) =>
      a(l).jobWallMs += e.time - t0 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      stageTaskMs.remove(e.stageInfo.stageId).foreach { ms =>
        if (ms.size >= 4) {
          val sorted = ms.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          worstSkew = math.max(worstSkew, sorted.last.toDouble / med)
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val x = a(stageLayer.getOrElse(e.stageId, "spark"))
      x.tasks += 1
      x.cpuNs += m.executorCpuTime
      x.runMs += m.executorRunTime
      x.gcMs += m.jvmGCTime
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.spill += m.diskBytesSpilled
      x.inBytes += m.inputMetrics.bytesRead
      x.inRows += m.inputMetrics.recordsRead
      x.outBytes += m.outputMetrics.bytesWritten
      x.outRows += m.outputMetrics.recordsWritten
      val info = e.taskInfo
      val getting = if (info.gettingResult) info.finishTime -
        info.gettingResultTime else 0L
      x.waitMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  def total: Acc = synchronized {
    val t = new Acc
    acc.values.foreach { x =>
      t.jobs += x.jobs; t.tasks += x.tasks; t.cpuNs += x.cpuNs
      t.runMs += x.runMs; t.gcMs += x.gcMs; t.waitMs += x.waitMs
      t.shuffleWrite += x.shuffleWrite; t.shuffleRead += x.shuffleRead
      t.spill += x.spill; t.inBytes += x.inBytes; t.inRows += x.inRows
      t.outBytes += x.outBytes; t.outRows += x.outRows
    }
    t
  }
}

/** Micro-batch counts from the structured-streaming progress events. */
final class StreamListener extends StreamingQueryListener {
  @volatile var batches, rowsIn, batchMs = 0L
  def reset(): Unit = { batches = 0; rowsIn = 0; batchMs = 0 }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      batches += 1
      rowsIn += p.numInputRows
      batchMs += Option(p.batchDuration).getOrElse(0L)
    }
  }
}
