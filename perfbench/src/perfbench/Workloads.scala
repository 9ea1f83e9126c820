package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.jobs._

/** One operation of a pass: what it ran, how long it took, whether it
  * threw, and the fingerprints of what it produced (filled in after the
  * timed region for file outputs). */
final case class Op(name: String, job: Option[String], wallS: Double,
                    error: Option[String], fps: Map[String, String])

/** A workload that ends with top-k probes against an ANN index. */
trait Search {
  /** Seconds of each probe batch of the last pass. */
  def searchTimes: Seq[Double]
  /** Mean share of each probe's exact top-k that the last pass found. */
  def recall: Double
}

/** What a pass needs from the harness. */
final case class Ctx(spark: SparkSession, spans: Spans, in: String,
                     run: String)

trait Workload {
  /** Writes every input under `dir` (content fixed, layout from `seed`). */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  /** Untimed: puts the state a pass starts from under the emptied `ctx.run`. */
  def prepare(ctx: Ctx): Unit = ()
  /** Runs one pass against `ctx.in`, writing only under `ctx.run`. */
  def pass(ctx: Ctx): Seq[Op]
  /** Fingerprints of the pass's file outputs, keyed `op/output`. */
  def outputs(ctx: Ctx): Map[String, String]
  /** Rows into and rows kept by the dedup jobs, from a pass's outputs. */
  def dedupRows(outs: Map[String, String]): (Long, Long)
}

object Workload {
  def apply(name: String): Workload = name match {
    case "sql_analytics" => new SqlAnalytics
    case "daily_dag" => new DailyDag
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (sql_analytics, daily_dag)")
  }

  /** Time `body`, catching what it throws. */
  def timed(name: String, job: Option[String], spans: Spans, layer: String)
           (body: => Map[String, String]): Op = {
    val t0 = System.nanoTime()
    val (err, fps) =
      try spans(name, layer)((None, body))
      catch {
        case e: Throwable =>
          (Some(e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).take(300)), Map.empty[String, String])
      }
    Op(name, job, (System.nanoTime() - t0) / 1e9, err, fps)
  }

  def fpParquet(spark: SparkSession, path: String): String =
    if (!new File(path).exists) "missing"
    else Fingerprint.of(spark.read.parquet(path))
}

/** `q*` entries of the query registry over a TPC-H-style star
  * schema plus an events table; each output forced through the all-column
  * hash fold. Read-only. */
final class SqlAnalytics extends Workload {
  /** Fixture scale: 0.01 is the size of the repository's sf0.01 fixtures
    * (60k lineitem rows); the pass costs the same at either. */
  val Scale = 0.005

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    Gen.relational(spark, dir, Scale, seed)

  /** One registry entry per operator family of the `q*` set: scan and
    * aggregate, multi-way join, window ranking, as-of join, JSON
    * extraction. Every query costs about half a second of
    * driver-side planning at any small scale, so the whole set of 36 would
    * not fit a pass. */
  val Queries = Seq("q1_pricing_summary", "q5_local_supplier",
    "q7_window_topn", "q_asof_join", "q_events_json")
  private val queries = Queries.map(q => q -> SparkEntry.queries(q))

  def pass(ctx: Ctx): Seq[Op] = queries.map { case (q, fn) =>
    Workload.timed(q, None, ctx.spans, "queries") {
      val df = ctx.spans(s"$q/build", "queries")(fn(ctx.spark, ctx.in))
      Map("out" -> ctx.spans(s"$q/force", "queries")(Fingerprint.of(df)))
    }
  }

  def outputs(ctx: Ctx): Map[String, String] = Map.empty
  def dedupRows(outs: Map[String, String]): (Long, Long) = (0L, 0L)
}

/** The daily DAG's batch data path through `run`, with the DAG's
  * arguments: ingest, then the composed curation job (quarantine →
  * language gate → repetition gate → exact and near-dup dedup →
  * decontamination → split), the DAG's one-task alternative to its
  * step-by-step dedupe → split → load chain, which does not fit a pass. */
final class CurationBatch extends Workload {
  val Docs = 1000

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    Gen.curationCorpus(spark, dir, Docs, seed)

  /** (job, run, args, outputs under the run dir) in DAG order. */
  private def steps(in: String, run: String) =
    Seq(
      ("IngestJob", IngestJob.run _,
        Array(s"$in/documents.csv", s"$run/documents", "replace"),
        Seq("documents")),
      ("CurationJob", CurationJob.run _,
        Array(s"$run/documents", s"$run/curation_disposition",
          s"$run/curated", "doc_id", "text",
          "not_null:text;non_negative:n_chars", "en", s"$in/eval_set",
          "0.65", "0.06", "0.8"),
        Seq("curation_disposition", "curated")))

  def pass(ctx: Ctx): Seq[Op] = steps(ctx.in, ctx.run).map {
    case (job, run, args, _) =>
      Workload.timed(job, Some(job), ctx.spans, "jobs") {
        run(ctx.spark, args); Map.empty
      }
  }

  def outputs(ctx: Ctx): Map[String, String] =
    steps(ctx.in, ctx.run).flatMap { case (job, _, _, outs) =>
      outs.map(o => s"$job/$o" ->
        Workload.fpParquet(ctx.spark, s"${ctx.run}/$o"))
    }.toMap

  def dedupRows(outs: Map[String, String]): (Long, Long) = {
    def rows(o: String) = outs.get(o).map(Fingerprint.rows).getOrElse(0L)
    (rows("IngestJob/documents"), rows("CurationJob/curated"))
  }
}

/** One day of the daily cadence against persisted state: the day's batch
  * lands in the stream's landing directory, then the stream ingest
  * (AvailableNow drain into a keyed file store plus quarantine), the
  * incremental dedup against the persisted near-dup archive, and the ANN
  * index append run; the pass ends with top-k probes against the loaded
  * index. The state a pass starts from is the previous day's, built from
  * empty state by the warm-up pass and restored before every pass, so no
  * pass reads another's results. */
final class IncrementalDays extends Workload with Search {
  val Days = 2
  val DocsPerDay = 400
  val VecsPerDay = 400
  val Probes = 16
  val Batches = 2
  val K = 10

  private var probeRows: IndexedSeq[Row] = IndexedSeq.empty
  /** Exact top-k of every probe, computed once in set-up. */
  private var exact: Map[Long, Set[Long]] = Map.empty
  private var lastHits: Seq[(Long, Long)] = Nil
  private var batchRows = 0L
  var searchTimes: Seq[Double] = Nil

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    val vecs = Gen.dailyBatches(spark, dir, Days, DocsPerDay, VecsPerDay, seed)
    batchRows = (1 to Days).map(d =>
      spark.read.parquet(s"$dir/day$d/docs").count()).sum
    val chosen = Gen.shuffle(vecs, Gen.ContentSeed).take(Probes)
    probeRows = Gen.shuffle(chosen, seed)
    val all = vecs.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    exact = chosen.map { p =>
      val q = p.getSeq[Float](1).toArray
      val id = p.getLong(0)
      id -> all.iterator.filter(_._1 != id).map { case (vid, v) =>
        var d = 0.0; var i = 0
        while (i < v.length) { val x = v(i).toDouble - q(i); d += x * x; i += 1 }
        (d, vid)
      }.toSeq.sorted.take(K).map(_._2).toSet
    }.toMap
  }

  private def stateArgs(in: String, run: String, d: Int) = Seq(
    ("StreamIngestJob", StreamIngestJob.run _, Array(s"$run/landing",
      Gen.DocDdl, "doc_id", "text", "not_null:text;non_negative:n_chars",
      "-", "-", s"$run/store", s"$run/quarantine", s"$run/checkpoint")),
    ("IncrementalDedupJob", IncrementalDedupJob.run _, Array(
      s"$in/day$d/docs", s"$run/state/neardup", s"$run/novel/day$d",
      "doc_id", "text", "2", "64", "16", "0.85")),
    ("AnnIndexJob", AnnIndexJob.run _, Array(s"$in/day$d/emb",
      s"$run/state/ann", "vec_id", "embedding", Gen.EmbDim.toString, "16",
      "4", "16", f"2024-01-$d%02d", "append")))

  /** State after every day but the last, kept beside the inputs. */
  private def snapshot(ctx: Ctx) = s"${ctx.in}-state"

  override def prepare(ctx: Ctx): Unit =
    if (new File(snapshot(ctx)).exists) Gen.copyDir(snapshot(ctx), ctx.run)

  def pass(ctx: Ctx): Seq[Op] = {
    val replay = if (new File(snapshot(ctx)).exists) Seq(Days) else 1 to Days
    val days = replay.flatMap { d =>
      ctx.spans(s"day$d", "jobs") {
        val land = Workload.timed(s"day$d/land", None, ctx.spans, "sources") {
          val to = new File(s"${ctx.run}/landing"); to.mkdirs()
          new File(s"${ctx.in}/day$d/docs").listFiles
            .filter(_.getName.endsWith(".parquet")).foreach(f =>
              Files.copy(f.toPath, new File(to, s"day$d-${f.getName}").toPath,
                StandardCopyOption.REPLACE_EXISTING))
          Map.empty
        }
        val jobs = stateArgs(ctx.in, ctx.run, d).map { case (job, run, args) =>
          Workload.timed(s"day$d/$job", Some(job), ctx.spans, "jobs") {
            run(ctx.spark, args); Map.empty
          }
        }
        if (d == Days - 1) Gen.copyDir(ctx.run, snapshot(ctx))
        land +: jobs
      }
    }
    var state: Option[graft.ext.SimilarityOps.AnnIndexState] = None
    val load = Workload.timed("load_index", None, ctx.spans, "jobs") {
      val (st, loaded) = AnnIndexJob.loadOrTrain(ctx.spark,
        ctx.spark.read.parquet(s"${ctx.in}/day1/emb"), s"${ctx.run}/state/ann",
        "vec_id", "embedding", Gen.EmbDim, 16, 4, 16, f"2024-01-$Days%02d")
      state = Some(st)
      Map("loaded" -> loaded.toString)
    }
    val times = Seq.newBuilder[Double]
    val hits = Seq.newBuilder[Row]
    val search = Workload.timed("search", None, ctx.spans, "ext.similarity") {
      val st = state.getOrElse(throw new IllegalStateException("no index"))
      probeRows.grouped(Probes / Batches).zipWithIndex.foreach { case (b, i) =>
        val t0 = System.nanoTime()
        ctx.spans(s"search/batch$i", "ext.similarity") {
          val q = ctx.spark.createDataFrame(b.asJava, Gen.EmbSchema)
          hits ++= graft.ext.SimilarityOps.ivfPqTopKWithIndex(q, st, "vec_id",
            "embedding", K, 4).collect()
        }
        times += (System.nanoTime() - t0) / 1e9
      }
      Map.empty
    }
    val rows = hits.result()
    searchTimes = times.result()
    lastHits = rows.map(r => (r.getLong(0), r.getLong(2)))
    val searchFp = if (search.error.isDefined) Map.empty[String, String]
      else Map("results" -> Fingerprint.of(ctx.spark.createDataFrame(
        rows.asJava, rows.headOption.map(_.schema).orNull)))
    days ++ Seq(load, search.copy(fps = searchFp))
  }

  def recall: Double =
    if (exact.isEmpty) 0.0
    else {
      val got = lastHits.groupBy(_._1).map { case (q, xs) =>
        q -> xs.map(_._2).toSet }
      exact.map { case (q, truth) =>
        (truth & got.getOrElse(q, Set.empty)).size.toDouble / truth.size
      }.sum / exact.size
    }

  def outputs(ctx: Ctx): Map[String, String] = {
    val run = ctx.run
    Map(
      "StreamIngestJob/store" -> Fingerprint.ofFiles(s"$run/store"),
      "StreamIngestJob/quarantine" ->
        Workload.fpParquet(ctx.spark, s"$run/quarantine"),
      "IncrementalDedupJob/index" ->
        Workload.fpParquet(ctx.spark, s"$run/state/neardup/index"),
      "IncrementalDedupJob/labels" ->
        Workload.fpParquet(ctx.spark, s"$run/state/neardup/labels"),
      "AnnIndexJob/codes" ->
        Workload.fpParquet(ctx.spark, s"$run/state/ann/codes"),
      "AnnIndexJob/quantizer" ->
        Workload.fpParquet(ctx.spark, s"$run/state/ann/quantizer"),
      "AnnIndexJob/meta" ->
        Workload.fpParquet(ctx.spark, s"$run/state/ann/meta")) ++
      (1 to Days).map(d => s"IncrementalDedupJob/novel/day$d" ->
        Workload.fpParquet(ctx.spark, s"$run/novel/day$d"))
  }

  def dedupRows(outs: Map[String, String]): (Long, Long) =
    (batchRows, (1 to Days).map(d => outs.get(s"IncrementalDedupJob/novel/day$d")
      .map(Fingerprint.rows).getOrElse(0L)).sum)
}

/** One day of the Airflow DAG: the batch curation path over the day's
  * corpus ([[CurationBatch]]), then the day's stream ingest, incremental
  * dedup against the persisted archive, ANN index append and probes
  * ([[IncrementalDays]]). Operation and output names carry the phase
  * (`batch/`, `day/`). */
final class DailyDag extends Workload with Search {
  private val phases = Seq("batch" -> new CurationBatch,
    "day" -> new IncrementalDays)
  private val days = phases(1)._2.asInstanceOf[IncrementalDays]

  private def sub(ctx: Ctx, p: String) =
    ctx.copy(in = s"${ctx.in}/$p", run = s"${ctx.run}/$p")

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    phases.foreach { case (p, w) => w.generate(spark, s"$dir/$p", seed) }

  override def prepare(ctx: Ctx): Unit =
    phases.foreach { case (p, w) => w.prepare(sub(ctx, p)) }

  def pass(ctx: Ctx): Seq[Op] = phases.flatMap { case (p, w) =>
    w.pass(sub(ctx, p)).map(op => op.copy(name = s"$p/${op.name}"))
  }

  def outputs(ctx: Ctx): Map[String, String] = phases.flatMap {
    case (p, w) => w.outputs(sub(ctx, p)).map { case (k, v) => s"$p/$k" -> v }
  }.toMap

  def dedupRows(outs: Map[String, String]): (Long, Long) = {
    val ins = phases.map { case (p, w) => w.dedupRows(outs.collect {
      case (k, v) if k.startsWith(s"$p/") => k.stripPrefix(s"$p/") -> v }) }
    (ins.map(_._1).sum, ins.map(_._2).sum)
  }

  def searchTimes: Seq[Double] = days.searchTimes
  def recall: Double = days.recall
}
