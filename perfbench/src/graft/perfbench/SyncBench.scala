package graft.perfbench

import java.sql.Timestamp
import java.time.Instant

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.jobs.{SyncJob, SyncOptions}
import graft.ops.{SignalExplode, SyncOps}
import graft.queries.{ChSignalStub, LiveQueries}
import graft.sources.{ClickHouseDdl, ClickHouseHttpClient, DeviceDim, EsHttpClient,
  SignalLiveSource, StatusLiveSource}

/** The live sync path as the benchmark drives it: the ES double serving a
  * corpus, `SyncJob.runLive` over it, and the ClickHouse double receiving
  * the rows through `graft-signal-live`. Only public entry points and
  * DataFrame formats are used.
  */
final class SyncPath(spark: SparkSession, scratch: java.nio.file.Path) {
  val ledger = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private var es: Option[HttpServer] = None
  private var ch: Option[HttpServer] = None
  private var dimDf: Option[DataFrame] = None
  private var census: Option[String] = None

  private def url(s: Option[HttpServer]) =
    s"http://127.0.0.1:${s.getOrElse(throw new IllegalStateException("double not started")).getAddress.getPort}"
  def esUrl: String = url(es)
  def chUrl: String = url(ch)
  def dim: DataFrame = dimDf.get

  /** Seed the ES double with `corpus` (replacing any previous one). */
  def serve(corpus: Corpus): Unit = {
    es.foreach(_.stop(0))
    es = Some(LiveQueries.startStub(corpus.docs))
    dimDf = Some(DeviceDim.identityDim(spark, corpus.tokens))
    val f = scratch.resolve("census.txt").toString
    StatusLiveSource.writeSubjects(corpus.tokens.map(_.toString).sorted, f)
    census = Some(f)
  }

  private def startCh(statements: java.util.concurrent.ConcurrentLinkedQueue[String]): HttpServer = {
    val s = ChSignalStub.start(statements = statements)
    new ClickHouseHttpClient(url(Some(s))).execute(ClickHouseDdl.signalTableDdl(SignalLiveSource.Schema))
    s
  }

  /** Replace the ClickHouse double with an empty one holding the signal table. */
  def freshSink(): Unit = {
    ch.foreach(_.stop(0))
    ledger.clear()
    ch = Some(startCh(ledger))
  }

  def sinkRows: DataFrame =
    spark.read.format("graft-signal-live").option("url", chUrl).load()

  /** The sink in the column names `SyncJob` expects of an existing sink. */
  def sinkForSync: DataFrame =
    sinkRows.select(col("token_id").as("tokenId"), col("timestamp"), col("name"))

  def sync(opts: SyncOptions, existing: Option[DataFrame]): DataFrame =
    SyncJob.runLive(spark, esUrl, dim, existing, opts)

  def write(rows: DataFrame, at: String = chUrl): Unit =
    rows.select(col("tokenId").as("token_id"), col("timestamp"), col("name"),
      col("valueNumber").as("value_number"), col("valueString").as("value_string"))
      .write.format("graft-signal-live").option("url", at).mode("append").save()

  /** Read the sink back and compare every token with the generator's
    * record: row count, distinct `(timestamp, name)` count (a duplicate row
    * shows even where a lost row would balance the count), and the
    * oldest/newest timestamp.
    */
  def verify(expect: Map[Long, Expect]): Unit = {
    val got = sinkRows.groupBy(col("token_id"))
      .agg(count(lit(1)), count_distinct(col("timestamp"), col("name")),
        min(col("timestamp")), max(col("timestamp")))
      .collect().map(r => r.getLong(0) -> (r.getLong(2),
        Expect(r.getLong(1), SyncBench.us(r.getTimestamp(3)), SyncBench.us(r.getTimestamp(4)))))
      .toMap
    val bad = (got.keySet ++ expect.keySet).toSeq.sorted.filter(t =>
      !got.get(t).exists { case (distinct, e) => distinct == e.rows && expect.get(t).contains(e) })
    if (bad.nonEmpty)
      throw new IllegalStateException(s"sink differs from the generator on ${bad.size} tokens: " +
        bad.take(5).map(t => s"token $t: sink (distinct, rows/min/max) ${got.get(t)} " +
          s"expected ${expect.get(t)}").mkString("; "))
  }

  /** Standalone calls into each layer over one round's window, each timed
    * on its own: the live status read materialized, the explode plus dim
    * join over it, an insert of the exploded rows into a scratch double,
    * the watermark aggregate over the sink, and a serial no-Spark drain of
    * the same window.
    */
  def layers(loMs: Long, hiMs: Long, docs: Long): Map[String, Double] = {
    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
    }
    val (readS, read) = timed(spark.read.format("graft-status-live")
      .option("url", esUrl).option("subjectsPath", census.get)
      .option("startMs", loMs.toString).option("stopMs", hiMs.toString).load()
      .select(col("subject"), col("source"), col("time"), col("data"))
      .localCheckpoint(true))
    val nDocs = read.count()
    val (explodeS, exploded) = timed(
      DeviceDim.attachTokenId(SignalExplode.explodeSignals(read), dim).localCheckpoint(true))
    val nRows = exploded.count()
    val scratchCh = startCh(new java.util.concurrent.ConcurrentLinkedQueue[String]())
    val writeS = try timed(write(exploded, url(Some(scratchCh))))._1 finally scratchCh.stop(0)
    val (wmS, wmTokens) = timed(SyncOps.watermarks(sinkForSync).collect().length)
    val (floorS, floorDocs) = timed {
      val src = new EsHttpClient(esUrl).pagedDocs("device-status", 1000, loMs, hiMs, None, Nil)
      try Iterator.continually(src.next()).takeWhile(_ != null).size.toLong finally src.close()
    }
    if (nDocs != docs || floorDocs != docs || nRows != docs * Fleet.RowsPerDoc)
      throw new IllegalStateException(s"standalone layer calls disagree with the generator: " +
        s"read $nDocs docs, drain $floorDocs docs, explode $nRows rows, expected $docs docs")
    Map("es.read_s" -> readS, "es.wire_floor_s" -> floorS, "explode.s" -> explodeS,
      "explode.rows_out" -> nRows.toDouble, "explode.rows_per_doc" -> nRows.toDouble / nDocs,
      "ch.write_s" -> writeS, "watermark.s" -> wmS, "watermark.tokens" -> wmTokens.toDouble)
  }

  def close(): Unit = { es.foreach(_.stop(0)); ch.foreach(_.stop(0)) }
}

/** One sync round's plan: its options, whether it reads the sink, and what
  * the generator says it must land.
  */
final case class RoundPlan(opts: SyncOptions, readsSink: Boolean, expect: Map[Long, Expect],
    sliceLoMs: Long, sliceHiMs: Long, docs: Long) {
  def rows: Long = docs * Fleet.RowsPerDoc
}

/** A benchmark workload: how to set it up and what each round syncs. */
trait Workload {
  /** Generate the corpus and seed both doubles. */
  def setUp(path: SyncPath): Corpus
  /** Land the history the workload assumes is already synced. */
  def preload(path: SyncPath): Unit = ()
  /** Untimed rounds before measuring: enough that round times stop
    * falling as the JIT settles.
    */
  def warmupRounds: Int
  /** Whether the corpus holds another round. */
  def hasNext: Boolean = true
  /** The next round (the sink is prepared for it here, outside the timer). */
  def next(path: SyncPath): RoundPlan
}

/** First sync of a skewed fleet into an empty sink, explicit `TOKEN_IDS`. */
final class BackfillSkewed(seed: Long) extends Workload {
  private val lo = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val hi = Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
  private var corpus: Corpus = _
  val warmupRounds = 6

  def setUp(path: SyncPath): Corpus = {
    corpus = Fleet.skewed(seed, vehicles = 2000, docs = BackfillSkewed.Docs, whaleShare = 0.2, lo, hi)
    path.serve(corpus)
    path.freshSink()
    corpus
  }

  def next(path: SyncPath): RoundPlan = {
    path.freshSink()
    RoundPlan(SyncOptions(tokens = corpus.tokens.map(_.toString),
      start = Some(SyncBench.ts(lo)), stop = Some(SyncBench.ts(hi))),
      readsSink = false, corpus.expect(lo, hi), lo, hi, corpus.docCount(lo, hi))
  }
}

object BackfillSkewed {
  val Docs = 16000
}

/** The cron tick: no `TOKEN_IDS` (census from the sink), a fleet past
  * `SyncJob.PathModeThreshold`, and each round's start one step older, so
  * every vehicle has one unsynced document below its watermark.
  */
final class ResumeCron(seed: Long) extends Workload {
  private val vehicles = 3 * SyncJob.PathModeThreshold
  private val newer = 4
  private val steps = 14
  private val stepMs = 3600L * 1000L
  private val t0 = Instant.parse("2024-06-01T00:00:00Z").toEpochMilli
  private val stop = t0 + (newer + 1) * stepMs
  private var corpus: Corpus = _
  private var k = 0
  val warmupRounds = 3

  def setUp(path: SyncPath): Corpus = {
    corpus = Fleet.cron(seed, vehicles, newer, steps, t0, stepMs)
    path.serve(corpus)
    path.freshSink()
    k = 0
    corpus
  }

  /** The newer history, landed by a first sync with explicit `TOKEN_IDS`. */
  override def preload(path: SyncPath): Unit = {
    val opts = SyncOptions(tokens = corpus.tokens.map(_.toString),
      start = Some(SyncBench.ts(t0)), stop = Some(SyncBench.ts(stop)))
    path.write(path.sync(opts, None))
    path.verify(corpus.expect(t0, stop))
  }

  override def hasNext: Boolean = k < steps

  def next(path: SyncPath): RoundPlan = {
    k += 1
    if (k > steps) throw new IllegalStateException(s"corpus holds only $steps cron steps")
    val start = t0 - k * stepMs
    RoundPlan(SyncOptions(start = Some(SyncBench.ts(start)), stop = Some(SyncBench.ts(stop))),
      readsSink = true, corpus.expect(start, stop), start, start + stepMs,
      corpus.docCount(start, start + stepMs))
  }
}

/** What one executed round measured. */
final case class RoundResult(wallS: Double, callS: Double, writeS: Double, rows: Long,
    docs: Long, probes: Probes.Delta, startMs: Long, endMs: Long, selects: Int) {
  def engineCpuSPerMrow: Double = (probes.procCpuS - probes.doublesCpuS) / (rows / 1e6)
}

/** The sync benchmark: one closed-loop client runs sync rounds back to back
  * for `--seconds`, each round checked against the generator afterwards.
  *
  * Usage: `SyncBench --workload backfill_skewed|resume_cron --seed N
  * --seconds S --trace 0|1 [--out DIR]`. Prints a verdict line, the
  * metrics by name and unit, and as its last line one JSON object.
  */
object SyncBench {

  /** Percentile reported as the round-time tail (see perfbench/METRICS.md). */
  val TailPct = 90.0
  val TailName = "round_s_p90"
  private val SetupReps = 2
  private val MinRounds = 3

  def ts(ms: Long): Timestamp = Timestamp.from(Instant.ofEpochMilli(ms))
  def us(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val out = java.nio.file.Paths.get(arg(args, "--out").getOrElse("."))
    val make: Long => Workload = workload match {
      case "backfill_skewed" => new BackfillSkewed(_)
      case "resume_cron"     => new ResumeCron(_)
      case other             => sys.error(s"unknown workload $other")
    }
    val code = try run(workload, make, seed, seconds, trace, out) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(name: String, make: Long => Workload, seed: Long, seconds: Double,
      trace: Boolean, out: java.nio.file.Path): Int = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val tSession = System.nanoTime()
    val spark = GraftSession.local(nproc)
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[perfbench] session started in ${secondsSince(tSession)}%.2f s")
    val scratch = java.nio.file.Files.createDirectories(out.resolve("scratch"))
    val path = new SyncPath(spark, scratch)
    try {
      // preflight: the reference CI corpus through the same path
      val ci = Fleet.referenceCi()
      path.serve(ci)
      path.freshSink()
      val ciLo = Instant.parse("2020-01-01T00:00:00Z").toEpochMilli
      val ciHi = ciLo + 60000L
      val ciOpts = SyncOptions(tokens = ci.tokens.map(_.toString),
        start = Some(ts(ciLo)), stop = Some(ts(ciHi)))
      path.write(path.sync(ciOpts, None))
      val ciRows = ci.docCount(ciLo, ciHi) * Fleet.RowsPerDoc
      require(ciRows == 144000L, s"reference CI corpus yields $ciRows expected rows, not 144000")
      path.verify(ci.expect(ciLo, ciHi))
      System.err.println(s"[perfbench] preflight: 8000 reference docs -> $ciRows rows, verified")
      val onceS = secondsSince(tSession)

      // corpus generation and seeding the doubles, repeated: the same seed
      // must give byte-identical documents
      val w = make(seed)
      val reps = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime()
        val c = w.setUp(path)
        (secondsSince(t0), c.digest, c)
      }
      val digests = reps.map(_._2).distinct
      require(digests.size == 1, s"seed $seed generated different corpora: $digests")
      val corpus = reps.last._3

      val tWarm = System.nanoTime()
      w.preload(path)
      // the last warm-up round is checked too, so the check's own first
      // compilation does not spill into a timed round
      for (i <- 1 to w.warmupRounds) {
        val plan = w.next(path)
        execute(path, plan)
        if (i == w.warmupRounds) path.verify(plan.expect)
      }
      // every timed round then starts from a collected heap, as the rounds
      // after it do (the heap probe collects after each round)
      Probes.heapAfterGcMb()
      val setupS = onceS + Stats.median(reps.map(_._1)) + secondsSince(tWarm)
      System.err.println(f"[perfbench] setup: session+preflight $onceS%.2f s, corpus+doubles " +
        f"${reps.map(_._1).map(x => f"$x%.2f").mkString("/")} s, " +
        f"preload+warm-up ${secondsSince(tWarm)}%.2f s")

      val tracer = new Tracer
      val traced = scala.collection.mutable.ArrayBuffer[(RoundResult, Map[String, Double])]()
      val plain = scala.collection.mutable.ArrayBuffer[RoundResult]()
      val heapMb = scala.collection.mutable.ArrayBuffer[Double]()
      val spans = scala.collection.mutable.ArrayBuffer[Span]()
      var attempted = 0
      var failed = 0
      val tMeasure = System.nanoTime()
      // a run also ends when the corpus runs out of rounds (a cron fleet
      // holds a fixed number of steps)
      while (w.hasNext &&
          (secondsSince(tMeasure) < seconds || attempted < MinRounds * (if (trace) 2 else 1))) {
        // the traced run alternates traced and untraced rounds, so the
        // tracing overhead is a paired difference within one process
        val tracing = trace && attempted % 2 == 0
        attempted += 1
        try {
          val plan = w.next(path)
          if (tracing) tracer.attach(spark)
          val r = try execute(path, plan) finally if (tracing) tracer.detach(spark)
          // the sink double still holds the round's rows here
          heapMb += Probes.heapAfterGcMb()
          val tVerify = System.nanoTime()
          path.verify(plan.expect)
          System.err.println(f"[perfbench] round $attempted: ${r.wallS}%.3f s " +
            f"(runLive ${r.callS}%.3f s, write ${r.writeS}%.3f s, cpu ${r.probes.procCpuS}%.2f s, " +
            f"jit ${r.probes.jitMs}%.0f ms, gc ${r.probes.gcS}%.3f s), verified in ${secondsSince(tVerify)}%.2f s")
          if (tracing) {
            tracer.awaitQuiet()
            val id = s"round-$attempted"
            val (spark0, jobSpans) = tracer.round(id, r.startMs, r.endMs)
            spans += Span(id, "", "round", r.startMs, r.endMs,
              Map("rows" -> r.rows.toDouble, "docs" -> r.docs.toDouble))
            spans += Span(s"$id-call", id, "SyncJob.runLive", r.startMs,
              r.startMs + (r.callS * 1000).toLong)
            spans += Span(s"$id-write", id, "graft-signal-live.write",
              r.endMs - (r.writeS * 1000).toLong, r.endMs)
            spans ++= jobSpans
            traced += ((r, spark0 ++ path.layers(plan.sliceLoMs, plan.sliceHiMs, plan.docs)))
          } else plain += r
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] round $attempted failed: $e")
        }
      }

      val ok = failed == 0 && (if (trace) traced.nonEmpty && plain.nonEmpty else plain.nonEmpty)
      val metrics: Seq[(String, Double, String)] =
        if (!ok) Nil
        else if (trace) layerMetrics(traced.toSeq, plain.toSeq)
        else endToEnd(setupS, plain.toSeq, heapMb.max)
      val env = s"nproc=$nproc master=${spark.sparkContext.master} heap_max_mb=${Probes.heapMaxMb} " +
        s"jdk=${System.getProperty("java.version")} spark=${spark.version}"
      println(s"[verdict] workload=$name seed=$seed correct=$ok rounds=$attempted failed=$failed " +
        s"error_rate=${failed.toDouble / attempted} preflight_rows=$ciRows " +
        s"corpus_docs=${corpus.docs.size} corpus_sha256=${corpus.digest} trace=$trace $env")
      metrics.foreach { case (k, v, u) => println(f"[metric] $k%-26s $v%.6g $u") }
      if (trace) {
        val f = out.resolve(s"spans-$name-$seed.jsonl")
        java.nio.file.Files.writeString(f, spans.map(spanJson).mkString("", "\n", "\n"))
        System.err.println(s"[perfbench] ${spans.size} spans written to $f")
      }
      val body = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
      if (ok) 0 else 1
    } finally {
      path.close()
      spark.stop()
    }
  }

  /** One timed round: `runLive` plus the sink write action. */
  private def execute(path: SyncPath, plan: RoundPlan): RoundResult = {
    val before = Probes.sample()
    val selects0 = path.ledger.size
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val existing = if (plan.readsSink) Some(path.sinkForSync) else None
    val out = path.sync(plan.opts, existing)
    val t1 = System.nanoTime()
    path.write(out)
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val after = Probes.sample()
    RoundResult((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, plan.rows, plan.docs,
      Probes.delta(before, after), startMs, endMs, path.ledger.size - selects0)
  }

  private def endToEnd(setupS: Double, rs: Seq[RoundResult],
      heapMb: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("rows_per_s", Stats.median(rs.map(r => r.rows / r.wallS)), "1/s"),
    ("docs_per_s", Stats.median(rs.map(r => r.docs / r.wallS)), "1/s"),
    ("round_s_p50", Stats.median(rs.map(_.wallS)), "s"),
    (TailName, Stats.percentile(rs.map(_.wallS), TailPct), "s"),
    ("engine_cpu_s_per_mrow", Stats.median(rs.map(_.engineCpuSPerMrow)), "s"),
    ("heap_after_gc_mb", heapMb, "MiB"))

  private def layerMetrics(traced: Seq[(RoundResult, Map[String, Double])],
      plain: Seq[RoundResult]): Seq[(String, Double, String)] = {
    def med(f: ((RoundResult, Map[String, Double])) => Double) = Stats.median(traced.map(f))
    def c(k: String) = med(_._2.getOrElse(k, 0.0))
    val p50 = med(_._1.wallS)
    Seq(
      ("syncjob.call_s", med(_._1.callS), "s"),
      ("syncjob.jobs", c("syncjob.jobs"), "count"),
      ("syncjob.stages", c("syncjob.stages"), "count"),
      ("syncjob.tasks", c("syncjob.tasks"), "count"),
      ("round.write_s", med(_._1.writeS), "s"),
      ("planning.analysis_ms", c("planning.analysis_ms"), "ms"),
      ("planning.optimization_ms", c("planning.optimization_ms"), "ms"),
      ("planning.physical_ms", c("planning.physical_ms"), "ms"),
      ("planning.executions", c("planning.executions"), "count"),
      ("es.pages", c("es.pages"), "count"),
      ("es.docs", c("es.docs"), "count"),
      ("es.docs_per_page", c("es.docs_per_page"), "ratio"),
      ("es.window_tiles", c("es.window_tiles"), "count"),
      ("es.scan_task_skew", c("es.scan_task_skew"), "ratio"),
      ("es.read_s", c("es.read_s"), "s"),
      ("es.wire_floor_s", c("es.wire_floor_s"), "s"),
      ("explode.rows_out", c("explode.rows_out"), "count"),
      ("explode.rows_per_doc", c("explode.rows_per_doc"), "ratio"),
      ("explode.plan_rows_out", c("explode.plan_rows_out"), "count"),
      ("explode.s", c("explode.s"), "s"),
      ("watermark.s", c("watermark.s"), "s"),
      ("watermark.tokens", c("watermark.tokens"), "count"),
      ("ch.select_statements", med(_._1.selects.toDouble), "count"),
      ("ch.insert_rows", med(_._1.rows.toDouble), "count"),
      ("ch.write_s", c("ch.write_s"), "s"),
      ("exec.task_run_s", c("exec.task_run_s"), "s"),
      ("exec.task_cpu_s", c("exec.task_cpu_s"), "s"),
      ("exec.parallelism", med(t => t._2.getOrElse("exec.task_run_s", 0.0) / t._1.wallS), "ratio"),
      ("exec.shuffle_bytes", c("exec.shuffle_bytes"), "bytes"),
      ("exec.spill_bytes", c("exec.spill_bytes"), "bytes"),
      ("exec.gc_s", c("exec.gc_s"), "s"),
      ("double.es_cpu_s", med(_._1.probes.esCpuS), "s"),
      ("double.ch_cpu_s", med(_._1.probes.chCpuS), "s"),
      ("double.dispatch_cpu_s", med(_._1.probes.dispatchCpuS), "s"),
      ("double.cpu_share", med(t => t._1.probes.doublesCpuS / t._1.probes.procCpuS), "ratio"),
      ("jvm.jit_ms", med(_._1.probes.jitMs), "ms"),
      ("jvm.gc_s", med(_._1.probes.gcS), "s"),
      ("trace.round_s_p50", p50, "s"),
      ("trace.overhead_s", p50 - Stats.median(plain.map(_.wallS)), "s"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def spanJson(s: Span): String = {
    val counts = s.counts.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    s"""{"id": "${s.id}", "parent": "${s.parent}", "name": "${s.name}", """ +
      s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "counts": {$counts}}"""
  }
}
