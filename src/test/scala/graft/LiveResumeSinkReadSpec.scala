package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.jobs.{SyncJob, SyncOptions}
import graft.queries.{ChSignalStub, LiveQueries}
import graft.sources.{ClickHouseDdl, ClickHouseHttpClient, DeviceDim, SignalLiveSource}

/** A live resume round reads its ClickHouse sink ONCE: one pushed
  * per-token aggregate (`SyncOps.perTokenState`) is the token census, the
  * mode probe, the staged or inline wire stops and the append's
  * `< watermark` join. The `ChSignalStub` statement ledger shows every
  * read the engine sends the store: one planning envelope per sink read,
  * and a raw-row SELECT wherever an aggregate failed to push.
  */
class LiveResumeSinkReadSpec extends SparkTestBase {

  private val t0 = 1704000000000L
  private val Envelope = "SELECT min(`token_id`), max(`token_id`), count() FROM"
  private val Speed = "Vehicle.Speed"

  /** A status doc with a speed and a make signal; a `signals`-projected
    * request is served its speed-only `_source`.
    */
  private def doc(id: String, subj: String, ms: Long): LiveQueries.StubDoc = {
    val envelope = s""""id":"$id","subject":"$subj","source":"dimo/integration/live",""" +
      s""""specversion":"1.0","time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
      s""""dataschema":"dimo.zone.status/v1.0","type":"c""""
    LiveQueries.StubDoc(id, subj, ms * 1000L, s"""{$envelope,"data":{"speed":7,"make":"m"}}""",
      signalJson = Some(s"""{$envelope,"data":{"speed":7}}"""))
  }

  private def url(s: com.sun.net.httpserver.HttpServer) =
    s"http://127.0.0.1:${s.getAddress.getPort}"

  private def startCh(statements: ConcurrentLinkedQueue[String]): com.sun.net.httpserver.HttpServer = {
    val s = ChSignalStub.start(statements = statements)
    new ClickHouseHttpClient(url(s)).execute(ClickHouseDdl.signalTableDdl(SignalLiveSource.Schema))
    s
  }

  /** The live sink in the column names `SyncJob` expects. */
  private def sink(chUrl: String): DataFrame =
    spark.read.format("graft-signal-live").option("url", chUrl).load()
      .select(col("token_id").as("tokenId"), col("timestamp"), col("name"))

  private def append(rows: DataFrame, chUrl: String): Unit =
    rows.select(col("tokenId").as("token_id"), col("timestamp"), col("name"),
      col("valueNumber").as("value_number"), col("valueString").as("value_string"))
      .write.format("graft-signal-live").option("url", chUrl).mode("append").save()

  /** Sink rows `(token, ms, name)` inserted straight into the double. */
  private def insert(chUrl: String, rows: Seq[(Long, Long, String)]): Unit =
    new ClickHouseHttpClient(chUrl).insertCsv("signal",
      Seq("token_id", "timestamp", "name", "value_number", "value_string"),
      rows.map { case (tok, ms, name) => s"""$tok,${ms / 1000}.${f"${ms % 1000}%03d"}000,"$name",1.0,""" }
        .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def envelopes(statements: ConcurrentLinkedQueue[String]): Int =
    statements.asScala.count(_.startsWith(Envelope))

  /** SELECTs that are neither planning statements nor pushed aggregates:
    * rows shipped to Spark.
    */
  private def rawRowSelects(statements: ConcurrentLinkedQueue[String]): Seq[String] =
    statements.asScala.toSeq.filterNot(s =>
      s.startsWith(Envelope) || s.startsWith("SELECT quantiles(") || s.contains(" GROUP BY "))

  private def sorted(df: DataFrame): Seq[Row] =
    df.select("tokenId", "timestamp", "name", "valueNumber", "valueString", "source")
      .collect().toSeq.sortBy(_.toString)

  test("runLive reads the sink once per resume round, inline and staged census alike") {
    val tokens = Seq(1L, 2L, 3L, 4L)
    val newer = tokens.map(t => doc(s"n$t", t.toString, t0 + 60000))
    val older = tokens.map(t => doc(s"o$t", t.toString, t0))
    val dim = DeviceDim.identityDim(spark, tokens)
    val window = SyncOptions(start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    // 4 subjects: the default threshold keeps the inline options, 1 stages
    for (threshold <- Seq(SyncJob.PathModeThreshold, 1)) {
      val statements = new ConcurrentLinkedQueue[String]()
      val ch = startCh(statements)
      try {
        val es1 = LiveQueries.startStub(newer.toIndexedSeq)
        try append(SyncJob.runLive(spark, url(es1), dim, None,
          window.copy(tokens = tokens.map(_.toString)), pathModeThreshold = threshold), url(ch))
        finally es1.stop(0)
        // round 2: no TOKEN_IDS, so the census comes from the sink
        statements.clear()
        val es2 = LiveQueries.startStub((newer ++ older).toIndexedSeq)
        try append(SyncJob.runLive(spark, url(es2), dim, Some(sink(url(ch))), window,
          pathModeThreshold = threshold), url(ch))
        finally es2.stop(0)
        assert(envelopes(statements) === 1,
          s"threshold $threshold: one sink read per round, got ${statements.asScala.mkString("\n")}")
        assert(rawRowSelects(statements).isEmpty,
          s"threshold $threshold: the per-token aggregate must push: ${rawRowSelects(statements)}")
        assert(sink(url(ch)).count() === tokens.size * 2 * 2,
          "both docs of every token landed once, 2 signals each")
      } finally ch.stop(0)
    }
  }

  test("census semantics: foreign sink tokens, sinkless dim tokens and signal-less tokens") {
    // token 1: synced (both signals at +60s); token 2: synced, but with
    // NONE of the named signal; token 3: in the dim, absent from the
    // sink; token 9: in the sink, absent from the dim
    val corpus = Seq("1", "2", "3", "9").flatMap(s =>
      Seq(0L, 60000L, 120000L).map(d => doc(s"$s-$d", s, t0 + d))).toIndexedSeq
    val dim = DeviceDim.identityDim(spark, Seq(1L, 2L, 3L))
    val sinkRows = Seq((1L, t0 + 60000, Speed), (1L, t0 + 60000, "Vehicle.VehicleIdentification.Brand"),
      (2L, t0 + 60000, "Vehicle.VehicleIdentification.Brand"), (9L, t0 + 60000, Speed))
    val statements = new ConcurrentLinkedQueue[String]()
    val ch = startCh(statements)
    val es = LiveQueries.startStub(corpus)
    try {
      insert(url(ch), sinkRows)
      val fullCorpus = spark.read.format("graft-status-live").option("url", url(es)).load()
        .select(col("subject"), col("source"), col("time"), col("data"))
      for (names <- Seq(Nil, Seq(Speed))) {
        val opts = SyncOptions(signalNames = names, start = Some(new java.sql.Timestamp(0L)),
          stop = Some(new java.sql.Timestamp(9999999999999L)))
        val want = sorted(SyncJob.run(fullCorpus, dim, Some(sink(url(ch))), opts))
        for (threshold <- Seq(SyncJob.PathModeThreshold, 1)) {
          val got = sorted(SyncJob.runLive(spark, url(es), dim, Some(sink(url(ch))), opts,
            pathModeThreshold = threshold))
          assert(got === want, s"names $names, threshold $threshold: runLive must match run()")
        }
        val token2 = want.filter(_.getLong(0) == 2L).map(_.getTimestamp(1).getTime).distinct.sorted
        if (names.nonEmpty)
          assert(token2 === Seq(t0, t0 + 60000, t0 + 120000),
            "a token with none of the named signals fetches its full window")
        else assert(token2 === Seq(t0), "its other signals set its watermark")
        assert(want.map(_.getLong(0)).distinct.sorted === Seq(1L, 2L),
          "the census is the sink's tokens that the dim maps")
      }
    } finally { es.stop(0); ch.stop(0) }
  }

  test("a signalNames resume pushes its per-token aggregate (runLive and runLiveRanged)") {
    val corpus = Seq("1", "2").flatMap(s =>
      Seq(0L, 60000L).map(d => doc(s"$s-$d", s, t0 + d))).toIndexedSeq
    val dim = DeviceDim.identityDim(spark, Seq(1L, 2L))
    val opts = SyncOptions(signalNames = Seq(Speed), start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    val statements = new ConcurrentLinkedQueue[String]()
    val ch = startCh(statements)
    val es = LiveQueries.startStub(corpus, pitMode = true)
    val staging = Files.createTempDirectory("graft-sinkread-staging")
    try {
      insert(url(ch), Seq((1L, t0 + 60000, Speed), (2L, t0 + 60000, "Vehicle.VehicleIdentification.Brand")))
      val runs: Seq[(String, () => DataFrame)] = Seq(
        "runLive" -> (() => SyncJob.runLive(spark, url(es), dim, Some(sink(url(ch))), opts)),
        "runLiveRanged" -> (() => SyncJob.runLiveRanged(spark, url(es), dim, Some(sink(url(ch))),
          opts, stagingDir = staging.toString, censusRanges = 2)))
      for ((name, sync) <- runs) {
        statements.clear()
        val perToken = sync().groupBy(col("tokenId")).count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(perToken === Map(1L -> 1L, 2L -> 2L),
          s"$name: token 1 resumes below its watermark, token 2 fetches everything")
        assert(statements.asScala.nonEmpty && rawRowSelects(statements).isEmpty,
          s"$name: only pushed GROUP BY reads may reach the sink: ${statements.asScala.mkString("\n")}")
      }
    } finally {
      es.stop(0); ch.stop(0)
      Files.walk(staging).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }
}
