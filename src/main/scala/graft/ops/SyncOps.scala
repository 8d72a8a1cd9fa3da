package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental-sync building blocks: token-set resolution, low-watermark
  * computation, and the bounded scan predicate.
  *
  * The reference runs one pagination loop per vehicle, each resuming from
  * the oldest already-synced timestamp and walking **backwards in time**
  * (`internal/sync/sync.go:109-160`, watermark `:128-137`). In Spark the
  * loop disappears: one watermark aggregate over the sink + one bounded
  * predicate on the source reads everything still missing, in a single
  * shuffle-light pass, with no page-boundary skip bug (SURVEY §2.7).
  */
object SyncOps {

  /** Parse an explicit token list — CSV semantics of the reference
    * (`sync.go:211-234`, `main.go:90-97`): whitespace-tolerant, unparsable
    * entries skipped.
    */
  def parseTokenList(raw: Seq[String]): Seq[Long] =
    raw.map(_.trim).filter(_.nonEmpty).flatMap(s => s.toLongOption)

  /** Token discovery from the sink when no explicit list is given:
    * `SELECT DISTINCT token_id FROM signal` (`clickhouse.go:89-110`).
    */
  def tokensFromSink(sink: DataFrame): DataFrame =
    sink.select(col("tokenId")).distinct()

  /** Per-token low watermark = oldest already-synced timestamp, optionally
    * restricted to a signal-name set — the reference's `QueryOldestSignal`
    * (`clickhouse.go:65-87`) done for ALL tokens in one aggregate instead of
    * N point queries.
    */
  def watermarks(sink: DataFrame, names: Seq[String] = Nil): DataFrame = {
    val base =
      if (names.isEmpty) sink
      else sink.where(col("name").isin(names: _*))
    base.groupBy(col("tokenId")).agg(min(col("timestamp")).as("watermark"))
  }

  /** The ONE per-token read of the sink a live resume round makes: every
    * token the sink holds (the census, [[tokensFromSink]]) with its
    * [[watermarks]] value, plus its row count `n` when `withCount`. A token
    * with none of the `names` signals keeps its row with a NULL watermark,
    * so it stays in the census and fetches its full window. Pushable on
    * `graft-signal-live` either way: with `names` set the sink aggregates
    * `GROUP BY tokenId, name` (only column arguments reach the store) and
    * the per-name minima fold per token in Spark — a single
    * `min(when(name IN …))` would ship every raw row instead.
    */
  def perTokenState(sink: DataFrame, names: Seq[String] = Nil,
      withCount: Boolean = false): DataFrame = {
    val keys = col("tokenId") +: (if (names.isEmpty) Nil else Seq(col("name")))
    val partial = sink.groupBy(keys: _*)
      .agg(min(col("timestamp")).as("watermark"), count(lit(1)).as("n"))
    val state =
      if (names.isEmpty) partial
      else partial.groupBy(col("tokenId")).agg(
        min(when(col("name").isin(names: _*), col("watermark"))).as("watermark"),
        sum(col("n")).as("n"))
    if (withCount) state else state.drop("n")
  }

  /** Token scope of a sync: the explicit list when given, else the tokens
    * of `census` (a per-token table of the sink), else none (no tokens, no
    * sink ⇒ nothing to sync; reference `sync.go:61,211-234`).
    */
  def scopeDim(dim: DataFrame, explicitTokens: Seq[Long], census: Option[DataFrame]): DataFrame =
    if (explicitTokens.nonEmpty) dim.where(col("tokenId").isin(explicitTokens: _*))
    else census match {
      case Some(c) => dim.join(c.select("tokenId"), Seq("tokenId"), "left_semi")
      case None    => dim.limit(0)
    }

  /** Per-subject wire stop `(subject, ms)` for the live read: the exclusive
    * per-token stop (sync.go:96-100 [ext]) in ceil-millis (a superset of
    * the micro-precise `< watermark` join that still runs in the plan).
    * MAX over the subject's tokens — a dim mapping several tokenIds to one
    * subject must fetch the union of every token's `< watermark` window
    * (the overlap is clipped by the per-token join; undershipping must not
    * happen) — and ONLY for subjects whose EVERY scoped token has a
    * watermark: a never-synced alias needs the FULL window, and a stop
    * derived from its sibling would silently drop its rows. `wm` holds
    * `tokenId`/`watermark` rows; a missing row and a NULL watermark both
    * count as never synced.
    */
  def stopsBySubject(scopedDim: DataFrame, wm: DataFrame): DataFrame =
    scopedDim.select("tokenId", "subject")
      .join(wm.select("tokenId", "watermark"), Seq("tokenId"), "left_outer")
      .groupBy(col("subject"))
      .agg(max(expr("(unix_micros(watermark) + 999) DIV 1000")).as("ms"),
        sum(when(col("watermark").isNull, 1).otherwise(0)).as("missing"))
      .where(col("missing") === 0)
      .select("subject", "ms")

  /** The bounded-scan predicate: half-open `[start, stop)` interval
    * (inclusive start, exclusive stop — reference Gte/Lt,
    * `elastic.go:47-48,54`; the tests' +500ms arithmetic depends on it,
    * `sync_test.go:68,75`).
    */
  def timeBound(timeCol: Column, start: java.sql.Timestamp, stop: java.sql.Timestamp): Column =
    timeCol >= lit(start) && timeCol < lit(stop)

  /** Restrict a per-token bounded scan by each token's watermark: rows at or
    * after the watermark are already synced (sync walks backwards from the
    * watermark toward start). Docs are keyed by `subject`; `dim` maps
    * subject→tokenId; `wm` is the [[watermarks]] output. Tokens absent from
    * the sink have no watermark row and keep their full `[start, stop)`
    * range (reference `sync.go:96-100`: fresh token ⇒ opts.StopTime).
    */
  def applyWatermarks(docs: DataFrame, dim: DataFrame, wm: DataFrame): DataFrame =
    docs
      .join(broadcast(dim.select("tokenId", "subject")), Seq("subject"), "inner")
      .join(broadcast(wm), Seq("tokenId"), "left_outer")
      .where(col("watermark").isNull || col("time") < col("watermark"))
      .drop("watermark")

  /** Known-whale discovery for [[graft.jobs.SyncJob.runLiveRanged]]'s
    * `hotSubjects` — "one prior `groupBy(subject).count()` run" as a
    * one-liner: subjects whose already-synced row count exceeds
    * `minRows`, deepest first. The count runs ON the cluster; only the
    * whale rows broadcast into the dim join and only they reach the
    * driver (a fleet has FEW whales by definition — `maxSubjects` caps a
    * mis-tuned threshold so a low cutoff cannot collect the fleet).
    * History depth in the SINK is the proxy for depth in the source —
    * exact for steady-state incremental syncs (everything but the
    * unsynced suffix is in the sink), and merely suboptimal when wrong
    * (a missed whale straggles its tile as before; a false whale costs
    * one needless slice fan-out — never a wrong row either way).
    */
  def hotSubjectsFromSink(sink: DataFrame, dim: DataFrame, minRows: Long,
      maxSubjects: Int = 1000): Seq[String] =
    hotSubjectsFromCounts(
      sink.groupBy(col("tokenId")).agg(count(lit(1)).as("n")), dim, minRows, maxSubjects)

  /** [[hotSubjectsFromSink]] over an ALREADY-AGGREGATED per-token count
    * table (`tokenId`, `n`) — callers that computed the counts for another
    * purpose (e.g. [[graft.jobs.SyncJob.runLiveRanged]]'s [[perTokenState]])
    * reuse them here instead of re-scanning the sink (r18, guide §2.4).
    */
  def hotSubjectsFromCounts(counts: DataFrame, dim: DataFrame, minRows: Long,
      maxSubjects: Int = 1000): Seq[String] = {
    // the cap applies BEFORE the broadcast build: a mis-tuned low
    // threshold makes `n > minRows` match most of the fleet, and
    // broadcasting THAT would collect millions of rows to the driver —
    // the exact wall this helper's caller exists to avoid. Capped first,
    // the build side is ≤ maxSubjects rows whatever the threshold.
    val whales = counts
      .where(col("n") > minRows)
      .orderBy(col("n").desc, col("tokenId"))
      .limit(maxSubjects)
    dim.select("tokenId", "subject")
      .join(broadcast(whales), Seq("tokenId"))
      .orderBy(col("n").desc, col("subject"))
      .select("subject").collect().map(_.getString(0)).toSeq
  }
}
