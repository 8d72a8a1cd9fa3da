package graft.perfbench

import java.time.Instant
import java.util.SplittableRandom

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.queries.LiveQueries.StubDoc

/** What the sink must hold for one token after a sync: its row count and
  * the oldest/newest signal timestamp, in epoch micros.
  */
final case class Expect(rows: Long, minUs: Long, maxUs: Long)

/** A generated status corpus plus the generator's own record of it.
  *
  * `times` holds, per token, the epoch-milli time of every document the
  * generator emitted. The oracle is computed from that record alone, at
  * [[Fleet.RowsPerDoc]] rows per document — never from the engine's
  * signal registry, so a conversion that drops or invents a signal shows
  * as a row-count mismatch.
  */
final case class Corpus(docs: IndexedSeq[StubDoc], times: Map[Long, Array[Long]],
    digest: String) {

  def tokens: Seq[Long] = times.keys.toSeq.sorted

  /** Per-token expectation over the documents with time in `[loMs, hiMs)`. */
  def expect(loMs: Long, hiMs: Long): Map[Long, Expect] =
    times.iterator.flatMap { case (t, ts) =>
      val in = ts.filter(m => m >= loMs && m < hiMs)
      if (in.isEmpty) None
      else Some(t -> Expect(in.length.toLong * Fleet.RowsPerDoc, in.min * 1000L, in.max * 1000L))
    }.toMap

  def docCount(loMs: Long, hiMs: Long): Long =
    times.valuesIterator.map(_.count(m => m >= loMs && m < hiMs).toLong).sum
}

/** Seeded generators for the benchmark's status corpora. Every document is
  * one of the eight reference fixture documents
  * (`static_vehicle_data_test.json`, all carrying the 18 signals of the
  * reference conversion) with its envelope rewritten — id, subject, time —
  * and a few payload values drawn from the seed. The same seed yields the
  * same bytes; [[Corpus.digest]] is the SHA-256 of the serialized corpus.
  */
object Fleet {

  /** Signal rows per full reference document (reference CI: 8,000 docs →
    * 144,000 rows).
    */
  val RowsPerDoc = 18

  private val mapper = new ObjectMapper()

  private lazy val templates: IndexedSeq[ObjectNode] = {
    val in = getClass.getResourceAsStream("/static_vehicle_data_test.json")
    require(in != null, "static_vehicle_data_test.json is not on the classpath")
    try {
      val arr = mapper.readTree(in)
      (0 until arr.size()).map(i => arr.get(i).asInstanceOf[ObjectNode])
    } finally in.close()
  }

  private final class Builder {
    private val docs = IndexedSeq.newBuilder[StubDoc]
    private val times = scala.collection.mutable.Map[Long, scala.collection.mutable.ArrayBuilder.ofLong]()
    private val sha = java.security.MessageDigest.getInstance("SHA-256")

    def add(token: Long, subject: String, id: String, timeMs: Long, template: Int,
        rnd: Option[SplittableRandom]): Unit = {
      val d = templates(template % templates.size).deepCopy()
      d.put("id", id)
      d.put("subject", subject)
      d.put("time", Instant.ofEpochMilli(timeMs).toString)
      rnd.foreach { r =>
        val data = d.get("data").asInstanceOf[ObjectNode]
        data.put("speed", r.nextInt(0, 140))
        data.put("engineSpeed", r.nextInt(6000, 30000) / 10.0)
        data.put("runTime", r.nextInt(0, 20000))
        data.put("fuelPercentRemaining", r.nextInt(1, 1000) / 1000.0)
      }
      val json = mapper.writeValueAsString(d)
      sha.update(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      docs += StubDoc(id, subject, timeMs * 1000L, json)
      times.getOrElseUpdate(token, new scala.collection.mutable.ArrayBuilder.ofLong) += timeMs
    }

    def result(): Corpus = Corpus(docs.result(),
      times.map { case (t, b) => t -> b.result() }.toMap,
      sha.digest().map("%02x".format(_)).mkString)
  }

  /** The reference CI corpus (`sync_test.go` e2e shape): fixture j is
    * replicated 1000× for subject `j+1`, at `2020-01-01T00:00:00Z + (i+1) ms`.
    */
  def referenceCi(): Corpus = {
    val b = new Builder
    val first = Instant.parse("2020-01-01T00:00:00Z").toEpochMilli
    for (i <- 0 until 1000; j <- 0 until 8)
      b.add(j + 1L, (j + 1).toString, s"ci-$j-$i", first + i + 1, j, None)
    b.result()
  }

  /** Distinct token ids drawn from the seed, ascending. */
  private def tokenIds(r: SplittableRandom, n: Int): IndexedSeq[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet[Long]()
    while (seen.size < n) seen += r.nextLong(1000L, 1000000L)
    seen.toIndexedSeq.sorted
  }

  /** `count` distinct document times inside `[lo, hi)`: evenly spaced slots,
    * each jittered within its own slot.
    */
  private def spread(r: SplittableRandom, lo: Long, hi: Long, count: Int): Array[Long] = {
    val slot = (hi - lo) / count
    require(slot >= 2, s"window too narrow for $count documents")
    Array.tabulate(count)(i => lo + i * slot + r.nextLong(0L, slot))
  }

  /** A skewed fleet: one whale holds `whaleShare` of all `docs`, every other
    * vehicle holds at least one document and the rest are dealt uniformly
    * at random, all inside `[loMs, hiMs)`.
    *
    * The whale is the vehicle in the middle of the census order (subjects
    * sort as strings), whatever the seed: where the whale's scan task falls
    * in the task order decides when it starts, and a seed-drawn position
    * alone moved the round time by about a fifth between seeds.
    */
  def skewed(seed: Long, vehicles: Int, docs: Int, whaleShare: Double,
      loMs: Long, hiMs: Long): Corpus = {
    val r = new SplittableRandom(seed)
    val tokens = tokenIds(r, vehicles)
    val whale = tokens.indexOf(tokens.sortBy(_.toString).apply(vehicles / 2))
    val counts = Array.fill(vehicles)(1)
    counts(whale) = math.round(docs * whaleShare).toInt
    for (_ <- 0 until docs - counts.sum) {
      var v = r.nextInt(vehicles)
      while (v == whale) v = r.nextInt(vehicles)
      counts(v) += 1
    }
    val b = new Builder
    for (v <- 0 until vehicles) {
      val t = tokens(v)
      spread(r, loMs, hiMs, counts(v)).zipWithIndex.foreach { case (ms, j) =>
        b.add(t, t.toString, s"$t-$j", ms, v + j, Some(r))
      }
    }
    b.result()
  }

  /** A cron-tick fleet: every vehicle has `newer` documents at or after
    * `t0Ms` (the history a previous sync already landed) and one document
    * in each of `steps` windows `[t0Ms − k·stepMs, t0Ms − (k−1)·stepMs)`,
    * k = 1..steps, so moving the sync start back one step exposes exactly
    * one unsynced document per vehicle.
    */
  def cron(seed: Long, vehicles: Int, newer: Int, steps: Int, t0Ms: Long,
      stepMs: Long): Corpus = {
    val r = new SplittableRandom(seed)
    val tokens = tokenIds(r, vehicles)
    val b = new Builder
    for (v <- 0 until vehicles) {
      val t = tokens(v)
      val offset = r.nextLong(0L, stepMs)
      val times = (1 to steps).map(k => t0Ms - k * stepMs + offset) ++
        (0 until newer).map(j => t0Ms + j * stepMs + offset)
      times.zipWithIndex.foreach { case (ms, j) =>
        b.add(t, t.toString, s"$t-$j", ms, v + j, Some(r))
      }
    }
    b.result()
  }
}
