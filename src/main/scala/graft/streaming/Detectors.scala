package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** Stateful stream detectors (SURVEY §2.9 T5/T7/T8), each a
  * `flatMapGroupsWithState` keyed by its natural entity so state shards
  * across executors.
  */
object Detectors {

  // -------------------------------------------------------------------------
  // T7 — rug pair/burst detection: the feed emits the game-over state TWICE
  // within 500 ms (`src/services/game_history_capture.py:80-86`); the second
  // emission is a duplicate to suppress.
  final case class RugEmission(game_id: String, ts: Timestamp)
  final case class RugDetection(game_id: String, ts: Timestamp, is_duplicate: Boolean)
  final case class PairState(lastRugMs: Long)

  val PairWindowMs = 500L // game_history_capture.py:86

  /** Pair state is only meaningful within the 500 ms duplicate window; a
    * generous minute past the watermark evicts it (state-store hygiene —
    * without a timeout every game id ever seen stays resident forever).
    */
  val PairIdleTimeoutMs = 60 * 1000L

  def detectPairsGroup(gameId: String, events: Seq[RugEmission],
      state: PairState): (PairState, Seq[RugDetection]) = {
    var last = state.lastRugMs
    val out = events.sortBy(_.ts.getTime).map { e =>
      val ms = e.ts.getTime
      val dup = last != Long.MinValue && ms - last <= PairWindowMs
      if (!dup) last = ms
      RugDetection(gameId, e.ts, dup)
    }
    (PairState(last), out)
  }

  /** Keyed by game; streaming evicts past [[PairIdleTimeoutMs]] ([[KeyedFold]]). */
  def detectRugPairs(rugs: Dataset[RugEmission]): Dataset[RugDetection] = {
    val spark: SparkSession = rugs.sparkSession
    import spark.implicits._
    KeyedFold(rugs)(_.game_id, _.ts, PairIdleTimeoutMs, PairState(Long.MinValue))(
      detectPairsGroup)
  }

  // -------------------------------------------------------------------------
  // T8 — inter-event gap detection: an event-rate drop is pre-rug evidence;
  // gap >= 350/450/500 ms maps to likelihood ratios 1.5/3/8
  // (`src/analysis/bayesian_rug_signal.py:30-151`).
  final case class TickArrival(session_id: String, ts: Timestamp)
  final case class GapSignal(session_id: String, ts: Timestamp, gap_ms: Long,
      likelihood_ratio: Double)
  final case class GapState(lastMs: Long)

  def gapLikelihoodRatio(gapMs: Long): Double =
    if (gapMs >= 500L) 8.0
    else if (gapMs >= 450L) 3.0
    else if (gapMs >= 350L) 1.5
    else 1.0 // bayesian_rug_signal.py:44-53

  /** A session idle past this horizon loses its last-tick state: its next
    * tick starts a fresh gap baseline instead of emitting a nonsense
    * hours-long "gap" (the reference resets its detector on game end,
    * `bayesian_rug_signal.py:180-184`).
    */
  val GapIdleTimeoutMs = 10 * 60 * 1000L

  def detectGapsGroup(sessionId: String, events: Seq[TickArrival],
      state: GapState): (GapState, Seq[GapSignal]) = {
    var lastMs = state.lastMs
    val out = events.sortBy(_.ts.getTime).flatMap { e =>
      val ms = e.ts.getTime
      val sig = if (lastMs == Long.MinValue) None
      else {
        val gap = ms - lastMs
        Some(GapSignal(sessionId, e.ts, gap, gapLikelihoodRatio(gap)))
      }
      lastMs = ms
      sig
    }
    (GapState(lastMs), out)
  }

  def detectGaps(ticks: Dataset[TickArrival]): Dataset[GapSignal] = {
    val spark: SparkSession = ticks.sparkSession
    import spark.implicits._
    KeyedFold(ticks)(_.session_id, _.ts, GapIdleTimeoutMs, GapState(Long.MinValue))(
      detectGapsGroup)
  }

  // -------------------------------------------------------------------------
  // T5 — sliding retention buffer: the live UI keeps the last 5000 ticks per
  // game for display and range queries (`src/core/live_ring_buffer.py:33-48`).
  // Spark shape: bounded keyed state; each micro-batch emits the current
  // window snapshot stats (the "range query" surface of the ring buffer).
  final case class Tick(game_id: String, tick: Int, price: Double, ts: Timestamp)
  final case class RingSnapshot(game_id: String, n_buffered: Int,
      min_tick: Int, max_tick: Int, last_price: Double)
  final case class RingState(ticks: List[(Int, Double)]) // bounded, tick-ordered

  val RingCapacity = 5000 // live_ring_buffer.py:33

  /** A game with no ticks for this long is over — drop its buffer (the
    * reference recycles a game's ring on game end; here eviction also
    * bounds total state at (active games) x capacity instead of (all games
    * ever) x capacity).
    */
  val RingIdleTimeoutMs = 30 * 60 * 1000L

  def ringGroup(capacity: Int)(gameId: String, events: Seq[Tick],
      state: RingState): (RingState, Seq[RingSnapshot]) = {
    val merged = (state.ticks ++ events.sortBy(_.tick).map(t => (t.tick, t.price)))
      .takeRight(capacity)
    (RingState(merged),
      if (merged.isEmpty) Nil
      else Seq(RingSnapshot(gameId, merged.size,
        // min/max scanned, not head/last: a late cross-batch tick makes the
        // concatenation only per-batch sorted
        merged.iterator.map(_._1).min, merged.iterator.map(_._1).max,
        merged.last._2)))
  }

  def ringBuffer(ticks: Dataset[Tick], capacity: Int = RingCapacity): Dataset[RingSnapshot] = {
    val spark: SparkSession = ticks.sparkSession
    import spark.implicits._
    KeyedFold(ticks)(_.game_id, _.ts, RingIdleTimeoutMs, RingState(Nil))(ringGroup(capacity))
  }
}
