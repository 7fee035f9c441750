package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** Feed-health state machines (T10/T12 adjuncts): the reference's
  * DataIntegrityMonitor (`src/sources/data_integrity_monitor.py:38-230` —
  * tick-gap / bad-game thresholds trigger monitor mode, one clean game
  * recovers) and GracefulDegradationManager
  * (`src/sources/feed_degradation.py:19-130` — NORMAL/DEGRADED/MINIMAL/
  * OFFLINE from error+spike counts, recovery after a quiet window), both
  * driver-side singletons with wall-clock time in the reference.
  *
  * Spark shape: each is a `flatMapGroupsWithState` fold keyed by
  * session — state shards across executors (N feeds monitored in one
  * stream), and ALL timing is event time (the event's own ts drives
  * recovery windows), so a replay of a recorded feed reproduces the exact
  * mode history the live run saw — the reference's wall-clock version
  * can't do that. Batch/streaming dispatch and watermark-based state
  * eviction are [[KeyedFold]]'s, as for [[Detectors]].
  */
object IntegrityMonitor {

  // --- DataIntegrityMonitor -----------------------------------------------

  /** Unified health-event row. `kind` ∈ tick | game_start | game_end |
    * connection_lost | connection_restored; `tick` for kind=tick;
    * `clean` for kind=game_end.
    */
  final case class FeedEvent(session_id: String, ts: Timestamp, kind: String,
      game_id: String, tick: Int, clean: Boolean)

  final case class IntegritySignal(session_id: String, ts: Timestamp,
      issue: String, triggered: Boolean, consecutive_tick_gaps: Int,
      consecutive_bad_games: Int)

  final case class IntegrityState(triggered: Boolean, tickGaps: Int,
      badGames: Int, lastTick: Int, lastEventMs: Long)

  /** TICKS (consecutive missing ticks) or GAMES (consecutive abnormal
    * ends) — mutually exclusive in the reference's config
    * (`data_integrity_monitor.py:57-68`).
    */
  val ThresholdTicks = "TICKS"
  val ThresholdGames = "GAMES"

  val IntegrityIdleTimeoutMs = 10 * 60 * 1000L

  /** The reference fold, exactly (`data_integrity_monitor.py:116-217`):
    *   - tick > expected: gap ACCUMULATES (`+= gap_size`); tick == expected
    *     resets the counter; TICKS threshold triggers on accumulation
    *   - game_start resets tick tracking (lastTick = -1)
    *   - game_end clean=false increments bad games (GAMES threshold);
    *     clean=true resets the counter — and while triggered, a clean end
    *     IS the "clean game observed" recovery (monitor mode exits,
    *     counters clear)
    *   - connection_lost triggers immediately at any threshold type;
    *     connection_restored does NOT auto-recover (clean game required)
    * A signal row is emitted for every event that changes triggered state
    * or records an issue (gap/bad game), not on every tick — the
    * monitoring stream is sparse even on a dense feed.
    */
  def integrityGroup(thresholdType: String, thresholdValue: Int)(
      sessionId: String,
      events: Seq[FeedEvent],
      state: IntegrityState): (IntegrityState, Seq[IntegritySignal]) = {
    var s = state
    val out = scala.collection.mutable.ArrayBuffer.empty[IntegritySignal]
    // Always emits: the contract is a row for every issue record, so a
    // gap/bad-game/lost-connection arriving while ALREADY triggered still
    // produces its issue row (only the triggered flag stops changing).
    def trigger(e: FeedEvent, issue: String): Unit = {
      s = s.copy(triggered = true)
      out += IntegritySignal(sessionId, e.ts, issue,
        triggered = true, s.tickGaps, s.badGames)
    }
    events.sortBy(_.ts.getTime).foreach { e =>
      s = s.copy(lastEventMs = e.ts.getTime)
      e.kind match {
        case "tick" =>
          if (s.lastTick >= 0) {
            val expected = s.lastTick + 1
            if (e.tick > expected) {
              val gap = e.tick - expected
              s = s.copy(tickGaps = s.tickGaps + gap)
              if (thresholdType == ThresholdTicks && s.tickGaps >= thresholdValue)
                trigger(e, "tick_gap")
              else out += IntegritySignal(sessionId, e.ts, "tick_gap",
                s.triggered, s.tickGaps, s.badGames)
            } else if (e.tick == expected) s = s.copy(tickGaps = 0)
          }
          s = s.copy(lastTick = e.tick)
        case "game_start" =>
          s = s.copy(lastTick = -1)
        case "game_end" =>
          if (e.clean) {
            s = s.copy(badGames = 0)
            if (s.triggered) { // clean game observed -> recover
              s = s.copy(triggered = false, tickGaps = 0, badGames = 0)
              out += IntegritySignal(sessionId, e.ts, "recovered",
                triggered = false, 0, 0)
            }
          } else {
            s = s.copy(badGames = s.badGames + 1)
            if (thresholdType == ThresholdGames && s.badGames >= thresholdValue)
              trigger(e, "abnormal_game_end")
            else out += IntegritySignal(sessionId, e.ts, "abnormal_game_end",
              s.triggered, s.tickGaps, s.badGames)
          }
          s = s.copy(lastTick = -1)
        case "connection_lost" => trigger(e, "connection_lost")
        case "connection_restored" => () // recovery needs a clean game
        case _ => ()
      }
    }
    (s, out.toSeq)
  }

  def monitor(events: Dataset[FeedEvent],
      thresholdType: String = ThresholdTicks,
      thresholdValue: Int = 20): Dataset[IntegritySignal] = {
    val spark: SparkSession = events.sparkSession
    import spark.implicits._
    KeyedFold(events)(_.session_id, _.ts, IntegrityIdleTimeoutMs,
      IntegrityState(triggered = false, 0, 0, -1, 0L))(
      integrityGroup(thresholdType, thresholdValue))
  }

  // --- GracefulDegradationManager ------------------------------------------

  /** `kind` ∈ error | spike | disconnect | reconnect | heartbeat (any
    * event whose ts advances time — recovery is event-time driven).
    */
  final case class HealthEvent(session_id: String, ts: Timestamp, kind: String)

  final case class ModeChange(session_id: String, ts: Timestamp,
    mode: String, errors_in_window: Int, spikes_in_window: Int)

  final case class ModeState(mode: String, errors: Int, spikes: Int,
      lastIssueMs: Long, lastEventMs: Long)

  val Normal = "NORMAL"
  val Degraded = "DEGRADED"
  val Minimal = "MINIMAL"
  val Offline = "OFFLINE"

  val ModeIdleTimeoutMs = 10 * 60 * 1000L

  /** Mode evaluation (`feed_degradation.py:118-160`): ≥ 2×errorThreshold
    * errors → MINIMAL; ≥ errorThreshold errors or ≥ spikeThreshold
    * spikes → DEGRADED; disconnect → OFFLINE (sticky until reconnect,
    * which lands in DEGRADED); a recovery window with no issues (event
    * time, checked as each event arrives) clears the counters → NORMAL.
    */
  def degradationGroup(errorThreshold: Int, spikeThreshold: Int,
      recoveryWindowMs: Long)(
      sessionId: String,
      events: Seq[HealthEvent],
      state: ModeState): (ModeState, Seq[ModeChange]) = {
    var s = state
    val out = scala.collection.mutable.ArrayBuffer.empty[ModeChange]
    def setMode(ts: Timestamp, mode: String): Unit =
      if (s.mode != mode) {
        s = s.copy(mode = mode)
        out += ModeChange(sessionId, ts, mode, s.errors, s.spikes)
      }
    def evaluate(ts: Timestamp): Unit =
      if (s.mode != Offline) {
        if (s.errors >= errorThreshold * 2) setMode(ts, Minimal)
        else if (s.errors >= errorThreshold || s.spikes >= spikeThreshold)
          setMode(ts, Degraded)
      }
    events.sortBy(_.ts.getTime).foreach { e =>
      val ms = e.ts.getTime
      // event-time check_recovery before processing the new event. Runs
      // in NORMAL too: the counters are windowed ("errors_in_window"), so
      // a quiet recovery window must clear them even when no mode change
      // results — otherwise isolated errors hours apart accumulate until
      // they falsely trip DEGRADED. Offline stays sticky (reconnect only).
      if (s.mode != Offline && s.lastIssueMs != Long.MinValue &&
          ms - s.lastIssueMs >= recoveryWindowMs) {
        s = s.copy(errors = 0, spikes = 0)
        setMode(e.ts, Normal)
      }
      e.kind match {
        case "error" =>
          s = s.copy(errors = s.errors + 1, lastIssueMs = ms); evaluate(e.ts)
        case "spike" =>
          s = s.copy(spikes = s.spikes + 1, lastIssueMs = ms); evaluate(e.ts)
        case "disconnect" => setMode(e.ts, Offline)
        case "reconnect" =>
          if (s.mode == Offline) { s = s.copy(lastIssueMs = ms); setMode(e.ts, Degraded) }
        case _ => () // heartbeat: time advance only
      }
      s = s.copy(lastEventMs = ms)
    }
    (s, out.toSeq)
  }

  def degradation(events: Dataset[HealthEvent], errorThreshold: Int = 10,
      spikeThreshold: Int = 5,
      recoveryWindowMs: Long = 60000L): Dataset[ModeChange] = {
    val spark: SparkSession = events.sparkSession
    import spark.implicits._
    KeyedFold(events)(_.session_id, _.ts, ModeIdleTimeoutMs,
      ModeState(Normal, 0, 0, Long.MinValue, 0L))(
      degradationGroup(errorThreshold, spikeThreshold, recoveryWindowMs))
  }
}
