package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** T2/T3 (SURVEY §2.9): raw wire events → normalized events with a monotonic
  * per-session `seq`, game_id carry-forward, and a validated phase machine.
  *
  * Reference: `src/foundation/normalizer.py:51-84` (seq assignment + game_id
  * carry), `normalizer.py:143-162` + `src/sources/game_state_machine.py:51-177`
  * (phase detection + legal-transition validation).
  *
  * Spark shape: `groupByKey(session_id).flatMapGroupsWithState` — the state
  * (next seq, last game_id, phase) lives in the state store, checkpointed
  * with the query, so the operator scales horizontally by session key and
  * recovers exactly-once. Events inside a micro-batch group are sorted by
  * (ts, event order) before folding — the reference's single-threaded bus
  * delivers in order; under distribution the sort restores per-batch order
  * (cross-batch disorder is bounded by the source's watermark, T13).
  */
object Normalizer {

  /** Idle-session eviction horizon: a session whose events fall this far
    * behind the watermark has its state dropped (unbounded keyed state
    * otherwise grows forever in a long-running stream). A session resuming
    * later restarts at seq 0 in Cooldown — the same cold-start the
    * reference performs when its in-memory session map is recycled.
    */
  val SessionIdleTimeoutMs: Long = 30 * 60 * 1000L

  /** Max event-time disorder the stream tolerates before state eviction
    * may discard a session (T13 horizon).
    */
  val WatermarkDelay = "10 minutes"

  def normalizeGroup(sessionId: String, events: Seq[RawEvent],
      state: SessionState): (SessionState, Seq[NormalizedEvent]) = {
    var st = state
    val out = events.sortBy(e => (e.ts.getTime, e.event_name)).map { e =>
      val gameId = e.game_id.orElse(st.lastGameId)
      val (phase, valid) = Phases.proposed(e.event_name) match {
        case Some(p) if Phases.legal(st.phase).contains(p) => (p, true)
        case Some(_) => (st.phase, false) // illegal transition: keep, flag
        case None => (st.phase, true)     // no phase evidence
      }
      val n = NormalizedEvent(sessionId, st.nextSeq, e.ts, e.event_name,
        gameId, phase, valid, e.tick, e.price, e.raw_json)
      st = SessionState(st.nextSeq + 1, gameId, phase)
      n
    }
    (st, out)
  }

  /** Works on both a streaming and a batch Dataset ([[KeyedFold]]):
    * streaming evicts a session idle past [[SessionIdleTimeoutMs]].
    */
  def normalize(raw: Dataset[RawEvent]): Dataset[NormalizedEvent] = {
    val spark: SparkSession = raw.sparkSession
    import spark.implicits._
    KeyedFold(raw)(_.session_id, _.ts, SessionIdleTimeoutMs,
      SessionState(0L, None, Phases.Cooldown))(normalizeGroup)
  }
}
