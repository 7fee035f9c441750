package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed-state policy every streaming fold in this package shares
  * ([[Normalizer]], [[Detectors]], [[IntegrityMonitor]]): a
  * `flatMapGroupsWithState` keyed by the fold's entity, on a streaming or a
  * batch Dataset.
  *
  * Streaming adds the `ts` watermark and evicts a key's state once the
  * watermark passes its deadline: `ttlMs` past the newest event the key has
  * seen, floored at the watermark (in the first batch the watermark is still
  * 0, and a deadline anchored there would expire the moment real 2020s
  * timestamps advance it). A processing-time timeout is not an option:
  * `shouldRunAnotherBatch` is always true under it, hot-looping the no-data
  * re-trigger. Batch state dies with the job, so eviction is skipped
  * (NoTimeout).
  */
private[streaming] object KeyedFold {

  /** `step` folds one key's micro-batch (in arrival order; each fold sorts
    * what it needs) into its state, `zero` for a new key, and returns the
    * new state and the rows to emit.
    */
  def apply[T, K: Encoder, S: Encoder, U: Encoder](events: Dataset[T])(key: T => K,
      ts: T => Timestamp, ttlMs: Long, zero: S)(
      step: (K, Seq[T], S) => (S, Seq[U])): Dataset[U] = {
    val evict = events.isStreaming
    def group(k: K, batch: Iterator[T], state: GroupState[S]): Iterator[U] =
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val rows = batch.toSeq
        val (next, out) = step(k, rows, state.getOption.getOrElse(zero))
        state.update(next)
        if (evict) {
          val newestMs = rows.iterator.map(ts(_).getTime).maxOption.getOrElse(0L)
          state.setTimeoutTimestamp(
            math.max(newestMs, state.getCurrentWatermarkMs()) + ttlMs)
        }
        out.iterator
      }
    if (evict)
      events.withWatermark("ts", Normalizer.WatermarkDelay)
        .groupByKey(key)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(group)
    else
      events.groupByKey(key)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(group)
  }
}
