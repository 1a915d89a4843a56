package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.core.VisibleTextOptions

/** Stateful Structured-Streaming variant of the conversation digest:
  * `readStream → withWatermark(ts) → groupByKey(conv_id) →
  * mapGroupsWithState`, carrying the same constant-size [[ConvDigestState]]
  * per conversation that the batch [[ConvDigest.Agg]] computes.
  *
  * Scale shape: state is O(1) per conversation (three longs), the digest is
  * an order-independent XOR so out-of-order turns fold in without re-reading
  * history, and extraction runs per row with the batch budgets (total —
  * poison rows degrade to an error inside extractOne, never fail the
  * query). Each turn is parsed once, on the task thread, at any depth its
  * budgets allow. Each micro-batch emits the updated running digest per
  * touched conversation (OutputMode.Update).
  *
  * State eviction: the input stream MUST carry a watermark on `ts` (the
  * caller's `.withWatermark("ts", ...)`); each update arms an event-time
  * timeout at watermark + `stateTtlMs`, so a conversation idle past the TTL
  * emits its digest once more and is evicted — state is bounded by ACTIVE
  * conversations, not all conversations ever seen. A turn arriving after
  * eviction starts a fresh digest for that conversation (callers that need
  * exactly-once-per-conversation folds must XOR the emitted updates
  * downstream, which is associative and order-independent).
  *
  * Late turns: Spark drops a turn whose `ts` is at or before the current
  * event-time watermark before it reaches the state function. The first
  * micro-batch runs at the initial watermark, the epoch (0 ms), so a turn
  * with `ts` at or before 1970-01-01T00:00:00Z never counts here, although
  * the batch [[ConvDigest]] counts it. Dropped turns are reported only in
  * the query progress (`stateOperators(i).numRowsDroppedByWatermark`).
  */
object StreamingDigest {

  final case class ConvUpdate(conv_id: String, n_turns: Long, digest: Long,
                              n_chars: Long)

  /** Per-turn extracted-text digests over a streaming typed transcript
    * Dataset. The input must have `.withWatermark("ts", ...)` applied
    * upstream — the watermark drives state eviction (see object scaladoc).
    */
  def updates(turns: Dataset[TranscriptTurn],
              stateTtlMs: Long = 3600000L): Dataset[ConvUpdate] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .groupByKey(_.conv_id)
      .mapGroupsWithState[ConvDigestState, ConvUpdate](GroupStateTimeout.EventTimeTimeout) {
        (convId: String, rows: Iterator[TranscriptTurn], state: GroupState[ConvDigestState]) =>
          if (state.hasTimedOut) {
            // watermark passed last activity + TTL: emit the final running
            // digest once more and evict
            val st = state.get
            state.remove()
            ConvUpdate(convId, st.n_turns, st.digest, st.n_chars)
          } else {
            var st = state.getOption.getOrElse(ConvDigestState(0L, 0L, 0L))
            rows.map(Extraction.extractOne(_, Extraction.DefaultBudgets, VisibleTextOptions())).foreach { e =>
              st = ConvDigestState(
                st.n_turns + 1L,
                st.digest ^ ConvDigest.turnHash(e.turn_idx.toLong, e.extracted_text),
                st.n_chars + e.extracted_text.length.toLong)
            }
            state.update(st)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + stateTtlMs)
            ConvUpdate(convId, st.n_turns, st.digest, st.n_chars)
          }
      }
  }
}
