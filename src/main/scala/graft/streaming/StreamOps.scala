package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference has NO data streaming — its
  * `/stream-extract` is SSE progress reporting (SURVEY.md §2.4) — so these
  * are the engine's own streaming dedup operators for the continuous-ingest
  * path a production corpus has. Each backs a streaming-executed contract
  * query in `Queries`:
  *
  *  - `dedupStream`: exact dedup, first doc per fingerprint (`dd_stream_exact`).
  *  - `nearDupStream`: minhash-band near-dup candidates from cross-batch
  *    state (`dd_stream_near`).
  *  - `nearDupStreamTtl`: the same with event-time TTL-bounded state
  *    (`dd_stream_near_ttl`).
  */
object StreamOps {

  /** Streaming exact dedup — the continuous-ingest form of `Dedup.exact`:
    * keyed by the md5 fingerprint of the normalized text, state = the first
    * doc_id seen; only the FIRST doc per fingerprint is emitted, duplicates
    * (within and across micro-batches) are dropped. State is one 16-byte
    * key + one id per distinct doc — the smallest state that makes the
    * guarantee; at 10^12 docs you'd bound it with a timeout/TTL (the
    * dedup-window tradeoff every streaming pipeline makes).
    * Within a micro-batch, ties break by smallest doc_id (deterministic,
    * mirrors `Dedup.exact`'s `min(keeper)`). */
  def dedupStream(docs: Dataset[(Long, String)]): Dataset[(Long, String)] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("_1").as("doc_id"),
        graft.operators.TextOps.fingerprintCol(col("_2")).as("fp"),
        col("_2").as("text"))
      .as[(Long, String, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = it.minBy(_._1)
            state.update(first._1)
            Iterator((first._1, first._3))
          }
      }
  }

  /** Streaming NEAR-dup candidate detection — the continuous-ingest form of
    * minhash-LSH banding (`Dedup.bandRows`): keyed by (band, digest), state
    * = the smallest doc_id seen for that digest; every arriving band row
    * whose digest was already seen by a smaller id emits
    * (doc_id, base = that smaller id). Cross-micro-batch state does the
    * work: a doc arriving days after its near-original still collides.
    *
    * Emission contract (what makes this BATCH-REPLAYABLE, hence
    * oracle-exact): assuming ids are assigned in arrival order (an append
    * log's natural property; within a micro-batch the group sorts by id),
    * the per-doc minimum over emitted bases equals the batch semantics
    * "smallest doc sharing any band digest with me, among docs before
    * me" — the same LEFT-JOIN-min a batch engine computes over
    * `minhashCandidates` output. Per-doc resolution (min across bands)
    * happens in a batch read-back of the sink: a stateful flatMap followed
    * by a streaming aggregation is still a restricted multi-stateful
    * combination, and the cross-batch STATE is the part that needs to be
    * streaming.
    *
    * State size: one long per distinct (band, digest) — 4 rows/doc at the
    * defaults; at 10^12 docs you bound it with a TTL (the dedup-window
    * trade every streaming pipeline makes; `GroupStateTimeout` slot is
    * where that lands). Docs with < 3 words have null digests and are
    * filtered out (they cannot collide in the batch form either). */
  def nearDupStream(docs: Dataset[(Long, String)],
      numPerms: Int = 8, rowsPerBand: Int = 2): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    graft.operators.Dedup
      .bandRows(docs.toDF("doc_id", "text"), "doc_id", "text", numPerms, rowsPerBand)
      .filter(col("digest").isNotNull)
      .select(col("band"), col("digest"), col("doc_id"))
      .as[(Int, String, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Long]) =>
          val ids = it.map(_._3).toArray.sorted
          var m = state.getOption.getOrElse(Long.MaxValue)
          val out = Vector.newBuilder[(Long, Long)]
          for (id <- ids) {
            if (m < id) out += ((id, m))
            if (id < m) m = id
          }
          state.update(m)
          out.result().iterator
      }
  }

  /** TTL-bounded streaming near-dup — `nearDupStream` with EVENT-TIME
    * state expiry: unbounded band state is impossible at 10^12 docs (4
    * rows per distinct doc, forever), so production streaming dedup always
    * bounds its window. State per (band, digest) = (min id, last-seen
    * event time). Expiry is decided in EVENT TIME against each arriving
    * row, so a near-dup whose event time is past last-seen + ttl starts a
    * new window even when it shares a micro-batch with earlier rows. The
    * watermark-driven timeout is pure state CLEANUP of entries no
    * in-window row can extend again. Observing a collision EXTENDS the
    * window (sliding TTL). A near-dup of content older than the window is
    * reported as new (the bounded-window recall trade, stated not hidden).
    *
    * LATE-DATA BOUNDARY: the watermark has zero delay, and Spark's
    * FlatMapGroupsWithStateExec drops input rows older than it BEFORE the
    * user function runs. A row whose event time is behind the max event
    * time of an EARLIER micro-batch is therefore silently discarded — for
    * a dedup operator, a dropped genuinely-new doc is silent data loss.
    *
    * BATCHING-INDEPENDENCE: within a batch, rows are processed in
    * (event-time, id) order, so for streams whose cross-batch arrival is
    * event-time-ordered (an append log with ids assigned in arrival order)
    * the output is identical however the stream is micro-batched. A source
    * with cross-batch disorder needs a lateness bound on the watermark,
    * and then an admitted out-of-order row's min-id assignment depends on
    * where the batch boundary falls.
    *
    * Input: (doc_id, text, event_ts). Output: (doc_id, smaller in-window
    * id sharing a band digest), one row per colliding band. */
  def nearDupStreamTtl(docs: Dataset[(Long, String, java.sql.Timestamp)],
      ttlMs: Long, numPerms: Int = 8, rowsPerBand: Int = 2): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    graft.operators.Dedup
      .bandRows(docs.toDF("doc_id", "text", "ts"), "doc_id", "text",
        numPerms, rowsPerBand, keepCols = Seq("ts"))
      .filter(col("digest").isNotNull)
      .select(col("band"), col("digest"), col("doc_id"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .as[(Int, String, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(Long, Long), (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // expiry decided against EACH row's event time, in
            // (event-time, id) order; the watermark timeout below only
            // cleans up state
            val rows = it.toArray.sortBy(r => (r._4.getTime, r._3))
            var st = state.getOption // (min id, last seen)
            val out = Vector.newBuilder[(Long, Long)]
            for (r <- rows) {
              val ts = r._4.getTime
              st = st match {
                case Some((m, last)) if ts <= last + ttlMs =>
                  if (m < r._3) out += ((r._3, m))
                  Some((math.min(m, r._3), math.max(last, ts)))
                case _ => // window expired: this row starts a new one
                  Some((r._3, ts))
              }
            }
            val (m, last) = st.get // rows non-empty in the data branch
            state.update((m, last))
            // timeout timestamps must sit above the current watermark; a
            // row whose window is already past just leaves its state
            // immediately cleanup-eligible
            state.setTimeoutTimestamp(
              math.max(last + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }
}
