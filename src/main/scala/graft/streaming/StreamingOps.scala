package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (§2.9 #54–#57). The reference is batch-only
  * ETL; these make the same event pipeline incremental. Batch/stream parity:
  * every transform here accepts any events-shaped DataFrame, so the exact
  * code paths are exercised both by MemoryStream tests and by the batch
  * fixtures.
  *
  * 100 TB design notes (state is the scaling hazard, not throughput):
  *  - every stateful op sits behind a watermark so state is bounded and
  *    reclaimed; without it, session/dedup state grows without limit.
  *  - for large deployments configure the RocksDB state store provider
  *    (spark.sql.streaming.stateStore.providerClass) — keeps state off-heap
  *    and incremental-checkpointable; the operators here are agnostic.
  *  - session state is per-user and merged incrementally in
  *    flatMapGroupsWithState — state size O(open sessions), not O(events).
  */
object StreamingOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionSummary(user_id: Long, session_start: Timestamp,
                            session_end: Timestamp, n_events: Int, sum_value: Double)

  /** Public: Janino-generated encoder code must reach the accessors. */
  case class SessionState(start: Long, last: Long, n: Int, sum: Double)

  /** #54 watermarked 1-hour tumbling counts; in append mode a window only
    * emits once the watermark passes its end, and later-than-watermark rows
    * are dropped.
    */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket_start"), col("event_type"), col("n_events"))

  /** #454 Streaming k-anonymity release gate — the streaming twin of the
    * batch #453 profile and the #277 ladder's finest rung: watermarked
    * 15-min tumbling (bin, type) counts, append mode so a cell emits
    * ONLY once the watermark closes it (its count is final), and the
    * k-filter releases only cells with ≥ k members. Suppression is
    * simply non-emission. Late rows past the watermark can only be
    * DROPPED — they can never resurrect a suppressed cell or inflate a
    * released one — so a released count is a floor on the cell's true
    * anonymity set: the gate fails closed, the property a privacy
    * release needs from a stream.
    */
  def kAnonymityGate(events: DataFrame, k: Long = 5,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= k)
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n_events"))

  /** Native session_window aggregation — Spark's built-in dynamic-gap
    * session operator (vs the hand-rolled FMGWS sessionize below, which
    * exists for custom per-session state). Sessions merge while events
    * arrive within the gap; the watermark closes a session once it passes
    * last_ts + gap, emitting one row per (user, session) in append mode.
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** #55 stateful dedup on event_id, state expired by watermark. */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** #57 custom sessionization (30-min gap) via flatMapGroupsWithState
    * with event-time timeout: a session closes when the watermark passes
    * last_ts + gap, emitting exactly one summary row per session.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    // r20 ADVICE close: with gap < the 10-minute watermark delay, an
    // in-watermark out-of-order event older than (session start − gap)
    // would be MERGED here but split by the batch twin — and no
    // single-session state can represent the batch semantics in that
    // regime. Fail loudly instead of silently diverging.
    require(gapMinutes >= 10,
      s"sessionize: gapMinutes ($gapMinutes) must be >= the 10-minute " +
        "watermark delay, or cross-batch out-of-order events break " +
        "batch/stream parity")
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, new Timestamp(s.start),
              new Timestamp(s.last + gapMs), s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionSummary]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // INCLUSIVE gap boundary (t ≤ last + gap merges), mirroring
                // the batch twin's `gap_sec > 1800 ⇒ new session` exactly —
                // the r20 review caught the off-by-one at t == last + gap.
                // min() on start: an in-watermark out-of-order event that
                // arrives in a LATER micro-batch than a newer one must
                // still extend the session backwards (within a batch the
                // sort handles it; across batches only min() does).
                case Some(s) if t <= s.last + gapMs =>
                  cur = Some(SessionState(math.min(s.start, t),
                    math.max(s.last, t), s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= SessionSummary(userId, new Timestamp(s.start),
                    new Timestamp(s.last + gapMs), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // setTimeoutTimestamp THROWS if the timeout is not strictly
              // later than the current watermark. Spark 4.1 pre-filters
              // FMGWS input by the watermark (pinned in StreamingSpec), so
              // every surviving row has t ≥ wm and last + gap > wm — but
              // that filter is an implementation detail, not the FMGWS
              // contract, so clamp to watermark + 1 ms as defense in
              // depth: a delivered-late event then closes its (already
              // expired) session at the next watermark advance instead of
              // killing the query.
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

  /** Spark 4 transformWithState (the arbitrary-state successor of
    * flatMapGroupsWithState): a per-user running aggregate held in typed
    * ValueState. Requires the RocksDB state store provider — which is also
    * the 100 TB recommendation (off-heap, incremental checkpoints); the
    * processor itself is provider-agnostic. Emits the updated running
    * totals for every user seen in the micro-batch.
    */
  class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserRunning] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("running",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserRunning] = {
      var (n, sum) = if (state.exists()) state.get() else (0L, 0.0)
      rows.foreach { e => n += 1; sum += e.value }
      state.update((n, sum))
      Iterator.single(UserRunning(key, n, sum))
    }
  }

  /** #57b transformWithState wiring over any events-shaped stream. */
  def runningTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  case class Doc(doc_id: Long, text: String)
  case class CandidatePair(band_idx: Int, band_hash: Long, doc_a: Long, doc_b: Long)

  /** Streaming incremental near-dup candidates: as documents arrive, each
    * is hashed into its 16 LSH band buckets (per-row native
    * [[graft.functions.MinHashSigExpr]] — bit-identical signatures to the
    * batch aggregate, same constants) and checked against the bucket's
    * MEMBERSHIP STATE: a ListState of previously-seen doc ids, capped at
    * [[graft.operators.DedupOps.MaxBucket]] exactly like the batch cap.
    * Emits one (doc_a, doc_b) candidate row per collision with an
    * already-seen doc — the incremental "is this new crawl page a near
    * dup of anything in the corpus" query, with state O(corpus × 16) ids,
    * not O(corpus²) pairs.
    */
  class LshBucketProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), (Int, Long, Long), CandidatePair] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var seen: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[(Int, Long, Long)],
                                 timerValues: TimerValues): Iterator[CandidatePair] = {
      val existing = scala.collection.mutable.ArrayBuffer.from(seen.get())
      val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
      rows.toSeq.sortBy(_._3).foreach { case (bandIdx, bandHash, docId) =>
        // full bucket ⇒ the doc neither pairs nor joins, EXACTLY like the
        // batch rn<=MaxBucket cap — otherwise a hot bucket would emit
        // |bucket| pairs per arrival forever (unbounded output volume)
        if (!existing.contains(docId) &&
            existing.size < graft.operators.DedupOps.MaxBucket) {
          existing.foreach { other =>
            val (a, b) = if (other < docId) (other, docId) else (docId, other)
            out += CandidatePair(bandIdx, bandHash, a, b)
          }
          existing += docId
          seen.appendValue(docId)
        }
      }
      out.iterator
    }
  }

  /** Wiring: docs stream → shingle hashes (shared batch head) → per-row
    * signature → 16 banded rows → keyed bucket state. One shuffle (the
    * groupByKey), bounded per-bucket state.
    */
  def streamingLshCandidates(docs: Dataset[Doc]): Dataset[CandidatePair] = {
    val s = docs.sparkSession
    import s.implicits._
    val perms = graft.operators.DedupOps.NumPerms
    val bands = graft.operators.DedupOps.Bands
    val sigs = graft.operators.DedupOps.withShingleHashes(docs.toDF(), "text")
      .withColumn("sig", expr(s"graft_minhash_sig_arr(sh_hashes, $perms)"))
    val bandCols = (0 until bands).map(b =>
      xxhash64((0 until 4).map(r => element_at(col("sig"), b * 4 + r + 1)): _*).as(s"band$b"))
    sigs.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b => col(s"band$b")): _*)).as(Seq("band_idx", "band_hash")))
      .select(col("band_idx"), col("band_hash"), col("doc_id"))
      .as[(Int, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new LshBucketProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Stream-static enrichment join: every micro-batch joins against a
    * static dimension (user profile, geo lookup) — broadcast per batch,
    * no streaming state, no watermark needed (the static side is
    * re-planned each batch, so a dimension refreshed on disk is picked
    * up without restarting the query). left join keeps events whose
    * dimension row is missing — dropping them silently is the classic
    * enrichment bug.
    */
  def enrichAgainstStatic(events: DataFrame, dim: DataFrame,
                          key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join (view→click attribution): each side is
    * watermarked and the join condition bounds click_ts to a window after
    * view_ts, so Spark can compute a state-eviction watermark for BOTH
    * sides — without the time bound the join state would grow without
    * limit (the 100 TB hazard for stream-stream joins). Inner mode emits
    * matches as they arrive; leftOuter additionally emits (view, null)
    * once the watermark proves no click can still match.
    */
  def streamStreamIntervalJoin(views: DataFrame, clicks: DataFrame,
                               joinType: String = "inner"): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    v.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
      .select(col("user_id"), col("view_id"), col("view_ts"),
        col("click_id"), col("click_ts"))
  }

  /** #56 micro-batch upsert sink: each batch merges into a parquet dir by
    * key (new rows win) — the reference's incremental Socrata publish,
    * streamified via foreachBatch.
    */
  def upsertBatch(spark: org.apache.spark.sql.SparkSession,
                  batch: DataFrame, keyCol: String, targetDir: String): Unit = {
    val target = new java.io.File(targetDir)
    val merged =
      if (target.exists() && target.listFiles().exists(_.getName.endsWith(".parquet"))) {
        val old = spark.read.parquet(targetDir)
        old.join(batch.select(keyCol), Seq(keyCol), "left_anti").unionByName(batch)
      } else batch
    val tmp = targetDir + ".tmp"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    // atomic-ish swap (single-process test harness)
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmr)
      f.delete(): Unit
    }
    if (target.exists()) rmr(target)
    // the old target is gone at this point — a silently failed rename
    // would leave the sink empty/corrupt, so surface it
    if (!new java.io.File(tmp).renameTo(target))
      throw new java.io.IOException(
        s"upsertBatch: rename $tmp -> $targetDir failed after target delete")
  }

  case class CdcOp(okey: Long, seq: Long, op: String, status: String, cents: Long)
  case class CdcCurrent(okey: Long, seq: Long, op: String, status: String,
                        cents: Long)

  /** #287 Streaming CDC apply — the stream twin of
    * [[graft.operators.QualityOps.cdcApply]]'s batch last-op-wins
    * reduction, with TOMBSTONES (which #56's upsertBatch, a
    * new-rows-win upsert, cannot express): per-key ValueState holds the
    * highest-seq operation seen so far; each micro-batch folds its rows
    * into the state and emits the key's new current row, so the LAST
    * emission per key (max seq) IS the final table state whatever the
    * batch slicing — the parity spec replays the identical change log
    * in one batch and in per-seq batches and checks both against the
    * batch operator. State = one row per key EVER SEEN, tombstones
    * included — deliberately: a delete's seq must stay in state so a
    * LATE out-of-order update (seq below the tombstone's) arriving in
    * a later micro-batch is rejected rather than resurrecting the key,
    * which eager state.clear() on delete would silently allow. That
    * matches the batch operator (which always sees every row) at the
    * cost of tombstone rows persisting; a production deployment bounds
    * them with a TTL equal to its maximum tolerated out-of-orderness
    * (TTLConfig here is NONE so the parity replay is exact at any
    * batch slicing — the r20 review adjudicated this trade-off).
    */
  class CdcApplyProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CdcOp, CdcCurrent] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var cur: ValueState[(Long, String, String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[(Long, String, String, Long)]("cur",
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING,
          Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[CdcOp],
                                 timerValues: TimerValues): Iterator[CdcCurrent] = {
      var st = if (cur.exists()) cur.get() else (Long.MinValue, "", "", 0L)
      rows.foreach { r =>
        if (r.seq > st._1) st = (r.seq, r.op, r.status, r.cents)
      }
      cur.update(st)
      Iterator.single(CdcCurrent(key, st._1, st._2, st._3, st._4))
    }
  }

  def cdcApplyStream(log: Dataset[CdcOp]): Dataset[CdcCurrent] = {
    import log.sparkSession.implicits._
    log.groupByKey(_.okey)
      .transformWithState(new CdcApplyProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }
}
