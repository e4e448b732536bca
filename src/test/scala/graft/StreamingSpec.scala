package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** §2.9 #54–#57: Structured Streaming behavior under watermarks — late-row
  * dropping, stateful dedup, custom session state, micro-batch upsert sink.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private def runBatches[A](stream: MemoryStream[A], name: String,
                            transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                            batches: Seq[Seq[A]], outputMode: String): Unit = {
    val q = transform(stream.toDF())
      .writeStream.format("memory").queryName(name).outputMode(outputMode)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
  }

  test("#54 watermarked tumbling agg drops late rows in append mode") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    runBatches(stream, "tumbling",
      df => StreamingOps.tumblingCounts(df, "10 minutes"),
      Seq(
        Seq(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 1, "click", 1.0)),
        // advance watermark past 11:10 so the 10:00 window closes
        Seq(Event(3, Timestamp.valueOf("2024-01-01 11:30:00"), 1, "click", 1.0)),
        // this event is in the closed 10:00 window → must be dropped
        Seq(Event(4, ts(45), 1, "click", 1.0)),
        Seq(Event(5, Timestamp.valueOf("2024-01-01 12:45:00"), 1, "click", 1.0))),
      "append")
    val out = spark.table("tumbling").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
    // the 10:00 window emitted exactly the 2 on-time events; late event 4 dropped
    assert(out("2024-01-01 10:00:00.0") === 2L)
  }

  test("#454 streaming k-anonymity gate releases only closed cells with >= k members") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    runBatches(stream, "kanon_gate",
      df => StreamingOps.kAnonymityGate(df, k = 5),
      Seq(
        // 10:00 cell: 5 clicks (releasable); 10:15 cell: 2 views (suppress)
        Seq((1 to 5).map(i => Event(i.toLong, ts(i), 1, "click", 1.0)) ++
          Seq(Event(10, ts(16), 2, "view", 1.0), Event(11, ts(17), 3, "view", 1.0)): _*),
        // advance the watermark far past both cells so they close
        Seq(Event(20, Timestamp.valueOf("2024-01-01 12:00:00"), 1, "click", 1.0)),
        // late click into the already-closed 10:00 cell: dropped — the
        // released count stays the floor, no duplicate emission
        Seq(Event(21, ts(3, 30), 1, "click", 1.0)),
        Seq(Event(22, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "click", 1.0))),
      "append")
    val out = spark.table("kanon_gate").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out.get(("2024-01-01 10:00:00.0", "click")) === Some(5L),
      "the 5-member cell is released with its final count")
    assert(!out.keys.exists(_._2 == "view"),
      "the 2-member cell is suppressed (never emitted)")
    assert(out.count(_._1._2 == "click") <= 3,
      "no duplicate emission for the closed cell")
  }

  test("native session_window merges within the gap and closes on watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    runBatches(stream, "sessions_native",
      df => StreamingOps.sessionWindowCounts(df, "10 minutes", "10 minutes"),
      Seq(
        // three events 5 min apart → ONE session (each extends the gap)
        Seq(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 1.0),
          Event(3, ts(10), 1, "click", 1.0)),
        // a separate user in the same batch, single event
        Seq(Event(4, ts(12), 2, "view", 1.0)),
        // advance the watermark far past every open session → all close
        Seq(Event(5, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "click", 1.0))),
      "append")
    val out = spark.table("sessions_native").collect()
      .map(r => (r.getLong(2), r.getTimestamp(0).toString, r.getTimestamp(1).toString,
        r.getLong(3)))
    val byUser = out.groupBy(_._1)
    // user 1: one merged session [10:00, 10:20) (last event + gap), 3 events
    assert(byUser(1L).toSeq === Seq((1L, "2024-01-01 10:00:00.0", "2024-01-01 10:20:00.0", 3L)),
      s"user-1 session wrong: ${byUser(1L).toSeq}")
    // user 2: singleton session [10:12, 10:22)
    assert(byUser(2L).toSeq === Seq((2L, "2024-01-01 10:12:00.0", "2024-01-01 10:22:00.0", 1L)))
    // streaming result equals the batch session_window over the same rows
    val batchRows = Seq(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 1.0),
      Event(3, ts(10), 1, "click", 1.0), Event(4, ts(12), 2, "view", 1.0))
    val batch = StreamingOps.sessionWindowCounts(batchRows.toDF(), "10 minutes", "0 seconds")
      .collect().map(r => (r.getLong(2), r.getTimestamp(0).toString,
        r.getTimestamp(1).toString, r.getLong(3))).toSet
    assert(out.filter(_._1 != 9L).toSet === batch,
      "streaming sessions must equal the batch session_window result")
  }

  test("#55 dropDuplicatesWithinWatermark dedups within the watermark window") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    runBatches(stream, "dedup",
      df => StreamingOps.dedupWithinWatermark(df, "10 minutes"),
      Seq(
        Seq(Event(1, ts(0), 1, "click", 1.0), Event(1, ts(1), 1, "click", 1.0)),
        Seq(Event(1, ts(2), 1, "click", 1.0), Event(2, ts(3), 1, "view", 2.0))),
      "append")
    val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L))
  }

  test("#57 flatMapGroupsWithState emits one summary per closed session") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = StreamingOps.sessionize(stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // session A: 10:00-10:05 (2 events); then silence; session B at 12:00
      stream.addData(Seq(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "view", 2.0)))
      q.processAllAvailable()
      // watermark jump far past session A's timeout → A closes
      stream.addData(Seq(Event(3, Timestamp.valueOf("2024-01-01 12:00:00"), 7, "click", 4.0)))
      q.processAllAvailable()
      stream.addData(Seq(Event(4, Timestamp.valueOf("2024-01-01 14:00:00"), 7, "click", 8.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sessions").collect()
      .map(r => (r.getTimestamp(1).toString, r.getInt(3), r.getDouble(4))).sortBy(_._1)
    assert(rows.length >= 2)
    assert(rows.head === ("2024-01-01 10:00:00.0", 2, 3.0))
    assert(rows(1) === ("2024-01-01 12:00:00.0", 1, 4.0))
  }

  test("#57 sessionize r20 pins: inclusive gap, backward merge, late-row survival") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = StreamingOps.sessionize(stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_r20").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: single event 10:30 → watermark advances to 10:20
      stream.addData(Seq(Event(1, ts(30), 9, "click", 1.0)))
      q.processAllAvailable()
      // batch 2, both in-watermark:
      //  (b) BACKWARD merge — 10:25 precedes the stored session start
      //      10:30; pre-r20 the stored start won and session_start read
      //      10:30 (batch/stream parity break);
      //  (a) INCLUSIVE boundary — 11:00 is EXACTLY last + 30 min; the
      //      batch twin's `gap_sec > 1800` keeps it in the session,
      //      pre-r20 streaming's `<` split it.
      stream.addData(Seq(Event(2, ts(25), 9, "view", 2.0),
        Event(3, Timestamp.valueOf("2024-01-01 11:00:00"), 9, "click", 4.0)))
      q.processAllAvailable()
      // far-future event closes the merged session (watermark → 12:50)
      stream.addData(Seq(Event(4, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "click", 8.0)))
      q.processAllAvailable()
      // (c) late-row platform pin: 10:10 is far more than gap behind
      // the 12:50 watermark. Spark 4.1 PRE-FILTERS
      // flatMapGroupsWithState input by the watermark (verified here:
      // the row never reaches the function, no 10:10 session appears),
      // which is what makes setTimeoutTimestamp(last + gap) safe —
      // every surviving row has t ≥ wm, so last + gap > wm. The
      // operator still clamps the timeout to wm + 1 as defense in
      // depth (the FMGWS contract does not PROMISE the filter; a
      // version that delivers late rows would otherwise throw
      // `timeout ≤ watermark` and kill the query). Either way the
      // query must survive this batch.
      stream.addData(Seq(Event(5, ts(10), 9, "click", 16.0)))
      q.processAllAvailable()
      stream.addData(Seq(Event(6, Timestamp.valueOf("2024-01-01 15:00:00"), 9, "click", 32.0)))
      q.processAllAvailable()
      assert(q.isActive, "a very late row must not kill the query")
    } finally q.stop()
    val rows = spark.table("sessions_r20").collect()
      .map(r => (r.getTimestamp(1).toString, r.getInt(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.exists(r => r == (("2024-01-01 10:25:00.0", 3, 7.0))),
      s"backward-merged inclusive-gap session missing: ${rows.mkString(";")}")
    assert(!rows.exists(_._1 == "2024-01-01 10:10:00.0"),
      s"later-than-watermark row must be dropped pre-function: ${rows.mkString(";")}")
  }

  test("#57b transformWithState keeps per-user running totals across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      val q = StreamingOps.runningTotals(stream.toDS())
        .writeStream.format("memory").queryName("running").outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        stream.addData(Seq(Event(1, ts(0), 7, "click", 2.0), Event(2, ts(1), 7, "view", 3.0)))
        q.processAllAvailable()
        stream.addData(Seq(Event(3, ts(2), 7, "click", 5.0), Event(4, ts(2), 8, "view", 1.0)))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("running").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch 1 emits (7, 2, 5.0); batch 2 emits the UPDATED (7, 3, 10.0) + new (8, 1, 1.0)
      assert(rows === Set((7L, 2L, 5.0), (7L, 3L, 10.0), (8L, 1L, 1.0)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("#56 foreachBatch upsert sink: new batch wins, old rows survive") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/t"
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("id", "payload")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingOps.upsertBatch(spark, batch, "id", dir)
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      stream.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      stream.addData(Seq((2L, "b2"), (3L, "c")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("multimodal PNG decode runs incrementally over a payload stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.Multimodal
    // the decode stages are stateless typed maps, so the SAME code path
    // that serves the batch queries must run under readStream unchanged;
    // feed real PNG containers through MemoryStream and check the
    // decoded pixel sums against the closed-form formula per batch
    val recs = Multimodal.mediaTable(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 8)
      .as[Multimodal.MediaRecord].collect().toSeq
    val stream = MemoryStream[Multimodal.MediaRecord]
    val q = Multimodal.decodeFeatures(stream.toDS())
      .writeStream.format("memory").queryName("mm_decode").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      recs.grouped(3).foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val out = spark.table("mm_decode").as[Multimodal.FramePixels].collect()
    assert(out.length === recs.length, "one decoded row per streamed payload")
    out.foreach { f =>
      val (w, h) = ((f.doc_id % 16 + 1).toInt, (f.doc_id % 9 + 1).toInt)
      val expR = (for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.pixelR(f.doc_id, 0, x, y).toLong).sum
      assert(f.w_px === w && f.h_px === h)
      assert(f.r_sum === expR, s"doc ${f.doc_id} streamed r_sum")
    }
  }

  test("streaming LSH flags near-dups of docs seen in EARLIER batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val boiler = ("alpha beta gamma delta epsilon zeta eta theta " * 6).trim
      val stream = MemoryStream[StreamingOps.Doc]
      val q = StreamingOps.streamingLshCandidates(stream.toDS())
        .writeStream.format("memory").queryName("lsh_cands").outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        // batch 1: the original + an unrelated doc
        stream.addData(Seq(StreamingOps.Doc(1, boiler),
          StreamingOps.Doc(2, "completely different words entirely unrelated content here now")))
        q.processAllAvailable()
        // batch 2: a near-copy of doc 1 arrives LATER — must pair with the
        // doc held in bucket state from batch 1
        stream.addData(Seq(StreamingOps.Doc(3, boiler + " iota")))
        q.processAllAvailable()
      } finally q.stop()
      val pairs = spark.table("lsh_cands").collect()
        .map(r => (r.getLong(2), r.getLong(3))).toSet
      assert(pairs.contains((1L, 3L)), pairs.toString)
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), pairs.toString)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming LSH bucket state survives a query restart from the checkpoint") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // r19 verdict item: the transformWithState LSH path was covered for
    // LOGIC (cross-batch pairing above) but not for RESTART — this pins
    // that the RocksDB ListState of bucket members is recovered from the
    // checkpoint by a brand-new query, the crash-recovery contract a
    // production incremental dedup relies on.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val boiler = ("alpha beta gamma delta epsilon zeta eta theta " * 6).trim
      val ckpt = java.nio.file.Files.createTempDirectory("graft_lsh_ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft_lsh_out").toString
      val stream = MemoryStream[StreamingOps.Doc]
      // file sink, not memory: the memory sink refuses checkpoint
      // recovery in append mode, and the file sink's commit log
      // additionally pins exactly-once (no re-emission after restart)
      def startQuery() =
        StreamingOps.streamingLshCandidates(stream.toDS())
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append")
          .trigger(Trigger.ProcessingTime(0)).start()
      def pairs(): Seq[(Long, Long)] = spark.read.parquet(outDir)
        .select("doc_a", "doc_b").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1)))
      // run 1: two near-copies pair within the run, then a clean stop
      // (the checkpoint holds the bucket membership lists)
      val q1 = startQuery()
      try {
        stream.addData(Seq(StreamingOps.Doc(1, boiler),
          StreamingOps.Doc(2, boiler + " iota")))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(pairs().toSet === Set((1L, 2L)),
        s"run-1 near-copies must pair: ${pairs()}")
      val run1Rows = pairs().size // one row per colliding band
      // run 2: a NEW query over the same checkpoint — a (1, 3) pair can
      // ONLY come from doc 1's id recovered out of the RocksDB list
      // state written by run 1
      val q2 = startQuery()
      try {
        stream.addData(Seq(StreamingOps.Doc(3, boiler + " kappa")))
        q2.processAllAvailable()
      } finally q2.stop()
      val all = pairs()
      assert(all.toSet.contains((1L, 3L)),
        s"bucket state not recovered from checkpoint: ${all.toSet}")
      assert(all.count(_ == (1L, 2L) ) === run1Rows,
        s"run-1 output must not re-emit after restart: $all")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static enrichment join keeps dimension-less events (left join)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val stream = MemoryStream[Event]
    val q = StreamingOps.enrichAgainstStatic(stream.toDF(), dim, "user_id")
      .select("event_id", "user_id", "tier")
      .writeStream.format("memory").queryName("enriched").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      stream.addData(Seq(Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 2, "view", 1.0), Event(3, ts(2), 99, "click", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("enriched").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(rows === Map(1L -> "gold", 2L -> "silver", 3L -> null))
  }

  test("stream-stream interval join matches clicks within the bound, left-outer emits null after watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = StreamingOps.streamStreamIntervalJoin(views.toDF(), clicks.toDF(), "leftOuter")
      .writeStream.format("memory").queryName("attrib").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // view 10 (user 1) clicked 10 min later → match; view 20 (user 2)
      // clicked 60 min later → outside the 30-min bound → no match
      views.addData(Seq(Event(10, ts(0), 1, "view", 0.0), Event(20, ts(0), 2, "view", 0.0)))
      clicks.addData(Seq(Event(11, ts(10), 1, "click", 0.0)))
      q.processAllAvailable()
      clicks.addData(Seq(Event(21, Timestamp.valueOf("2024-01-01 11:00:00"), 2, "click", 0.0)))
      q.processAllAvailable()
      // push BOTH watermarks far past view 20's join window so the
      // left-outer null row for it can be emitted
      views.addData(Seq(Event(90, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "view", 0.0)))
      clicks.addData(Seq(Event(91, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "click", 0.0)))
      q.processAllAvailable()
      views.addData(Seq(Event(92, Timestamp.valueOf("2024-01-01 15:00:00"), 9, "view", 0.0)))
      clicks.addData(Seq(Event(93, Timestamp.valueOf("2024-01-01 15:00:00"), 9, "click", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attrib").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(rows(10L) === 11L, s"view 10 should match click 11: $rows")
    assert(rows(20L) === -1L, s"view 20 should left-outer to null: $rows")
  }

  test("streaming signature path is bit-identical to the batch aggregate path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same doc set through (a) the scalar per-row kernel and (b) the
    // exploded min-aggregate — identical signature arrays required
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six seven"),
      (3L, "ab")).toDF("doc_id", "text")
    val perms = graft.operators.DedupOps.NumPerms
    val viaExpr = graft.operators.DedupOps.withShingleHashes(docs, "text")
      .select(col("doc_id"), expr(s"graft_minhash_sig_arr(sh_hashes, $perms)").as("sig"))
    val viaAgg = graft.operators.DedupOps.withShingleHashes(docs, "text")
      .select(col("doc_id"), explode(col("sh_hashes")).as("h"))
      .groupBy("doc_id")
      .agg(expr(s"graft_minhash_sig(h, $perms)").as("sig"))
    val a = viaExpr.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val b = viaAgg.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(a.toSeq === b.toSeq)
  }

  test("chained stateful operators: 15-min windows re-aggregate into 1-hour windows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    // two stateful aggs in ONE query (Spark 4 multiple-stateful-operator
    // support): fine windows roll up into coarse ones without a second
    // job or an intermediate sink — the streaming mirror of the HLL
    // partial re-aggregation pattern
    val fine = stream.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val coarse = fine
      .groupBy(window(col("window"), "1 hour"), col("event_type"))
      .agg(sum(col("n")).as("n_events"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n_events"))
    val q = coarse.writeStream.format("memory").queryName("chained")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      stream.addData(Seq(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 1, "click", 1.0),
        Event(3, ts(50), 2, "click", 1.0)))
      q.processAllAvailable()
      // advance the watermark far past the 10:00 hour so both levels close
      stream.addData(Seq(Event(4, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "view", 1.0)))
      q.processAllAvailable()
      stream.addData(Seq(Event(5, Timestamp.valueOf("2024-01-01 15:00:00"), 9, "view", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("chained").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(out.contains(("2024-01-01 10:00:00.0", "click", 3L)), out.toString)
  }

  test("aggregation state survives a query restart from the checkpoint") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val stream = MemoryStream[Event]
    def startQuery(name: String) =
      stream.toDF().groupBy("event_type").count()
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
    // run 1: three clicks, then a clean stop (checkpoint holds the state)
    val q1 = startQuery("ckpt_run1")
    try {
      stream.addData(Seq(Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 1, "click", 1.0), Event(3, ts(2), 2, "click", 1.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    // run 2: a NEW query over the same checkpoint — the recovered state
    // must carry the previous count (5, not 2). The memory sink table is
    // fresh, so a 5 can only come from the restored state store.
    val q2 = startQuery("ckpt_run2")
    try {
      stream.addData(Seq(Event(4, ts(3), 2, "click", 1.0), Event(5, ts(4), 3, "click", 1.0)))
      q2.processAllAvailable()
      val n = spark.table("ckpt_run2").filter($"event_type" === "click")
        .collect()(0).getLong(1)
      assert(n === 5L, s"state not recovered from checkpoint (click count = $n)")
    } finally q2.stop()
  }
}
