package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.{ColumnarToRowExec,
  FileSourceScanExec, FilterExec, InputAdapter, ProjectExec,
  QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.EventStreaming

/** Structured Streaming slice driven synchronously from MemoryStream
  * (SURVEY.md §2.9, §7.2 step 6).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("tumblingCounts aggregates per hour window incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "user_id", "value")
    val query = EventStreaming.tumblingCounts(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      mem.addData((ts(5), "click", 1L, 1.0), (ts(10), "click", 2L, 2.0),
        (ts(65), "click", 1L, 3.0), (ts(70), "error", 3L, 4.0))
      query.processAllAvailable()
      val out = spark.table("tumbling_out").collect()
        .map(r => (r.getAs[Timestamp]("hour_start").toString,
          r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
      assert(out(("2024-01-01 00:00:00.0", "click")) == 2)
      assert(out(("2024-01-01 01:00:00.0", "click")) == 1)
      assert(out(("2024-01-01 01:00:00.0", "error")) == 1)
    } finally query.stop()
  }

  test("dedupWithinWatermark drops duplicate keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "user_id", "value")
    val query = EventStreaming
      .dedupWithinWatermark(events, Seq("event_type", "user_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      // batch 1: an in-batch duplicate of (click, 1)
      mem.addData((ts(5), "click", 1L, 1.0), (ts(6), "click", 1L, 9.0),
        (ts(7), "view", 2L, 2.0))
      query.processAllAvailable()
      // batch 2: a cross-batch duplicate within the horizon + a new key
      mem.addData((ts(10), "click", 1L, 5.0), (ts(11), "error", 3L, 3.0))
      query.processAllAvailable()
      val out = spark.table("dedup_out").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("user_id")))
      assert(out.length == 3, s"got ${out.mkString(", ")}")
      assert(out.toSet == Set(("click", 1L), ("view", 2L), ("error", 3L)))
    } finally query.stop()
  }

  test("sessionCounts keeps per-user running state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreaming.UserEvent]
    val query = EventStreaming.sessionCounts(mem.toDS(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.outputMode("update")
      .format("memory").queryName("sess_out").start()
    try {
      mem.addData(EventStreaming.UserEvent(1L, "click"),
        EventStreaming.UserEvent(1L, "click"),
        EventStreaming.UserEvent(2L, "view"))
      query.processAllAvailable()
      mem.addData(EventStreaming.UserEvent(1L, "click"))
      query.processAllAvailable()
      val counts = spark.table("sess_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      // user 1: batch1 → 2, batch2 → 3 (state carried); user 2 → 1
      assert(counts.contains((1L, 2L)))
      assert(counts.contains((1L, 3L)))
      assert(counts.contains((2L, 1L)))
    } finally query.stop()
  }

  test("slidingCounts: events land in every overlapping window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "user_id", "value")
    val query = EventStreaming.slidingCounts(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    try {
      mem.addData((ts(50), "click", 1L, 1.0))
      query.processAllAvailable()
      val wins = spark.table("sliding_out").collect()
        .map(_.getAs[Timestamp]("win_start").toString).sorted
      // 00:50 falls into the 1h windows starting 00:00, 00:15, 00:30, 00:45
      assert(wins.length == 4)
      assert(wins.head == "2024-01-01 00:00:00.0")
      assert(wins.last == "2024-01-01 00:45:00.0")
    } finally query.stop()
  }

  test("sessionWindows: gap > 30min splits user sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "user_id", "value")
    val query = EventStreaming.sessionWindows(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_win_out").start()
    try {
      mem.addData((ts(0), "click", 7L, 1.0), (ts(10), "click", 7L, 2.0),
        (ts(120), "click", 7L, 4.0))
      query.processAllAvailable()
      val rows = spark.table("sess_win_out").collect()
        .filter(_.getAs[Long]("user_id") == 7L)
      assert(rows.length == 2, "two sessions for user 7")
      assert(rows.map(_.getAs[Long]("n_events")).sorted.sameElements(Seq(1L, 2L)))
      // batch-twin shape: end = last event + gap, exact-decimal sums
      val byN = rows.map(r => r.getAs[Long]("n_events") ->
        ((r.getAs[Timestamp]("sess_end").getTime -
          r.getAs[Timestamp]("sess_start").getTime) / 60000L,
          r.getAs[Double]("sum_value"))).toMap
      assert(byN(2L) == ((40L, 3.0))) // 10 min span + 30 min gap
      assert(byN(1L) == ((30L, 4.0)))
    } finally query.stop()
  }

  test("backfill (AvailableNow): drains the backlog rate-limited, " +
      "self-terminates, and a resumed run processes only new files") {
    import java.nio.file.{Files, Path}
    val watched = Files.createTempDirectory("graft_backfill_in")
    val ckpt = Files.createTempDirectory("graft_backfill_ckpt").toString
    def appear(name: String, rows: Seq[(Timestamp, String, Long, Double)]): Unit = {
      val tmp = Files.createTempDirectory("graft_backfill_tmp")
      rows.toDF("ts", "event_type", "user_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, watched.resolve(name))
    }
    // a 3-file backlog exists BEFORE the query starts
    (0 until 3).foreach(i =>
      appear(s"backlog$i.parquet", Seq((ts(i + 1), "click", i.toLong, 1.0))))
    val schema = Seq((ts(0), "x", 0L, 0.0))
      .toDF("ts", "event_type", "user_id", "value").schema
    // maxFilesPerTrigger=1: AvailableNow must respect the rate limit
    // (several micro-batches), where Trigger.Once would gulp the backlog
    val src = EventStreaming.fileSource(spark, watched.toString, schema,
      maxFilesPerTrigger = 1)
    val batches = scala.collection.mutable.Buffer[Long]()
    val q1 = EventStreaming.backfill(src, Some(ckpt)) { (b, _) =>
      batches.synchronized { batches += b.count() }
    }
    assert(q1.awaitTermination(60000), "backfill must self-terminate")
    val firstRun = batches.synchronized(batches.toList)
    assert(firstRun.filter(_ > 0).size == 3,
      s"rate limit → one file per micro-batch: $firstRun")
    // new data lands AFTER the backfill finished
    appear("late.parquet", Seq((ts(9), "view", 9L, 1.0)))
    batches.synchronized(batches.clear())
    val q2 = EventStreaming.backfill(
      EventStreaming.fileSource(spark, watched.toString, schema,
        maxFilesPerTrigger = 1), Some(ckpt)) { (b, _) =>
      batches.synchronized { batches += b.count() }
    }
    assert(q2.awaitTermination(60000), "resumed backfill must self-terminate")
    val secondRun = batches.synchronized(batches.toList)
    assert(secondRun.sum == 1,
      s"checkpoint resume: only the late file processes, got $secondRun")
  }

  test("file source + foreachBatch: files appearing between micro-batches " +
      "are delivered incrementally") {
    import java.nio.file.{Files, Path}
    val watched = Files.createTempDirectory("graft_stream_in")
    // write a parquet file OUTSIDE the watched dir, then move the part
    // file in — files appear atomically, like a live trace rotating logs
    def appear(name: String, rows: Seq[(Timestamp, String, Long, Double)]): Unit = {
      val tmp = Files.createTempDirectory("graft_stream_tmp")
      rows.toDF("ts", "event_type", "user_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, watched.resolve(name))
    }
    appear("batch0.parquet", Seq((ts(1), "click", 1L, 1.0),
      (ts(2), "click", 2L, 1.0), (ts(3), "error", 3L, 1.0)))
    val schema = Seq((ts(0), "x", 0L, 0.0))
      .toDF("ts", "event_type", "user_id", "value").schema
    val stream = EventStreaming.fileSource(spark, watched.toString, schema)
    val batches = scala.collection.mutable.Buffer[(Long, Long)]() // (id, rows)
    val query = EventStreaming.deliver(stream) { (batch, id) =>
      batches.synchronized { batches += ((id, batch.count())) }
    }
    try {
      query.processAllAvailable()
      val afterFirst = batches.synchronized(batches.map(_._2).sum)
      assert(afterFirst == 3, s"first file delivered, got $afterFirst")
      // a NEW file appears while the query is running → next micro-batch
      appear("batch1.parquet", Seq((ts(4), "view", 4L, 1.0),
        (ts(5), "view", 5L, 1.0)))
      query.processAllAvailable()
      val all = batches.synchronized(batches.toList)
      assert(all.map(_._2).sum == 5, s"both files delivered: $all")
      assert(all.count(_._2 > 0) >= 2, s"delivery was incremental: $all")
    } finally query.stop()
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "user_id", "value")
    val dim = Seq(("click", "interaction"), ("error", "fault"))
      .toDF("event_type", "category")
    val query = EventStreaming.enrich(events, dim, "event_type")
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      mem.addData((ts(1), "click", 1L, 1.0), (ts(2), "view", 2L, 1.0))
      query.processAllAvailable()
      mem.addData((ts(3), "error", 3L, 1.0))
      query.processAllAvailable()
      val rows = spark.table("enrich_out").collect()
        .map(r => (r.getAs[String]("event_type"),
          Option(r.getAs[String]("category")))).toSet
      // mapped types enrich; unmapped ("view") survives with null —
      // left join, same fallback contract as the batch dictionary decode
      assert(rows == Set(("click", Some("interaction")),
        ("view", None), ("error", Some("fault"))))
    } finally query.stop()
  }

  test("watermark: data later than the watermark is dropped, closed " +
      "windows finalize once (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "user_id", "value")
    val query = EventStreaming.tumblingCounts(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try {
      // hour-0 gets one event; the 02:00 event advances the watermark to
      // 01:30, past hour-0's end — the window can finalize
      mem.addData((ts(5), "click", 1L, 1.0), (ts(120), "click", 2L, 1.0))
      query.processAllAvailable()
      // a LATE hour-0 event arrives behind the watermark → dropped
      mem.addData((ts(10), "click", 3L, 1.0))
      query.processAllAvailable()
      // push the watermark further so everything else finalizes too
      mem.addData((ts(300), "click", 4L, 1.0))
      query.processAllAvailable()
      val hour0 = spark.table("wm_out").collect()
        .filter(_.getAs[Timestamp]("hour_start").toString
          .startsWith("2024-01-01 00:"))
      assert(hour0.length == 1, s"hour-0 emitted exactly once: ${hour0.toList}")
      assert(hour0.head.getAs[Long]("n") == 1,
        "late event behind the watermark must not count")
    } finally query.stop()
  }

  test("stream-stream interval join: in-band pairs only, batch equality, " +
      "late rows dropped, state evicted") {
    implicit val sqlCtx = spark.sqlContext
    val sigMem = MemoryStream[(Timestamp, String, Long, Double)]
    val evMem = MemoryStream[(Timestamp, String, Long, Double)]
    def df(m: MemoryStream[(Timestamp, String, Long, Double)]) =
      m.toDF().toDF("ts", "event_type", "user_id", "value")
    val q = EventStreaming.followWithinBand(df(sigMem), df(evMem))
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    try {
      val sigs = Seq((ts(0), "signup", 1L, 0.0), (ts(0), "signup", 2L, 0.0))
      val evs = Seq(
        (ts(30), "click", 1L, 1.0),  // within the 1 h band
        (ts(60), "view", 1L, 1.0),   // boundary: <= sig_ts + band → in
        (ts(90), "click", 1L, 1.0),  // outside the band
        (ts(30), "click", 3L, 1.0))  // no signup for user 3
      sigMem.addData(sigs: _*)
      evMem.addData(evs: _*)
      q.processAllAvailable()
      def pairs(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Long]("user_id"), r.getAs[Timestamp]("ev_ts").toString,
          r.getAs[String]("event_type"))).toSet
      val streamed = pairs(spark.table("ss_join").collect())
      assert(streamed == Set(
        (1L, "2024-01-01 00:30:00.0", "click"),
        (1L, "2024-01-01 01:00:00.0", "view")))
      // batch ≡ streaming on the same (non-late) data: the same function
      // over batch frames (watermarks are no-ops there) yields the same set
      val batch = pairs(EventStreaming.followWithinBand(
        sigs.toDF("ts", "event_type", "user_id", "value"),
        evs.toDF("ts", "event_type", "user_id", "value")).collect())
      assert(batch == streamed, s"batch $batch != streamed $streamed")
      // advance BOTH watermarks far past sig_ts + band + lateness
      sigMem.addData((ts(600), "signup", 9L, 0.0))
      evMem.addData((ts(600), "other", 8L, 1.0))
      q.processAllAvailable()
      // in-band follow for user 2's signup, but behind the event-side
      // watermark → dropped, no pair may appear
      evMem.addData((ts(10), "click", 2L, 1.0))
      q.processAllAvailable()
      assert(!spark.table("ss_join").collect()
        .exists(_.getAs[Long]("user_id") == 2L),
        "late row behind the watermark must not join")
      // eviction observed: the join's state shrank when watermarks moved
      val removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0, "watermark advance must evict buffered join state")
    } finally q.stop()
  }

  test("stream-stream left-outer: unconverted signups emit with nulls " +
      "once their band closes") {
    implicit val sqlCtx = spark.sqlContext
    val sigMem = MemoryStream[(Timestamp, String, Long, Double)]
    val evMem = MemoryStream[(Timestamp, String, Long, Double)]
    def df(m: MemoryStream[(Timestamp, String, Long, Double)]) =
      m.toDF().toDF("ts", "event_type", "user_id", "value")
    val q = EventStreaming
      .followWithinBand(df(sigMem), df(evMem), joinType = "left_outer")
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_outer").start()
    try {
      sigMem.addData((ts(0), "signup", 1L, 0.0), (ts(0), "signup", 2L, 0.0))
      evMem.addData((ts(30), "click", 1L, 1.0)) // user 1 converts; user 2 never
      q.processAllAvailable()
      // push both watermarks past sig_ts + band + lateness so the join
      // can PROVE user 2 will never match; outer rows need a subsequent
      // trigger after eviction, so advance twice
      sigMem.addData((ts(600), "signup", 8L, 0.0))
      evMem.addData((ts(600), "other", 9L, 1.0))
      q.processAllAvailable()
      sigMem.addData((ts(650), "signup", 8L, 0.0))
      evMem.addData((ts(650), "other", 9L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("ss_outer").collect()
      val matched = rows.filter(r => r.getAs[Long]("user_id") == 1L)
      assert(matched.length == 1 &&
        matched.head.getAs[String]("event_type") == "click")
      val unconverted = rows.filter(r => r.getAs[Long]("user_id") == 2L)
      assert(unconverted.length == 1, s"user 2 must emit exactly once: ${rows.toList}")
      assert(unconverted.head.isNullAt(unconverted.head.fieldIndex("ev_ts")) &&
        unconverted.head.isNullAt(unconverted.head.fieldIndex("event_type")),
        "unconverted signup must carry null event columns")
    } finally q.stop()
  }

  test("checkpointed restart resumes delivery without reprocessing") {
    import java.nio.file.{Files, Path}
    val watched = Files.createTempDirectory("graft_ckpt_in")
    val ckpt = Files.createTempDirectory("graft_ckpt_state").toString
    def appear(name: String, rows: Seq[(Timestamp, String, Long, Double)]): Unit = {
      val tmp = Files.createTempDirectory("graft_ckpt_tmp")
      rows.toDF("ts", "event_type", "user_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, watched.resolve(name))
    }
    val schema = Seq((ts(0), "x", 0L, 0.0))
      .toDF("ts", "event_type", "user_id", "value").schema
    def start(sink: scala.collection.mutable.Buffer[Long]) =
      EventStreaming.deliver(
        EventStreaming.fileSource(spark, watched.toString, schema),
        Some(ckpt)) { (batch, _) =>
        sink.synchronized { sink += batch.count() }
      }
    appear("f0.parquet", Seq((ts(1), "click", 1L, 1.0),
      (ts(2), "click", 2L, 1.0), (ts(3), "error", 3L, 1.0)))
    val first = scala.collection.mutable.Buffer[Long]()
    val q1 = start(first)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(first.synchronized(first.sum) == 3)
    // new data lands while the query is DOWN; restart must deliver only it
    appear("f1.parquet", Seq((ts(4), "view", 4L, 1.0),
      (ts(5), "view", 5L, 1.0)))
    val second = scala.collection.mutable.Buffer[Long]()
    val q2 = start(second)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(second.synchronized(second.sum) == 2,
      s"restart must not reprocess f0: ${second.toList}")
  }

  test("ingestDedupLoop: batches flag against the growing band index") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_band_idx").toString + "/idx"
    val flags = scala.collection.mutable.Map[Long, (Long, Int)]()
    val query = EventStreaming.ingestDedupLoop(docs, idxDir) { (batch, _) =>
      batch.collect().foreach { r =>
        flags.synchronized {
          flags(r.getAs[Long]("batch_id")) =
            (r.getAs[Long]("n_corpus_dups"), r.getAs[Int]("is_new"))
        }
      }
    }
    try {
      mem.addData((1L, "aa bb cc dd ee"), (2L, "ww xx yy zz qq"))
      query.processAllAvailable()
      // bootstrap batch: empty index, everything new
      assert(flags.synchronized(flags.toMap) ==
        Map(1L -> (0L, 1), 2L -> (0L, 1)))
      // next ingest: doc 3 duplicates doc 1's content, doc 4 is new
      mem.addData((3L, "aa bb cc dd ee"), (4L, "gg hh ii jj kk"))
      query.processAllAvailable()
      val f = flags.synchronized(flags.toMap)
      assert(f(3L)._1 >= 1L && f(3L)._2 == 0, s"dup flagged: $f")
      assert(f(4L) == (0L, 1), s"new doc passes: $f")
      // the index holds bands for NEW docs only — 3 contributed nothing
      val idxIds = spark.read.parquet(idxDir)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(idxIds == Set(1L, 2L, 4L))
    } finally query.stop()
  }

  test("ingestDedupLoop: a replay of a batch whose bands already reached " +
      "the index re-delivers a clean run's flags") {
    import java.nio.file.{Files, Path}
    // A crashed attempt of batch 1 appended its new docs' bands to the
    // index, then died BEFORE the checkpoint committed the batch; the
    // restart re-runs batch 1 against an index that already holds them.
    // Its flags must equal those of a run that never crashed: a new doc
    // must not match its own bands, nor a batch↔batch near-dup partner's
    val watched = Files.createTempDirectory("graft_ingest_replay_in")
    val base = Files.createTempDirectory("graft_ingest_replay").toString
    def appear(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_ingest_replay_tmp")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, watched.resolve(name))
    }
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    val flags = scala.collection.mutable.Map[(String, Long), (Long, Int)]()
    def run(name: String): Unit = {
      val q = EventStreaming.ingestDedupLoop(
          EventStreaming.fileSource(spark, watched.toString, schema),
          s"$base/$name/idx", Some(s"$base/$name/ckpt")) { (batch, _) =>
        batch.collect().foreach { r =>
          flags.synchronized {
            flags((name, r.getAs[Long]("batch_id"))) =
              (r.getAs[Long]("n_corpus_dups"), r.getAs[Int]("is_new"))
          }
        }
      }
      try q.processAllAvailable() finally q.stop()
    }
    appear("f0.parquet", Seq((1L, "aa bb cc dd ee"), (2L, "ww xx yy zz qq")))
    Seq("clean", "crashed").foreach(run)
    // batch 1: 3 copies doc 1, 4 is new, 5 is 4's batch↔batch twin
    val batch1 = Seq((3L, "aa bb cc dd ee"), (4L, "gg hh ii jj kk"),
      (5L, "gg hh ii jj kk"))
    appear("f1.parquet", batch1)
    // the crashed attempt's append: the bands of its new docs 4 and 5
    api.GraftPipelines.bandIndex(batch1.tail.toDF("doc_id", "text"))
      .write.mode("append").parquet(s"$base/crashed/idx")
    Seq("clean", "crashed").foreach(run)
    val f = flags.synchronized(flags.toMap)
    def of(name: String) = batch1.map(d => d._1 -> f((name, d._1))).toMap
    assert(of("clean")(3L)._2 == 0 && of("clean")(4L) == (0L, 1) &&
      of("clean")(5L) == (0L, 1), s"clean run: ${of("clean")}")
    assert(of("crashed") == of("clean"),
      s"replayed ${of("crashed")} vs clean ${of("clean")}")
  }

  test("decontaminationGate: arriving docs flag against the persisted eval grams") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val evalDir = java.nio.file.Files
      .createTempDirectory("graft_eval_grams").toString + "/grams"
    val leak = "alpha beta gamma delta epsilon"
    // the once-built eval artifact: distinct gram hashes of the suite
    api.GraftPipelines
      .corpusGramIndex(Seq((100L, s"question about $leak indeed"))
        .toDF("doc_id", "text"))
      .select("g").write.parquet(evalDir)
    val flags = scala.collection.mutable.Map[Long, (Long, Int)]()
    val query = EventStreaming.decontaminationGate(docs, evalDir) { (batch, _) =>
      batch.collect().foreach { r =>
        flags.synchronized {
          flags(r.getAs[Long]("doc_id")) =
            (r.getAs[Long]("n_eval_grams"), r.getAs[Int]("is_contaminated"))
        }
      }
    }
    try {
      mem.addData((1L, s"intro words then $leak and more trailing words"),
        (2L, "totally unrelated content with no overlap at all here"))
      query.processAllAvailable()
      val f1 = flags.synchronized(flags.toMap)
      assert(f1(1L)._1 >= 1L && f1(1L)._2 == 1, s"leak must flag: $f1")
      assert(f1(2L) == (0L, 0), s"clean doc passes: $f1")
      // later batch: short (gram-less) docs still reported, clean
      mem.addData((3L, "tiny"), (4L, s"another $leak carrier document here"))
      query.processAllAvailable()
      val f2 = flags.synchronized(flags.toMap)
      assert(f2(3L) == (0L, 0))
      assert(f2(4L)._2 == 1)
    } finally query.stop()
  }

  test("curationIngest: 3-trigger replay emits exactly curateClean's " +
      "survivors — contamination, quality, exact-dup, near-dup chains") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("graft_curation").toString
    val evalDir = s"$base/evalgrams"
    val stateDir = s"$base/state"
    val evalSet = Seq((100L, "secret eval answer token sequence"))
      .toDF("doc_id", "text")
    api.GraftPipelines.corpusGramIndex(evalSet)
      .select("g").write.parquet(evalDir)
    // Fixture (all quality-passing texts are 10 distinct 4-6-letter
    // words: ttr 1.0 + length bonus = score 0.7 ≥ 0.45):
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val tA1 = tA.replace("juliet", "kilos")   // 9/11 = 0.82 ~ tA
    val tA2 = tA1.replace("india", "limax")   // 0.82 ~ tA1, 8/12 = 0.67 vs tA
    val tB = "limes mikes november oscar papa quebec romeo sierra tango uniform"
    val batches = Seq(
      Seq(1L -> tA,
        2L -> "alpha secret eval answer token sequence hotel india juliet",
        3L -> "zz zz zz zz zz zz"),            // quality fail
      Seq(4L -> tA,                            // exact dup of 1 (same trigger set)
        5L -> tA1,                             // near-dup of 1
        6L -> tB),                             // fresh
      Seq(7L -> tA2,                           // chain: ~5 only, NOT ~1
        8L -> tA))                             // exact dup via the digest LOG
    val emitted =
      scala.collection.mutable.Map[Long, Seq[(Long, Int)]]()
    val query = EventStreaming.curationIngest(docs, evalDir, stateDir) {
      (batch, bid) =>
        val rows = batch.collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_tokens"))
          .toSeq.sortBy(_._1)
        emitted.synchronized { emitted(bid) = rows }
    }
    try {
      batches.foreach { b => mem.addData(b); query.processAllAvailable() }
    } finally query.stop()
    val out = emitted.synchronized(emitted.toMap)
    // per-trigger: 1 survives; 4 exact-dup, 5 near-dup of 1, 6 fresh;
    // 7 caught by the CHAIN (its only verified partner, 5, was itself
    // dropped — the all-exact-survivors index is what catches it), 8
    // caught by the cross-trigger digest log
    assert(out(0L).map(_._1) == Seq(1L), s"trigger 0: ${out(0L)}")
    assert(out(1L).map(_._1) == Seq(6L), s"trigger 1: ${out(1L)}")
    assert(out(2L).map(_._1) == Seq(), s"trigger 2: ${out(2L)}")
    // batch equivalence: the accumulated survivors equal curateClean
    // over the union of all three frames, ids AND token counts
    val all = batches.flatten.toDF("doc_id", "text")
    val twin = api.GraftPipelines.curateClean(all, evalSet)
      .select($"doc_id", $"n_tokens").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq.sortBy(_._1)
    assert(out.values.flatten.toSeq.sortBy(_._1) == twin,
      s"stream=${out.values.flatten.toSeq.sortBy(_._1)} batch=$twin")
  }

  test("curationIngest log compaction: 12 triggers at compactThreshold = 1 " +
      "keep each state log folded, and the survivors stream is unchanged") {
    implicit val sqlCtx = spark.sqlContext
    // ten distinct 5-letter words per text (quality score 0.7): trigger
    // i adds a fresh text and a near-dup (one word swapped) or an exact
    // dup of the previous trigger's fresh text, so every trigger reads
    // the folded digest, band and doc logs
    def fresh(i: Int): String = (0 until 10)
      .map(j => s"${('a' + i).toChar}${('a' + j).toChar}qxz").mkString(" ")
    val batches = (0 until 12).map { i =>
      val echo =
        if (i == 0) fresh(20)
        else if (i % 2 == 0) fresh(i - 1)
        else fresh(i - 1).replace("aqxz", "zzzzz")
      Seq((2L * i + 1, fresh(i)), (2L * i + 2, echo))
    }
    val base = java.nio.file.Files
      .createTempDirectory("graft_curation_cmp").toString
    val evalDir = s"$base/evalgrams"
    api.GraftPipelines.corpusGramIndex(
        Seq((100L, "secret eval answer token sequence")).toDF("doc_id", "text"))
      .select("g").write.parquet(evalDir)
    // after each trigger, copy each part file not yet copied, so every
    // state log holds every row twice: no read may depend on unique rows
    def copyParts(stateDir: String): Unit =
      Seq("digests", "docs", "bands").foreach { log =>
        val dir = java.nio.file.Paths.get(stateDir, log)
        val names = dir.toFile.list().toSet
        names.filter(n => n.startsWith("part-") && !n.startsWith("part-copy-"))
          .filterNot(n => names(s"part-copy-$n"))
          .foreach(n => java.nio.file.Files.copy(dir.resolve(n),
            dir.resolve(s"part-copy-$n")))
      }
    def run(stateDir: String, threshold: Int,
        copyLogs: Boolean = false): Seq[Seq[Long]] = {
      val mem = MemoryStream[(Long, String)]
      val emitted = scala.collection.mutable.Map[Long, Seq[Long]]()
      val q = EventStreaming.curationIngest(mem.toDF().toDF("doc_id", "text"),
          evalDir, stateDir, compactThreshold = threshold) { (batch, bid) =>
        val ids = batch.collect().map(_.getAs[Long]("doc_id")).toSeq.sorted
        emitted.synchronized { emitted(bid) = ids }
      }
      try batches.foreach { b =>
        mem.addData(b)
        q.processAllAvailable()
        if (copyLogs) copyParts(stateDir)
      } finally q.stop()
      emitted.synchronized((0L until 12L).map(emitted))
    }
    def partFiles(dir: String): Int = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-"))
    val folded = run(s"$base/folded", 1)
    val plain = run(s"$base/plain", 64)
    val doubled = run(s"$base/doubled", 64, copyLogs = true)
    assert(folded == plain, s"folded=$folded plain=$plain")
    assert(doubled == plain, s"doubled=$doubled plain=$plain")
    assert(partFiles(s"$base/doubled/docs") ==
      2 * partFiles(s"$base/plain/docs"), "each doc file has its copy")
    // every echo is dropped: exact dups by the digest log, near-dups by
    // the band and doc logs
    assert(folded == Seq(1L, 2L) +: (1 until 12).map(i => Seq(2L * i + 1)),
      s"survivors: $folded")
    // a fold writes up to defaultParallelism/8 files, so the bound is
    // threshold + that segment
    val segCap = 1 + math.max(1, spark.sparkContext.defaultParallelism / 8)
    Seq("digests", "docs", "bands").foreach { log =>
      val n = partFiles(s"$base/folded/$log")
      assert(n >= 1 && n <= segCap, s"$log log should have folded, found $n")
      assert(partFiles(s"$base/plain/$log") == 12,
        s"$log log below the threshold holds one file per trigger")
    }
  }

  test("indexIngestLoop: serving view equals batch index, replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val logDir = java.nio.file.Files
      .createTempDirectory("graft_postings").toString + "/log"
    var batches = 0
    val query = EventStreaming.indexIngestLoop(docs, logDir) { (_, _) =>
      synchronized { batches += 1 }
    }
    try {
      mem.addData((1L, "a b c"), (2L, "b c d"))
      query.processAllAvailable()
      mem.addData((3L, "c d e"))
      query.processAllAvailable()
      assert(synchronized(batches) == 2)
      // serving view over the log == batch-computed index of all docs
      val all = Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e"))
        .toDF("doc_id", "text")
      val expect = api.GraftPipelines.invertedIndex(all).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      def serving = api.GraftPipelines
        .invertedIndexFromPostings(spark.read.parquet(logDir)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(serving == expect)
      assert(expect(("c", 3L, "1,2,3")))
      // replayed append (sink retry) changes nothing on the read side
      api.GraftPipelines.postingsOf(Seq((3L, "c d e")).toDF("doc_id", "text"))
        .write.mode("append").parquet(logDir)
      assert(serving == expect)
    } finally query.stop()
  }

  test("log compaction: band index and postings log fold to a bounded " +
      "file count while flags and the serving view stay correct") {
    implicit val sqlCtx = spark.sqlContext
    def partFiles(dir: String): Int = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-"))
    // band index at threshold 1: compaction runs every trigger
    val memD = MemoryStream[(Long, String)]
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_band_cmp").toString + "/idx"
    val flags = scala.collection.mutable.Map[Long, Int]()
    val qd = EventStreaming.ingestDedupLoop(
        memD.toDF().toDF("doc_id", "text"), idxDir,
        compactThreshold = 1) { (batch, _) =>
      batch.collect().foreach { r =>
        flags.synchronized {
          flags(r.getAs[Long]("batch_id")) = r.getAs[Int]("is_new") }
      }
    }
    try {
      memD.addData((1L, "aa bb cc dd ee"), (2L, "ww xx yy zz qq"))
      qd.processAllAvailable()
      memD.addData((3L, "aa bb cc dd ee"), (4L, "gg hh ii jj kk"))
      qd.processAllAvailable()
      memD.addData((5L, "gg hh ii jj kk"), (6L, "mm nn oo pp rr"))
      qd.processAllAvailable()
      // flags across compaction boundaries: dups of COMPACTED index
      // content still flag, new content still passes
      assert(flags.synchronized(flags.toMap) ==
        Map(1L -> 1, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> 0, 6L -> 1))
      val idxIds = spark.read.parquet(idxDir)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(idxIds == Set(1L, 2L, 4L, 6L), "new docs only, none lost")
      assert(partFiles(idxDir) <= 2,
        s"index must stay folded, got ${partFiles(idxDir)} files")
    } finally qd.stop()
    // postings log: serving view identical after folding, file count flat
    val memP = MemoryStream[(Long, String)]
    val logDir = java.nio.file.Files
      .createTempDirectory("graft_postings_cmp").toString + "/log"
    val qp = EventStreaming.indexIngestLoop(
      memP.toDF().toDF("doc_id", "text"), logDir,
      compactThreshold = 1) { (_, _) => () }
    try {
      import spark.implicits._
      memP.addData((1L, "a b c"), (2L, "b c d"))
      qp.processAllAvailable()
      memP.addData((3L, "c d e"))
      qp.processAllAvailable()
      memP.addData((4L, "e f a"))
      qp.processAllAvailable()
      val all = Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e"),
        (4L, "e f a")).toDF("doc_id", "text")
      val expect = api.GraftPipelines.invertedIndex(all).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      val serving = api.GraftPipelines
        .invertedIndexFromPostings(spark.read.parquet(logDir)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(serving == expect, "folding must not change the read side")
      assert(partFiles(logDir) <= 2,
        s"log must stay folded, got ${partFiles(logDir)} files")
    } finally qp.stop()
  }

  test("heavyHitters: bounded state, overestimate bound, cross-batch carry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // batch form first: the Space-Saving math on one skewed group
    val skew = Seq.fill(40)("hot") ++ (1 to 20).map(i => s"cold$i")
    val batchOut = EventStreaming
      .heavyHitters(skew.toDS(), k = 4, buckets = 1).collect()
      .map(h => h.item -> h).toMap
    assert(batchOut.size <= 4) // capacity bound
    val hot = batchOut("hot")
    assert(hot.count >= 40)                    // never undercounts
    assert(hot.count - hot.maxError <= 40)     // overestimate bound
    // streaming: counts accumulate across micro-batches
    val mem = MemoryStream[String]
    val q = EventStreaming.heavyHitters(mem.toDS(), k = 4, buckets = 2)
      .writeStream.format("memory").queryName("hh")
      .outputMode("update").start()
    try {
      mem.addData(Seq.fill(10)("hot") ++ Seq("a", "b"): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(15)("hot") ++ Seq("c", "d"): _*)
      q.processAllAvailable()
      val rows = spark.table("hh")
        .groupBy($"item").agg(org.apache.spark.sql.functions.max($"count").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows("hot") == 25) // exact for an always-resident item
    } finally q.stop()
  }

  test("snapshotUpsertLoop: latest-wins snapshot, versioned copy-on-write, deterministic rewrite") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double, String)]
    val updates = mem.toDF().toDF("custkey", "ver", "acctbal", "segment")
    val snapDir = java.nio.file.Files
      .createTempDirectory("graft_snapshot").toString + "/snap"
    val query = EventStreaming
      .snapshotUpsertLoop(updates, snapDir, "custkey", "ver")()
    try {
      mem.addData((1L, 1L, 10.0, "A"), (2L, 1L, 20.0, "A"), (3L, 1L, 30.0, "B"))
      query.processAllAvailable()
      // batch 2: two updates to key 2 (latest ver wins), one new key
      mem.addData((2L, 2L, 21.0, "B"), (2L, 3L, 22.0, "C"), (4L, 1L, 40.0, "D"))
      query.processAllAvailable()
      val snap = spark.read.parquet(s"$snapDir/v=1").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getString(3))))
        .toMap
      assert(snap.size == 4)
      assert(snap(1L) == ((1L, 10.0, "A")))   // untouched key kept
      assert(snap(2L) == ((3L, 22.0, "C")))   // latest update within batch
      assert(snap(4L) == ((1L, 40.0, "D")))   // insert
      // both versions retained (copy-on-write, time travel)
      assert(spark.read.parquet(s"$snapDir/v=0").count() == 3)
      // a replayed attempt re-reads v=0 and rewrites v=1 identically:
      // recompute the merge the loop would run and compare
      val expectV1 = Seq((1L, 1L, 10.0, "A"), (2L, 3L, 22.0, "C"),
        (3L, 1L, 30.0, "B"), (4L, 1L, 40.0, "D")).toSet
      val v1 = spark.read.parquet(s"$snapDir/v=1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .toSet
      assert(v1 == expectV1)
    } finally query.stop()
  }

  test("snapshotUpsertLoop: crash after version dir written but before " +
      "batch commit converges on restart") {
    import java.nio.file.{Files, Path}
    // The hard recovery case: an attempt of batch N writes (part of)
    // snapshot v=N, then dies BEFORE the checkpoint commits batch N.
    // On restart the source replays batch N; the loop must read v=N-1
    // as its input (never the poisoned v=N — prev selection is
    // strictly-below-batchId) and overwrite v=N with the correct merge:
    // exactly-once by idempotent rewrite.
    val watched = Files.createTempDirectory("graft_snapcrash_in")
    val ckpt = Files.createTempDirectory("graft_snapcrash_ck").toString
    val snapDir = Files.createTempDirectory("graft_snapcrash_out")
      .toString + "/snap"
    def appear(name: String, rows: Seq[(Long, Long, Double, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_snapcrash_tmp")
      rows.toDF("custkey", "ver", "acctbal", "segment")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, watched.resolve(name))
    }
    val schema = Seq((0L, 0L, 0.0, "x"))
      .toDF("custkey", "ver", "acctbal", "segment").schema
    def start() = EventStreaming.snapshotUpsertLoop(
      EventStreaming.fileSource(spark, watched.toString, schema),
      snapDir, "custkey", "ver", Some(ckpt))()
    // batch 0 commits normally
    appear("f0.parquet",
      Seq((1L, 1L, 10.0, "A"), (2L, 1L, 20.0, "A"), (3L, 1L, 30.0, "B")))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$snapDir/v=0").count() == 3)
    // batch 1's input lands while the query is down, and a crashed
    // attempt left a half-written v=1 (wrong rows stand in for a
    // partial file set) with NO checkpoint commit
    appear("f1.parquet", Seq((2L, 2L, 21.0, "C"), (4L, 1L, 40.0, "D")))
    Seq((999L, 9L, 0.0, "POISON"))
      .toDF("custkey", "ver", "acctbal", "segment")
      .write.mode("overwrite").parquet(s"$snapDir/v=1")
    // restart: the source replays batch 1, the loop reads v=0 (not the
    // poisoned v=1) and overwrites v=1 with the correct merge
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val v1 = spark.read.parquet(s"$snapDir/v=1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(v1 == Set((1L, 1L, 10.0, "A"), (2L, 2L, 21.0, "C"),
      (3L, 1L, 30.0, "B"), (4L, 1L, 40.0, "D")),
      s"snapshot must converge to the committed merge, got $v1")
    // v=0 untouched (time travel intact), no poison survivor anywhere
    assert(spark.read.parquet(s"$snapDir/v=0").count() == 3)
    assert(!v1.exists(_._4 == "POISON"))
  }

  test("batch and streaming tumbling agg agree on the same data") {
    val ev = graft.operators.EventOps.events(spark, sf)
      .select($"ts", $"event_type", $"user_id", $"value")
    val batch = EventStreaming.tumblingCounts(ev)
      .select($"hour_start", $"event_type", $"n")
    val oracle = ev.groupBy(window($"ts", "1 hour"), $"event_type")
      .count()
      .select($"window.start".as("hour_start"), $"event_type",
        $"count".as("n"))
    assert(batch.except(oracle).isEmpty && oracle.except(batch).isEmpty)
  }

  test("knnMaintenanceLoop: touched-bucket maintenance equals the full " +
      "rebuild after every micro-batch; a scheme change fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val vecs = mem.toDF().toDF("vec_id", "embedding")
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_knn_state").toString + "/knn"
    @volatile var changed: Set[(Long, Long)] = Set.empty
    val query = EventStreaming.knnMaintenanceLoop(vecs, stateDir) {
      (batch, _) =>
        changed = batch.collect()
          .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    }
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    def rebuild(upTo: Long): Set[(Long, Long)] = graft.api.GraftPipelines
      .knnEdges(Tables.embeddings(spark, sf)
        .filter(col("vec_id") < upTo), 3, 8)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def state(): Set[(Long, Long)] = spark.read
      .parquet(s"$stateDir/edges").select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      mem.addData(emb.filter(_._1 < 200).toSeq: _*)
      query.processAllAvailable()
      assert(state() == rebuild(200L), "bootstrap batch")
      mem.addData(emb.filter(t => t._1 >= 200 && t._1 < 350).toSeq: _*)
      query.processAllAvailable()
      assert(state() == rebuild(350L), "second ingest")
      assert(changed.subsetOf(state()) && changed.nonEmpty,
        "the sink sees the changed (touched-bucket) edges")
      mem.addData(emb.filter(_._1 >= 350).toSeq: _*)
      query.processAllAvailable()
      assert(state() == rebuild(Long.MaxValue), "final ingest")
      // delta-sized vector state: one b= dir per batch, all retained
      val vDirs = new java.io.File(s"$stateDir/vectors").listFiles()
        .map(_.getName).filter(_.startsWith("b=")).sorted.toSeq
      assert(vDirs == Seq("b=0", "b=1", "b=2"))
    } finally query.stop()
    // restarting against the same state with a widened signature must
    // refuse (edges built under one bucketing are meaningless under
    // another) — the scheme marker makes the failure loud
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val q2 = EventStreaming.knnMaintenanceLoop(
      mem2.toDF().toDF("vec_id", "embedding"), stateDir, lshBits = 12)()
    try {
      mem2.addData((9999L, Seq.fill(64)(0.1f)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("lshBits") ||
        Option(e.getCause).exists(_.getMessage.contains("lshBits")))
    } finally q2.stop()
  }

  test("knnMaintenanceLoop compaction: maintenance equals the rebuild " +
      "across consolidation boundaries, and the vector-state directory " +
      "count stays bounded instead of growing one dir per batch " +
      "(at the WIDENED 12-bit scheme — the full widen-response story)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val vecs = mem.toDF().toDF("vec_id", "embedding")
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_knn_compact").toString + "/knn"
    val query = EventStreaming.knnMaintenanceLoop(vecs, stateDir,
      lshBits = 12, compactEvery = 2)()
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    def rebuild(upTo: Long): Set[(Long, Long)] = graft.api.GraftPipelines
      .knnEdges(Tables.embeddings(spark, sf)
        .filter(col("vec_id") < upTo), 3, 12)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def state(): Set[(Long, Long)] = spark.read
      .parquet(s"$stateDir/edges").select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def vDirs(): Seq[String] = new java.io.File(s"$stateDir/vectors")
      .listFiles().map(_.getName).sorted.toSeq
    def feed(lo: Long, hi: Long): Unit = {
      mem.addData(emb.filter(t => t._1 >= lo && t._1 < hi).toSeq: _*)
      query.processAllAvailable()
    }
    try {
      feed(0, 150)                                   // b=0
      assert(state() == rebuild(150L), "bootstrap")
      assert(vDirs() == Seq("b=0"))
      feed(150, 250)                                 // folds {b=0,b=1} -> c=1
      assert(state() == rebuild(250L),
        "maintenance must equal the rebuild right AFTER a compaction")
      assert(vDirs() == Seq("c=1"),
        "compaction must fold every b= dir into one consolidation")
      feed(250, 350)                                 // b=2 atop c=1
      assert(state() == rebuild(350L),
        "reads spanning a consolidation + a live b= dir must agree")
      assert(vDirs() == Seq("b=2", "c=1"))
      feed(350, Long.MaxValue)                       // folds {c=1,b=2,b=3} -> c=3
      assert(state() == rebuild(Long.MaxValue), "final ingest")
      assert(vDirs() == Seq("c=3"),
        "re-compaction must absorb the previous consolidation")
      // nothing lost across two generations: the consolidated state
      // holds every vector exactly once
      assert(spark.read.parquet(s"$stateDir/vectors/c=3").count() ==
        emb.length)
    } finally query.stop()
  }

  test("clusterAssignLoop: 3-trigger streaming assignment equals the " +
      "batch fit's assignment of the union bit-for-bit, and a restart " +
      "against different centroids refuses loudly") {
    implicit val sqlCtx = spark.sqlContext
    val embTable = Tables.embeddings(spark, sf)
    val (cent, batchAssign) =
      graft.api.GraftPipelines.kmeansFit(embTable, 8, 2, 64)
    val emb = embTable.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cluster_assign").toString + "/state"
    val mem = MemoryStream[(Long, Seq[Float])]
    val vecs = mem.toDF().toDF("vec_id", "embedding")
    val perBatch = (emb.length + 2) / 3
    val query = EventStreaming.clusterAssignLoop(vecs, cent, stateDir)()
    try {
      emb.grouped(perBatch).foreach { b =>
        mem.addData(b.toSeq: _*); query.processAllAvailable()
      }
    } finally query.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Int]("cluster"),
        r.getAs[Double]("ccos"))
    val streamed = spark.read.parquet(s"$stateDir/assign")
      .select(col("vec_id"), col("cluster"), col("ccos"))
      .collect().map(key).sortBy(_._1).toSeq
    val twin = batchAssign.collect().map(key).sortBy(_._1).toSeq
    assert(streamed == twin,
      "streaming assignment must equal the batch fit's own assignment")
    // the b= partition column records one dir per trigger
    val bDirs = new java.io.File(s"$stateDir/assign")
      .listFiles().map(_.getName).filter(_.startsWith("b=")).sorted.toSeq
    assert(bDirs == Seq("b=0", "b=1", "b=2"))
    // restart against a DIFFERENT fit: the centroid fingerprint marker
    // must refuse instead of mixing two clusterings in one log
    val cent2 = graft.api.GraftPipelines.kmeansFit(embTable, 4, 1, 64)._1
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val q2 = EventStreaming.clusterAssignLoop(
      mem2.toDF().toDF("vec_id", "embedding"), cent2, stateDir)()
    try {
      mem2.addData(emb.head)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("centroid") ||
        Option(e.getCause).exists(_.getMessage.contains("centroid")))
    } finally q2.stop()
    // and the refused restart must not have written anything
    assert(spark.read.parquet(s"$stateDir/assign")
      .collect().map(key).sortBy(_._1).toSeq == twin)
  }

  test("clusterAssignLoop scheme marker: a torn tmp dir from a crashed " +
      "publisher never wedges a restart, and an un-checkpointed restart " +
      "over a non-empty log refuses instead of clobbering b=0") {
    implicit val sqlCtx = spark.sqlContext
    val embTable = Tables.embeddings(spark, sf)
    val (cent, _) = graft.api.GraftPipelines.kmeansFit(embTable, 8, 2, 64)
    val emb = embTable.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_assign_torn").toString + "/state"
    // simulate a publisher that died mid-write: a half-written tmp dir
    // exists, the scheme itself was never published
    val torn = new java.io.File(s"$stateDir/scheme.tmp-99999")
    torn.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(torn, "part-00000.parquet").toPath, "garbage")
    val mem = MemoryStream[(Long, Seq[Float])]
    val q1 = EventStreaming.clusterAssignLoop(
      mem.toDF().toDF("vec_id", "embedding"), cent, stateDir)()
    try {
      mem.addData(emb.take(100).toSeq: _*)
      q1.processAllAvailable() // must publish past the torn tmp
    } finally q1.stop()
    assert(new java.io.File(s"$stateDir/scheme").exists(),
      "the loop must publish its marker even with a stale tmp dir present")
    // restart with the SAME fit but NO checkpoint: batch ids restart at
    // 0, so the b=0 overwrite would silently clobber the first run's
    // batch — the loop must refuse loudly instead (this spec originally
    // asserted 200 rows and found 100: the overwrite was real)
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val q2 = EventStreaming.clusterAssignLoop(
      mem2.toDF().toDF("vec_id", "embedding"), cent, stateDir)()
    try {
      mem2.addData(emb.slice(100, 200).toSeq: _*)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("checkpoint") ||
        Option(e.getCause).exists(_.getMessage.contains("checkpoint")))
    } finally q2.stop()
    // and the first run's log is intact
    val n = spark.read.parquet(s"$stateDir/assign").count()
    assert(n == 100L, s"the refused run must not have clobbered b=0, got $n")
  }

  /** `upsertLoop` input rows: each doc as an add, each id as a delete. */
  private def adds(docs: (Long, String)*): Seq[(String, Long, String)] =
    docs.map { case (id, t) => ("add", id, t) }
  private def dels(ids: Long*): Seq[(String, Long, String)] =
    ids.map(id => ("del", id, null: String))

  /** A signed-delta sink row set, split into its (doc_id, cluster_id)
    * 'add' rows and 'del' rows. */
  private def bySign(rows: Set[(Long, Long, String)])
      : (Set[(Long, Long)], Set[(Long, Long)]) = {
    val (a, d) = rows.partition(_._3 == "add")
    (a.map(r => (r._1, r._2)), d.map(r => (r._1, r._2)))
  }

  private val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val tB =
    "alpha beta gamma delta epsilon zeta eta theta paris london rome"
  private val tAB = "alpha beta gamma delta epsilon zeta eta theta iota paris"
  private val tC =
    "completely different words appear in this sentence about engines"

  test("upsertLoop add-only: streamed doc batches maintain the cluster " +
      "map to exactly the batch pipeline's output, a later doc merges two " +
      "earlier clusters, and the sink sees the added/changed labels") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // batch 0: clusters {1,2} (tA twice), {4,5} (tB twice), {10,11}
    // (tC twice); tA~tB word-set jaccard = 8/13 < 0.7 so the two stay
    // separate. batch 1: doc 9 = tAB near-dups BOTH (0.82 / 0.75) and
    // merges them; {10,11} is untouched.
    val b0 = Seq((1L, tA), (2L, tA), (4L, tB), (5L, tB),
      (10L, tC), (11L, tC))
    val b1 = Seq((9L, tAB))
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_extend").toString + "/state"
    val mem = MemoryStream[(String, Long, String)]
    val deltas =
      scala.collection.mutable.Map[Long, Set[(Long, Long, String)]]()
    val query = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"), stateDir,
      compactThreshold = 1) { (df, b) =>
      deltas(b) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    try {
      mem.addData(adds(b0: _*): _*); query.processAllAvailable()
      mem.addData(adds(b1: _*): _*); query.processAllAvailable()
    } finally query.stop()
    val gDirs = new java.io.File(s"$stateDir/chain")
      .listFiles().map(_.getName).filter(_.startsWith("g=")).toSeq
    assert(gDirs == Seq("g=1"))
    // the band and doc logs are flat and each folded once past
    // compactThreshold=1: neither may accumulate one-file-per-batch
    // growth (a compaction writes up to defaultParallelism/8 files, so
    // the bound is threshold + that segment, not 1)
    val segCap = 1 + math.max(1, spark.sparkContext.defaultParallelism / 8)
    Seq("bands", "docs").foreach { log =>
      val n = new java.io.File(s"$stateDir/$log").listFiles()
        .map(_.getName).count(_.startsWith("part-"))
      assert(n >= 1 && n <= segCap,
        s"$log log should have folded, found $n part files")
    }
    val end = spark.read.parquet(s"$stateDir/chain/g=1/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // stream ≡ batch: the full pipeline over the union of all batches
    val allDocs = (b0 ++ b1)
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val twin = graft.api.GraftPipelines.dupClusters(
        graft.api.GraftPipelines.nearDuplicates(allDocs, 0.7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(end == twin, s"stream $end must equal batch twin $twin")
    // and the merge actually happened: 1,2,4,5,9 share one label,
    // 10,11 keep their own
    assert(Set(1L, 2L, 4L, 5L, 9L).map(end) == Set(1L))
    assert(Set(10L, 11L).map(end) == Set(10L))
    // sink deltas: batch 0 added both small clusters and {10,11};
    // batch 1 added 9 and relabeled 4,5 onto the merged component, so
    // their old labels leave the map
    assert(bySign(deltas(0)) == (Set((1L, 1L), (2L, 1L), (4L, 4L),
      (5L, 4L), (10L, 10L), (11L, 10L)), Set.empty))
    assert(bySign(deltas(1)) == (Set((9L, 1L), (4L, 1L), (5L, 1L)),
      Set((4L, 4L), (5L, 4L))))
    // a fresh (non-owning) query over the maintained state refuses
    val mem2 = MemoryStream[(String, Long, String)]
    val q2 = EventStreaming.upsertLoop(
      mem2.toDF().toDF("op", "doc_id", "text"), stateDir)()
    mem2.addData(adds((20L, tC)): _*)
    expectStreamFailure(q2, "different run")
    assert(spark.read.parquet(s"$stateDir/chain/g=1/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap == end)
  }

  test("upsertLoop delete-only: two streamed delete batches maintain the " +
      "chain to exactly the from-scratch recompute on the remaining " +
      "pairs, old generations fold away, and the sink sees the " +
      "invalidated labels") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // seeded by streaming the corpus in as adds: 3 = tAB bridges
    // {1,2} = tA and {4,5} = tB into one component, plus a pair
    // {10,11}; batch 1 deletes the bridge, batch 2 deletes a doc of the
    // second component
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_takedown").toString + "/state"
    val mem = MemoryStream[(String, Long, String)]
    val deltas =
      scala.collection.mutable.Map[Long, Set[(Long, Long, String)]]()
    val query = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"), stateDir) { (df, b) =>
      deltas(b) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    val pairs = try {
      mem.addData(adds((1L, tA), (2L, tA), (3L, tAB), (4L, tB), (5L, tB),
        (10L, tC), (11L, tC)): _*)
      query.processAllAvailable()
      val seeded = spark.read.parquet(s"$stateDir/chain/g=0/pairs")
        .localCheckpoint()
      mem.addData(dels(3L): _*); query.processAllAvailable()
      mem.addData(dels(10L): _*); query.processAllAvailable()
      seeded
    } finally query.stop()
    // the seed is the path the deletes cut
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L),
        (10L, 11L)))
    // only the newest generation survives
    val gDirs = new java.io.File(s"$stateDir/chain")
      .listFiles().map(_.getName).filter(_.startsWith("g=")).toSeq
    assert(gDirs == Seq("g=2"))
    val end = spark.read.parquet(s"$stateDir/chain/g=2/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // bridge delete split {1..5} into {1,2} and {4,5}; deleting 10
    // left 11 edge-less, dropping the second component entirely
    assert(end == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
    // and the maintained map equals CC from scratch on surviving pairs
    val recomputed = graft.api.GraftPipelines.dupClusters(
        pairs.filter(!$"d1".isin(3L, 10L) && !$"d2".isin(3L, 10L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(end == recomputed)
    // sink deltas, 'del' rows = the invalidated labels: batch 1
    // invalidated the old component-1 labels of 3,4,5 (3 dropped, 4
    // and 5 relabeled onto 4); batch 2 invalidated 10,11
    assert(bySign(deltas(1)) == (Set((4L, 4L), (5L, 4L)),
      Set((3L, 1L), (4L, 1L), (5L, 1L))))
    assert(bySign(deltas(2)) == (Set.empty, Set((10L, 10L), (11L, 10L))))
    // surviving pairs in state match the retraction
    val endPairs = spark.read.parquet(s"$stateDir/chain/g=2/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(endPairs == Set((1L, 2L), (4L, 5L)))
    // a FRESH query (new implicit run identity) over the maintained
    // state must refuse at batch 0 — rewinding the chain would
    // resurrect the taken-down docs
    val mem2 = MemoryStream[(String, Long, String)]
    val q2 = EventStreaming.upsertLoop(
      mem2.toDF().toDF("op", "doc_id", "text"), stateDir)()
    mem2.addData(dels(5L): _*)
    expectStreamFailure(q2, "different run")
    // the refused restart must not have touched the chain
    assert(spark.read.parquet(s"$stateDir/chain/g=2/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap == end)
  }

  test("clusterAssignLoop run identity: resuming with the ORIGINAL " +
      "checkpoint appends, but a FRESH-checkpoint restart over the same " +
      "log refuses at batch 0 instead of clobbering") {
    import java.nio.file.{Files, Path}
    val embTable = Tables.embeddings(spark, sf)
    val (cent, _) = graft.api.GraftPipelines.kmeansFit(embTable, 8, 2, 64)
    val emb = embTable.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stateDir = Files
      .createTempDirectory("graft_assign_runid").toString + "/state"
    val watched = Files.createTempDirectory("graft_assign_runid_in")
    def appear(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      val tmp = Files.createTempDirectory("graft_assign_runid_tmp")
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, watched.resolve(name))
    }
    val schema = emb.take(1).toSeq.toDF("vec_id", "embedding").schema
    val chk1 = Files.createTempDirectory("graft_assign_runid_chk1").toString
    def start(chk: String) = EventStreaming.clusterAssignLoop(
      EventStreaming.fileSource(spark, watched.toString, schema),
      cent, stateDir, Some(chk))()
    appear("f0.parquet", emb.take(100).toSeq)
    val q1 = start(chk1)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(s"$stateDir/assign").count() == 100L)
    // same checkpoint = same run identity: the resume OWNS the log and
    // appends b=1 — the ownership guard must not over-refuse
    appear("f1.parquet", emb.slice(100, 200).toSeq)
    val q1b = start(chk1)
    try { q1b.processAllAvailable() } finally q1b.stop()
    assert(spark.read.parquet(s"$stateDir/assign").count() == 200L,
      "the original-checkpoint resume must have appended b=1")
    // a FRESH checkpoint restarts batch ids at 0 even though the fit is
    // unchanged — the fingerprint can't catch it; the run identity must
    val chk2 = Files.createTempDirectory("graft_assign_runid_chk2").toString
    val q2 = start(chk2)
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("different run") ||
        Option(e.getCause).exists(_.getMessage.contains("different run")))
    } finally q2.stop()
    val n = spark.read.parquet(s"$stateDir/assign").count()
    assert(n == 200L, s"the refused fresh-checkpoint run must not have " +
      s"clobbered the log, got $n")
  }

  private def expectStreamFailure(q: org.apache.spark.sql.streaming.StreamingQuery,
      needle: String): Unit =
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains(needle) ||
        Option(e.getCause).exists(_.getMessage.contains(needle)),
        s"expected failure mentioning '$needle', got: ${e.getMessage} / " +
          s"${Option(e.getCause).map(_.getMessage)}")
    } finally q.stop()

  test("knnMaintenanceLoop run identity: a torn scheme tmp never wedges " +
      "the owner, and a fresh (non-owning) query over existing vector " +
      "state refuses at batch 0 instead of clobbering b=0") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_knn_runid").toString + "/knn"
    // a publisher that died mid-write left a half-written scheme tmp
    val torn = new java.io.File(s"$stateDir/scheme.tmp-99999")
    torn.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(torn, "part-00000.parquet").toPath, "garbage")
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q1 = EventStreaming.knnMaintenanceLoop(
      mem.toDF().toDF("vec_id", "embedding"), stateDir)()
    try {
      mem.addData(emb.take(100).toSeq: _*)
      q1.processAllAvailable() // must publish past the torn tmp
    } finally q1.stop()
    assert(new java.io.File(s"$stateDir/scheme").exists(),
      "the loop must publish its marker even with a stale tmp dir present")
    val edges = spark.read.parquet(s"$stateDir/edges")
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.nonEmpty)
    // an un-checkpointed restart with IDENTICAL params restarts batch
    // ids at 0: its b=0 vector overwrite would silently replace the
    // owner's first batch while stale b=N dirs persist — the parameter
    // check cannot catch it, the run identity must
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val q2 = EventStreaming.knnMaintenanceLoop(
      mem2.toDF().toDF("vec_id", "embedding"), stateDir)()
    mem2.addData(emb.slice(100, 150).toSeq: _*)
    expectStreamFailure(q2, "different run")
    // the refused run must not have touched vectors or edges
    assert(spark.read.parquet(s"$stateDir/edges")
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == edges)
    assert(new java.io.File(s"$stateDir/vectors").listFiles()
      .map(_.getName).filter(_.startsWith("b=")).toSeq == Seq("b=0"))
  }

  test("ingestDedupLoop scheme: a mismatched-params restart refuses, a " +
      "foreign batch-0 start over the index refuses by default, and " +
      "adoptExisting deliberately continues against the accumulated index") {
    implicit val sqlCtx = spark.sqlContext
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_band_scheme").toString + "/idx"
    val mem1 = MemoryStream[(Long, String)]
    val q1 = EventStreaming.ingestDedupLoop(
      mem1.toDF().toDF("doc_id", "text"), idxDir) { (_, _) => () }
    try {
      mem1.addData((1L, "aa bb cc dd ee"), (2L, "ww xx yy zz qq"))
      q1.processAllAvailable()
    } finally q1.stop()
    val idxIds = spark.read.parquet(idxDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(idxIds == Set(1L, 2L))
    // band hashes from a different (seeds, bands) scheme must never mix
    val mem2 = MemoryStream[(Long, String)]
    val q2 = EventStreaming.ingestDedupLoop(
      mem2.toDF().toDF("doc_id", "text"), idxDir, bands = 8) { (_, _) => () }
    mem2.addData((3L, "aa bb cc dd ee"))
    expectStreamFailure(q2, "different scheme")
    // same params but a foreign run: refuse unless adoption is explicit
    val mem3 = MemoryStream[(Long, String)]
    val q3 = EventStreaming.ingestDedupLoop(
      mem3.toDF().toDF("doc_id", "text"), idxDir) { (_, _) => () }
    mem3.addData((3L, "aa bb cc dd ee"))
    expectStreamFailure(q3, "different run")
    assert(spark.read.parquet(idxDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L), "refused runs must not have grown the index")
    // adoptExisting: the deliberate continuation — doc 3 dups doc 1's
    // content ACROSS the run boundary, doc 4 is new and enters the index
    val mem4 = MemoryStream[(Long, String)]
    val flags = scala.collection.mutable.Map[Long, Int]()
    val q4 = EventStreaming.ingestDedupLoop(
        mem4.toDF().toDF("doc_id", "text"), idxDir,
        adoptExisting = true) { (batch, _) =>
      batch.collect().foreach { r =>
        flags.synchronized {
          flags(r.getAs[Long]("batch_id")) = r.getAs[Int]("is_new") }
      }
    }
    try {
      mem4.addData((3L, "aa bb cc dd ee"), (4L, "gg hh ii jj kk"))
      q4.processAllAvailable()
    } finally q4.stop()
    assert(flags.synchronized(flags.toMap) == Map(3L -> 0, 4L -> 1),
      "the adopting run must flag against the first run's index")
    assert(spark.read.parquet(idxDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L))
  }

  test("indexIngestLoop scheme: a foreign batch-0 start over the " +
      "postings log refuses, and adoptExisting continues — the serving " +
      "view then spans both runs' docs") {
    implicit val sqlCtx = spark.sqlContext
    val logDir = java.nio.file.Files
      .createTempDirectory("graft_postings_scheme").toString + "/log"
    val mem1 = MemoryStream[(Long, String)]
    val q1 = EventStreaming.indexIngestLoop(
      mem1.toDF().toDF("doc_id", "text"), logDir) { (_, _) => () }
    try {
      mem1.addData((1L, "a b c"), (2L, "b c d"))
      q1.processAllAvailable()
    } finally q1.stop()
    val mem2 = MemoryStream[(Long, String)]
    val q2 = EventStreaming.indexIngestLoop(
      mem2.toDF().toDF("doc_id", "text"), logDir) { (_, _) => () }
    mem2.addData((3L, "c d e"))
    expectStreamFailure(q2, "different run")
    val mem3 = MemoryStream[(Long, String)]
    val q3 = EventStreaming.indexIngestLoop(
        mem3.toDF().toDF("doc_id", "text"), logDir,
        adoptExisting = true) { (_, _) => () }
    try {
      mem3.addData((3L, "c d e"))
      q3.processAllAvailable()
    } finally q3.stop()
    val expect = api.GraftPipelines.invertedIndex(
        Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e"))
          .toDF("doc_id", "text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val serving = api.GraftPipelines
      .invertedIndexFromPostings(spark.read.parquet(logDir)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(serving == expect)
  }

  test("curationIngest scheme: a curation-policy change refuses, and a " +
      "foreign batch-0 restart over the state logs refuses — the logs " +
      "stay intact either way") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_curation_scheme").toString
    val evalDir = s"$base/evalgrams"
    val stateDir = s"$base/state"
    api.GraftPipelines.corpusGramIndex(
        Seq((100L, "secret eval answer token sequence")).toDF("doc_id", "text"))
      .select("g").write.parquet(evalDir)
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val mem1 = MemoryStream[(Long, String)]
    val q1 = EventStreaming.curationIngest(
      mem1.toDF().toDF("doc_id", "text"), evalDir, stateDir) { (_, _) => () }
    try {
      mem1.addData((1L, tA))
      q1.processAllAvailable()
    } finally q1.stop()
    val digests = spark.read.parquet(s"$stateDir/digests").count()
    assert(digests == 1L)
    // a different quality threshold shapes which docs enter the state
    // logs — two policies must never share one corpus state
    val mem2 = MemoryStream[(Long, String)]
    val q2 = EventStreaming.curationIngest(
      mem2.toDF().toDF("doc_id", "text"), evalDir, stateDir,
      minScore = 0.9) { (_, _) => () }
    mem2.addData((2L, tA))
    expectStreamFailure(q2, "different scheme")
    // same policy, foreign run, no adoption: refuse
    val mem3 = MemoryStream[(Long, String)]
    val q3 = EventStreaming.curationIngest(
      mem3.toDF().toDF("doc_id", "text"), evalDir, stateDir) { (_, _) => () }
    mem3.addData((2L, tA))
    expectStreamFailure(q3, "different run")
    assert(spark.read.parquet(s"$stateDir/digests").count() == digests,
      "refused runs must not have grown the digest log")
  }

  test("snapshotUpsertLoop run identity: a fresh-checkpoint restart over " +
      "an existing snapshot refuses at batch 0 instead of re-bootstrapping " +
      "the snapshot from empty") {
    import java.nio.file.{Files, Path}
    val watched = Files.createTempDirectory("graft_snap_runid_in")
    val snapDir = Files.createTempDirectory("graft_snap_runid")
      .toString + "/snap"
    def appear(name: String, rows: Seq[(Long, Long, Double, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_snap_runid_tmp")
      rows.toDF("custkey", "ver", "acctbal", "segment")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, watched.resolve(name))
    }
    val schema = Seq((0L, 0L, 0.0, "x"))
      .toDF("custkey", "ver", "acctbal", "segment").schema
    def start(chk: String) = EventStreaming.snapshotUpsertLoop(
      EventStreaming.fileSource(spark, watched.toString, schema),
      snapDir, "custkey", "ver", Some(chk))()
    appear("f0.parquet", Seq((1L, 1L, 10.0, "A"), (2L, 1L, 20.0, "B")))
    val chk1 = Files.createTempDirectory("graft_snap_runid_chk1").toString
    val q1 = start(chk1)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$snapDir/v=0").count() == 2)
    // a fresh checkpoint restarts version numbering at v=0: its merge
    // would read NO prior version and re-bootstrap from empty — refuse
    appear("f1.parquet", Seq((3L, 1L, 30.0, "C")))
    val chk2 = Files.createTempDirectory("graft_snap_runid_chk2").toString
    expectStreamFailure(start(chk2), "different run")
    // snapshot intact: still exactly v=0 with the owner's merge
    val vDirs = new java.io.File(snapDir).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSeq
    assert(vDirs == Seq("v=0"))
    assert(spark.read.parquet(s"$snapDir/v=0").count() == 2)
    // the owning checkpoint still resumes and applies the pending batch
    val q3 = start(chk1)
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.read.parquet(s"$snapDir/v=1").count() == 3)
  }

  test("upsertLoop: mixed add/delete batches maintain the chain to " +
      "exactly the batch rebuild over the live corpus — a bridge delete " +
      "SPLITS and an add MERGES in the same trigger, a new doc similar " +
      "to a tombstoned one pairs with nothing, and the sink sees the " +
      "signed label delta") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // batch 0 (adds only): path 1-2-3 (1~2 and 2~3 verify, 1~3 does
    // not — 2 is the bridge) plus pair {10,11}
    val b0 = Seq(("add", 1L, tA), ("add", 2L, tAB), ("add", 3L, tB),
      ("add", 10L, tC), ("add", 11L, tC))
    // batch 1: DELETE the bridge (splitting 1 and 3 into pair-less
    // singletons) while ADDING 4 = tA (re-pairs with 1 — and is 0.82
    // similar to the tombstoned 2, which must NOT generate a pair) and
    // 12 = tC (merges into {10,11})
    val b1 = Seq(("del", 2L, null: String), ("add", 4L, tA),
      ("add", 12L, tC))
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_upsert").toString + "/state"
    val mem = MemoryStream[(String, Long, String)]
    val deltas =
      scala.collection.mutable.Map[Long, Set[(Long, Long, String)]]()
    val query = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"), stateDir,
      compactThreshold = 2) { (df, b) =>
      deltas(b) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    try {
      mem.addData(b0: _*); query.processAllAvailable()
      mem.addData(b1: _*); query.processAllAvailable()
    } finally query.stop()
    val end = spark.read.parquet(s"$stateDir/chain/g=1/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // stream ≡ batch: full rebuild over the LIVE corpus (adds minus
    // deletes)
    val live = Seq((1L, tA), (3L, tB), (4L, tA), (10L, tC), (11L, tC),
      (12L, tC))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val twin = graft.api.GraftPipelines.dupClusters(
        graft.api.GraftPipelines.nearDuplicates(live, 0.7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(end == twin, s"stream $end must equal batch twin $twin")
    // the split really happened (3 left the map), the merge really
    // happened (12 joined 10's cluster), and 4 re-paired with 1 only
    assert(end == Map(1L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L,
      12L -> 10L))
    // signed deltas: batch 0 all adds; batch 1 = two removals (the
    // deleted bridge and the stranded 3) + two additions
    assert(deltas(0L) == Set((1L, 1L, "add"), (2L, 1L, "add"),
      (3L, 1L, "add"), (10L, 10L, "add"), (11L, 10L, "add")))
    assert(deltas(1L) == Set((4L, 1L, "add"), (12L, 10L, "add"),
      (2L, 1L, "del"), (3L, 1L, "del")))
    // surviving pairs: no pair touches the tombstoned doc 2
    val endPairs = spark.read.parquet(s"$stateDir/chain/g=1/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!endPairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"tombstoned doc must not hold pairs: $endPairs")
    // a fresh (non-owning) query over the maintained state refuses
    val mem2 = MemoryStream[(String, Long, String)]
    val q2 = EventStreaming.upsertLoop(
      mem2.toDF().toDF("op", "doc_id", "text"), stateDir)()
    mem2.addData(("add", 20L, tC))
    expectStreamFailure(q2, "different run")
    assert(spark.read.parquet(s"$stateDir/chain/g=1/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap == end)
    // a typo'd op fails the batch loudly instead of silently dropping
    // the row (a swallowed 'delete' would be a takedown that never
    // happened)
    val mem3 = MemoryStream[(String, Long, String)]
    val q3 = EventStreaming.upsertLoop(
      mem3.toDF().toDF("op", "doc_id", "text"),
      java.nio.file.Files.createTempDirectory("graft_upsert_badop")
        .toString + "/state")()
    mem3.addData(("delete", 10L, null: String))
    expectStreamFailure(q3, "unrecognized op")
  }

  test("upsertLoop contract refusals: a NULL op fails the batch (three-" +
      "valued logic must not silently drop the row), and a same-batch " +
      "add+del of one id refuses instead of picking a winner") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // NULL op: `!isin` evaluates to NULL, so without the explicit
    // isNull arm the row passes neither the guard nor the adds/dels
    // filters — the exact swallowed-takedown shape the guard exists for
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"),
      java.nio.file.Files.createTempDirectory("graft_upsert_nullop")
        .toString + "/state")()
    mem.addData((null: String, 7L, t))
    expectStreamFailure(q, "unrecognized op")
    // add+del of the same id in one batch: no apply order is right
    // (tombstone-first would leave the corpus side deleted while the
    // batch-band probe side still pairs the doc), so the loop refuses
    val mem2 = MemoryStream[(String, Long, String)]
    val q2 = EventStreaming.upsertLoop(
      mem2.toDF().toDF("op", "doc_id", "text"),
      java.nio.file.Files.createTempDirectory("graft_upsert_adddel")
        .toString + "/state")()
    mem2.addData(("add", 7L, t), ("del", 7L, null: String))
    expectStreamFailure(q2, "BOTH add and del")
  }

  test("StateScheme memo: a marker wiped and re-minted under another " +
      "scheme at the same path, while the memo is live, refuses on the " +
      "next trigger") {
    implicit val sqlCtx = spark.sqlContext
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_remint").toString + "/state"
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"), stateDir)()
    try {
      mem.addData(adds((1L, t)): _*)
      q.processAllAvailable() // validates the marker: the memo is live
      // same path, same run, a different fingerprint: before the stamp
      // check, the memo saw only that a marker still existed and the
      // next trigger ran under the foreign scheme
      val marker = s"$stateDir/scheme"
      val run = spark.read.parquet(marker).head().getAs[String]("run")
      val fs = new org.apache.hadoop.fs.Path(marker)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(marker), true)
      Seq(("j=0.1,n=9,seeds=1,bands=1,store=pb1", run)).toDF("fp", "run")
        .write.parquet(marker)
      mem.addData(adds((2L, t)): _*)
      expectStreamFailure(q, "different scheme")
    } finally q.stop()
  }

  test("upsertLoop over state in the retired pb= bucketed layout: the " +
      "first trigger refuses at the scheme check and writes nothing " +
      "under bands/, docs/ or chain/") {
    implicit val sqlCtx = spark.sqlContext
    import scala.jdk.CollectionConverters._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_pb_state").toString + "/state"
    // what a run under the bucketed layout left behind: its marker and
    // one band bucket
    Seq(("j=0.7,n=3,seeds=8,bands=4,store=pb64", "bucketed-run"))
      .toDF("fp", "run").write.parquet(s"$stateDir/scheme")
    graft.api.GraftPipelines.bandIndex(Seq((1L, t)).toDF("doc_id", "text"))
      .write.parquet(s"$stateDir/bands/pb=3")
    def logFiles(): Set[String] = Seq("bands", "docs", "chain").flatMap {
      sub =>
        val d = java.nio.file.Paths.get(stateDir, sub)
        if (!java.nio.file.Files.exists(d)) Nil
        else java.nio.file.Files.walk(d).iterator().asScala
          .map(_.toString).toSeq
    }.toSet
    val before = logFiles()
    assert(before.exists(_.contains("/bands/pb=3/part-")))
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"), stateDir)()
    mem.addData(adds((2L, t)): _*)
    expectStreamFailure(q, "different scheme")
    assert(logFiles() == before,
      s"the refused trigger must write nothing: ${logFiles() -- before}")
  }

  test("StateScheme markerless-state refusal: state files with NO scheme " +
      "marker (pre-marker era, or a lost marker) refuse at ensure time " +
      "instead of minting ownership for the current run — and the " +
      "append-log loops' adoptExisting names the continuation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_markerless").toString + "/state"
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"), stateDir)()
    try { mem.addData(adds((1L, t)): _*); q.processAllAvailable() }
    finally q.stop()
    // simulate pre-marker-era state: the chain exists, the marker is gone
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/scheme"), true)
    // before the fix, ensure would mint a marker owned by THIS fresh
    // run and the batch-0 foreign refusal could never fire — the chain
    // would be silently adopted (and rewound) by a run that never
    // built it
    val mem2 = MemoryStream[(String, Long, String)]
    val q2 = EventStreaming.upsertLoop(
      mem2.toDF().toDF("op", "doc_id", "text"), stateDir)()
    mem2.addData(adds((2L, t)): _*)
    expectStreamFailure(q2, "no scheme marker")
    // the chain was not touched
    assert(spark.read.parquet(s"$stateDir/chain/g=0/labels").count() >= 0)
    // append-log loop: markerless part- files refuse without
    // adoptExisting, proceed with it (the deliberate continuation)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_markerless_idx").toString + "/idx"
    graft.api.GraftPipelines.bandIndex(
        Seq((1L, t)).toDF("doc_id", "text"))
      .write.mode("append").parquet(idxDir)
    val mem3 = MemoryStream[(Long, String)]
    val q3 = EventStreaming.ingestDedupLoop(
      mem3.toDF().toDF("doc_id", "text"), idxDir) { (_, _) => () }
    mem3.addData((2L, t))
    expectStreamFailure(q3, "no scheme marker")
    val mem4 = MemoryStream[(Long, String)]
    val q4 = EventStreaming.ingestDedupLoop(
      mem4.toDF().toDF("doc_id", "text"), idxDir,
      adoptExisting = true) { (_, _) => () }
    // a NON-duplicate doc (survivors are what the loop indexes)
    try {
      mem4.addData((2L, "totally different corpus sentence about ships " +
        "and harbors and tides"))
      q4.processAllAvailable()
    } finally q4.stop()
    // the adopted index now holds both docs' bands
    assert(spark.read.parquet(idxDir).select("doc_id").distinct().count()
      == 2L)
  }

  test("chain per-trigger plans never shuffle the store: the probe and " +
      "doc fetch broadcast the batch side, and the only hash exchange in " +
      "each plan is candidate-sized") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // doc 1 uses its own vocabulary; 2..40 share a disjoint one, so
    // the probe (an exact copy of doc 1) can only band-match doc 1
    def shipDoc(i: Long) =
      (i, s"ship harbor tide crane dock gull pier rope w$i t${i % 7}")
    val docs = (1L, "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa") +: (2L to 40L).map(shipDoc)
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_pruned").toString + "/state"
    // size estimates alone would broadcast any side this small, so
    // auto-broadcast is off: each broadcast left is the code's own
    // counted decision. The stream runs in a session cloned at start,
    // so the setting and the plan listener precede the query
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val autoBroadcast = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // jobDescriptions' closing sentinel drains the listener bus
    def planned[T](body: => T): (Seq[SparkPlan], T) = {
      plans.clear()
      val (_, out) = jobDescriptions(body)
      (plans.toArray(Array.empty[SparkPlan]).toSeq, out)
    }
    try {
      val mem = MemoryStream[(String, Long, String)]
      val q = EventStreaming.upsertLoop(
        mem.toDF().toDF("op", "doc_id", "text"), stateDir)()
      val (mixed, _) = try {
        mem.addData(adds(docs: _*): _*); q.processAllAvailable()
        // a mixed trigger under the cap: a clustered doc leaves, a new
        // one joins another cluster
        planned {
          mem.addData(dels(3L) ++ adds(shipDoc(41L)): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      // no shuffle sits directly over a scan of the tombstone log or
      // the prior label map, and no exchange at all over the prior pair
      // set: each streams through broadcast joins (the label map's one
      // broadcast carries only the touched clusters' ids)
      def scans(dir: String)(p: SparkPlan): Boolean = p match {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.getName == dir)
        case _: Exchange | _: QueryStageExec => false
        case other => other.children.exists(scans(dir))
      }
      val exchanges = mixed.flatMap(p => PlanWalk.collect(p) {
        case e: Exchange => e
      })
      val shuffles = exchanges.filter(_.isInstanceOf[ShuffleExchangeExec])
      Seq("dels" -> shuffles, "labels" -> shuffles, "pairs" -> exchanges)
        .foreach { case (dir, banned) =>
          assert(mixed.exists(p => PlanWalk.collect(p) {
              case s: FileSourceScanExec => s }.exists(scans(dir))),
            s"the mixed trigger never scanned $dir/")
          val over = banned.filter(e => scans(dir)(e.child))
          assert(over.isEmpty, s"exchange over the $dir/ scan:\n" +
            over.mkString("\n").take(3000))
        }
      // the other two near-dup ingest loops, on a trigger over existing
      // state: no exchange sits directly over a scan of their logs
      // (only projections, filters and a semi/anti join's streamed side
      // between the two), so the ingest index and the curation band
      // and digest logs stream whole through joins whose batch side
      // broadcasts
      def direct(dir: String)(p: SparkPlan): Boolean = p match {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.getName == dir)
        case _: ProjectExec | _: FilterExec | _: ColumnarToRowExec |
            _: InputAdapter | _: WholeStageCodegenExec =>
          p.children.exists(direct(dir))
        case j: BroadcastHashJoinExec
            if j.joinType == LeftSemi || j.joinType == LeftAnti =>
          direct(dir)(j.left)
        case _ => false
      }
      def logsStream(ps: Seq[SparkPlan], dirs: String*): Unit =
        dirs.foreach { dir =>
          assert(ps.exists(p => PlanWalk.collect(p) {
              case s: FileSourceScanExec => s }.exists(direct(dir))),
            s"the trigger never scanned $dir/")
          val over = ps.flatMap(p => PlanWalk.collect(p) {
            case e: Exchange => e }).filter(e => direct(dir)(e.child))
          assert(over.isEmpty, s"exchange over the $dir/ scan:\n" +
            over.mkString("\n").take(3000))
        }
      val base = java.nio.file.Files.createTempDirectory("graft_probe_loops")
        .toString
      val next = Seq(shipDoc(41L), (100L, docs.head._2))
      val mi = MemoryStream[(Long, String)]
      val qi = EventStreaming.ingestDedupLoop(
          mi.toDF().toDF("doc_id", "text"), s"$base/idx") { (b, _) =>
        b.collect(); () }
      val (ingestPlans, _) = try {
        mi.addData(docs: _*); qi.processAllAvailable()
        planned { mi.addData(next: _*); qi.processAllAvailable() }
      } finally qi.stop()
      logsStream(ingestPlans, "idx")
      api.GraftPipelines.corpusGramIndex(
          Seq((0L, "secret eval answer token sequence")).toDF("doc_id", "text"))
        .select("g").write.parquet(s"$base/evalgrams")
      val mc = MemoryStream[(Long, String)]
      val qc = EventStreaming.curationIngest(mc.toDF().toDF("doc_id", "text"),
          s"$base/evalgrams", s"$base/curation") { (b, _) => b.collect(); () }
      val (curationPlans, _) = try {
        mc.addData(docs: _*); qc.processAllAvailable()
        planned { mc.addData(next: _*); qc.processAllAvailable() }
      } finally qc.stop()
      logsStream(curationPlans, "bands", "digests")
      // a 1-doc probe batch: doc 100 duplicates doc 1 exactly
      val batch = Seq((100L, docs.head._2)).toDF("doc_id", "text")
      val batchBands = graft.api.GraftPipelines.bandIndex(batch)
        .localCheckpoint()
      val cands = api.GraftPipelines.probePairs(api.GraftPipelines.bandProbe(
        spark.read.schema("doc_id long, b string").parquet(s"$stateDir/bands"),
        batchBands, batchBands.count()))
      val cplan = cands.queryExecution.executedPlan.toString()
      assert(cplan.contains("BroadcastHashJoin"),
        s"small batch must broadcast-probe the store:\n${cplan.take(1500)}")
      // no hash exchange at all: the candidates are not deduplicated —
      // the round-13 version shuffled the ENTIRE band store here per trigger
      assert(cplan.sliding("Exchange hashpartitioning".length)
          .count(_ == "Exchange hashpartitioning") == 0,
        "store side must reach the probe join unshuffled:\n" +
          cplan.take(2000))
      val cRows = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cRows.contains((1L, 100L)),
        s"the exact-dup candidate must surface, got $cRows")
      // the verify restricts the whole doc log (doc 100 appended first,
      // as the loop does) to the candidate ids; its plans are captured
      // as the checkpoints inside it report to the listener
      batch.write.mode("append").parquet(s"$stateDir/docs")
      val (verifyPlans, verified) = planned {
        api.GraftPipelines.nearDuplicatesFromCandidates(
            spark.read.parquet(s"$stateDir/docs"), cands, 0.7)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(verified == Set((1L, 100L)), s"verified pairs: $verified")
      // the doc-log scan reaches a broadcast LeftSemi with no Exchange
      // between them: the store is never shuffled to fetch texts
      def docScanUnshuffled(p: SparkPlan): Boolean = p match {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.getName == "docs")
        case _: Exchange => false
        case other => other.children.exists(docScanUnshuffled)
      }
      val semis = verifyPlans.flatMap(p => PlanWalk.collect(p) {
          case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
        })
      assert(semis.exists(j =>
          j.buildSide == BuildRight && docScanUnshuffled(j.left)),
        s"candidate ids must broadcast-semi-prune the unshuffled doc log:\n" +
          verifyPlans.mkString("\n").take(3000))
    } finally {
      spark.listenerManager.unregister(listener)
      autoBroadcast
        .fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  test("knnMaintenanceLoop occupancy guard: a dense delta over existing " +
      "8-bit state refuses (the measured rebuild-per-trigger " +
      "degeneration) while a 12-bit loop on the SAME data proceeds") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def vec(): Seq[Float] = Seq.fill(16)(rnd.nextFloat() * 2f - 1f)
    val seed = (0L until 10L).map(i => (i, vec()))
    // ~400 random vectors touch ~80% of 256 sign-LSH buckets (the
    // bench_streaming.json 1:100 shape) but <10% of 4096
    val dense = (100L until 500L).map(i => (i, vec()))
    val dir8 = java.nio.file.Files
      .createTempDirectory("graft_occ8").toString + "/knn"
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = EventStreaming.knnMaintenanceLoop(
      mem.toDF().toDF("vec_id", "embedding"), dir8)()
    // bootstrap is exempt: the first fill IS a build
    try { mem.addData(seed: _*); q.processAllAvailable() }
    catch { case e: Throwable => q.stop(); throw e }
    mem.addData(dense: _*)
    expectStreamFailure(q, "maxBucketFraction")
    // nothing of the refused batch reached the state
    val b1 = new java.io.File(s"$dir8/vectors/b=1")
    assert(!b1.exists(), "a refused trigger must write nothing")
    // widened bits: the same seed + dense data proceeds and maintains
    val dir12 = java.nio.file.Files
      .createTempDirectory("graft_occ12").toString + "/knn"
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val q2 = EventStreaming.knnMaintenanceLoop(
      mem2.toDF().toDF("vec_id", "embedding"), dir12, lshBits = 12)()
    try {
      mem2.addData(seed: _*); q2.processAllAvailable()
      mem2.addData(dense: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(s"$dir12/edges").count() > 0)
  }

  test("vacuumChainState: the tombstoned doc's text physically leaves " +
      "every log under statePath, the serving view is unchanged, the " +
      "loop keeps running across a vacuum, and a mid-swap crash makes " +
      "the loop refuse until a vacuum re-run recovers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.nio.file.{Files, Path}
    val tSecret = "zanzibar quokka fjord mamba vortex pylon ember " +
      "cactus nimbus oryx"
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stateDir = Files.createTempDirectory("graft_vac").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_vac_ck").toString
    val watched = Files.createTempDirectory("graft_vac_in")
    def appear(name: String, rows: Seq[(String, Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_vac_tmp")
      rows.toDF("op", "doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, watched.resolve(name))
    }
    val schema = Seq(("x", 0L, "y")).toDF("op", "doc_id", "text").schema
    def start() = EventStreaming.upsertLoop(
      EventStreaming.fileSource(spark, watched.toString, schema),
      stateDir, Some(ckpt))()
    // batch 0: two pairs, one of them carrying the to-be-forgotten text
    appear("f0.parquet", Seq(("add", 1L, tA), ("add", 2L, tA),
      ("add", 7L, tSecret), ("add", 8L, tSecret)))
    // batch 1: right-to-be-forgotten lands for the secret pair
    val q1 = start()
    try {
      q1.processAllAvailable()
      appear("f1.parquet", Seq(("del", 7L, null: String),
        ("del", 8L, null: String)))
      q1.processAllAvailable()
    } finally q1.stop()
    val before = spark.read.parquet(s"$stateDir/chain/g=1/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(before == Map(1L -> 1L, 2L -> 1L))
    // tombstones hide the docs from every read, but the TEXT is still
    // physically on disk — the gap the vacuum exists to close
    assert(spark.read.parquet(s"$stateDir/docs")
      .filter($"text" === tSecret).count() == 2)
    graft.operators.DedupOps.vacuumChainState(spark, stateDir)
    // (a) serving view unchanged
    assert(spark.read.parquet(s"$stateDir/chain/g=1/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap == before)
    // (b) the deleted docs are gone from EVERY table under statePath:
    // text and ids out of the doc log, band rows out of the band log,
    // and the chain never held them past the delete
    assert(spark.read.parquet(s"$stateDir/docs")
      .filter($"doc_id".isin(7L, 8L) || $"text" === tSecret).isEmpty)
    assert(spark.read.parquet(s"$stateDir/bands")
      .filter($"doc_id".isin(7L, 8L)).isEmpty)
    assert(spark.read.parquet(s"$stateDir/chain/g=1/pairs")
      .filter($"d1".isin(7L, 8L) || $"d2".isin(7L, 8L)).isEmpty)
    // tombstones persist (ids only — the permanence contract)
    assert(spark.read.parquet(s"$stateDir/dels")
      .collect().map(_.getLong(0)).toSet == Set(7L, 8L))
    // (c) the loop continues across the vacuum on its own checkpoint
    appear("f2.parquet", Seq(("add", 3L, tA)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$stateDir/chain/g=2/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // (crash) a vacuum that died between its two renames leaves
    // docs.vold with no live docs log: the loop must refuse (an append
    // would rebuild the store from one batch) and name the recovery
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$stateDir/docs"),
      new org.apache.hadoop.fs.Path(s"$stateDir/docs.vold")))
    appear("f3.parquet", Seq(("add", 4L, tA)))
    val q3 = start()
    expectStreamFailure(q3, "vacuum crashed mid-swap")
    // re-running the vacuum completes the recovery sweep (rolls the
    // backup in), after which the loop replays the failed batch and
    // proceeds
    graft.operators.DedupOps.vacuumChainState(spark, stateDir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/docs")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/docs.vold")))
    val q4 = start()
    try q4.processAllAvailable() finally q4.stop()
    val end = spark.read.parquet(s"$stateDir/chain/g=3/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(end == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"post-recovery chain must hold the replayed add, got $end")
  }

  /** Make `rows` appear in `watched` as ONE parquet file (written
    * elsewhere, then moved in), so a file-source stream sees it whole in
    * one trigger. */
  private def appearOps(watched: java.nio.file.Path, name: String,
      rows: Seq[(String, Long, String)]): Unit = {
    import java.nio.file.{Files, Path}
    val tmp = Files.createTempDirectory("graft_appear_tmp")
    rows.toDF("op", "doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, watched.resolve(name))
  }

  private lazy val opsSchema =
    Seq(("x", 0L, "y")).toDF("op", "doc_id", "text").schema

  test("upsertLoop delete-only replay: a sink crash AFTER publish replays " +
      "the batch onto its own published generation — the restart " +
      "recovers cleanly (no crash loop), redelivers the true invalidated " +
      "delta from stable files, and the chain never rewinds (the " +
      "delete-then-rename republish it replaces could wipe the only " +
      "generation and resurrect taken-down docs)") {
    import java.nio.file.Files
    val watched = Files.createTempDirectory("graft_takedown_replay_in")
    val chk = Files.createTempDirectory("graft_takedown_replay_chk").toString
    val stateDir = Files.createTempDirectory("graft_takedown_replay")
      .toString + "/state"
    @volatile var crashBatch2 = false
    val sunk = scala.collection.mutable
      .ArrayBuffer[(Long, (Set[(Long, Long)], Set[(Long, Long)]))]()
    def start() = EventStreaming.upsertLoop(
        EventStreaming.fileSource(spark, watched.toString, opsSchema),
        stateDir, Some(chk)) { (df, b) =>
      if (b == 2 && crashBatch2) {
        crashBatch2 = false
        sys.error("injected sink crash after publish")
      }
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      sunk.synchronized { sunk += b -> bySign(rows) }
    }
    // batch 0 seeds the chain 1,2 - 3 - 4,5 plus {10,11}; batch 1
    // deletes the bridge
    appearOps(watched, "f0.parquet", adds((1L, tA), (2L, tA), (3L, tAB),
      (4L, tB), (5L, tB), (10L, tC), (11L, tC)))
    val q1 = start()
    try {
      q1.processAllAvailable()
      appearOps(watched, "f1.parquet", dels(3L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(s"$stateDir/chain/g=1/labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L, 10L -> 10L, 11L -> 10L))
    assert(sunk.synchronized(sunk.toList).map(_._1) == List(0L, 1L))
    assert(sunk.synchronized(sunk(1)) == 1L -> ((Set((4L, 4L), (5L, 4L)),
      Set((3L, 1L), (4L, 1L), (5L, 1L)))))
    // batch 2 (delete 10): the generation publishes, then the sink dies
    // BEFORE delivering — the crash window where the publish committed
    // and the sink/checkpoint did not
    appearOps(watched, "f2.parquet", dels(10L))
    crashBatch2 = true
    val q2 = start()
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
    } finally q2.stop()
    // both generations live: publish never deletes, the fold never ran
    val gDirs = new java.io.File(s"$stateDir/chain")
      .listFiles().map(_.getName).filter(_.startsWith("g=")).sorted.toSeq
    assert(gDirs == Seq("g=1", "g=2"),
      s"crash between publish and sink must leave both generations: $gDirs")
    // restart: the replay lands on its own published g=2, recovers the
    // TRUE invalidated delta from the stable g=1/g=2 files, and folds
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(sunk.synchronized(sunk.toList).drop(2) ==
      List(2L -> ((Set.empty, Set((10L, 10L), (11L, 10L))))),
      s"the replay must redeliver the invalidated delta: ${sunk.toList}")
    assert(spark.read.parquet(s"$stateDir/chain/g=2/labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L),
      "the recovered chain equals the committed retraction")
    assert(new java.io.File(s"$stateDir/chain")
      .listFiles().map(_.getName).filter(_.startsWith("g=")).toSeq ==
      Seq("g=2"), "the recovered run folds the pre-publish generation")
  }

  test("upsertLoop add-only replay: a sink crash after publish replays " +
      "the ingest batch onto its own published generation — clean " +
      "recovery, true delta redelivered, and the resumed run keeps " +
      "extending") {
    import java.nio.file.Files
    val watched = Files.createTempDirectory("graft_extend_replay_in")
    val chk = Files.createTempDirectory("graft_extend_replay_chk").toString
    val stateDir = Files.createTempDirectory("graft_extend_replay")
      .toString + "/state"
    @volatile var crashBatch1 = false
    val sunk =
      scala.collection.mutable.ArrayBuffer[(Long, Set[(Long, Long, String)])]()
    def start() = EventStreaming.upsertLoop(
        EventStreaming.fileSource(spark, watched.toString, opsSchema),
        stateDir, Some(chk)) { (df, b) =>
      if (b == 1 && crashBatch1) {
        crashBatch1 = false
        sys.error("injected sink crash after publish")
      }
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      sunk.synchronized { sunk += b -> rows }
    }
    appearOps(watched, "f0.parquet", adds((1L, tA), (2L, tA), (10L, tC)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // doc 10 is pair-less in batch 0, so it is not yet in the map
    assert(spark.read.parquet(s"$stateDir/chain/g=0/labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(1L -> 1L, 2L -> 1L))
    // batch 1 (doc 11 dups tC): publish lands, sink dies before delivery
    appearOps(watched, "f1.parquet", adds((11L, tC)))
    crashBatch1 = true
    val q2 = start()
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
    } finally q2.stop()
    assert(new java.io.File(s"$stateDir/chain")
      .listFiles().map(_.getName).filter(_.startsWith("g=")).sorted.toSeq ==
      Seq("g=0", "g=1"))
    // restart: replay onto own generation, delta from stable files
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(sunk.synchronized(sunk.toList) == List(
      0L -> Set((1L, 1L, "add"), (2L, 1L, "add")),
      1L -> Set((10L, 10L, "add"), (11L, 10L, "add"))),
      s"the replay must redeliver batch 1's true delta: ${sunk.toList}")
    val end = spark.read.parquet(s"$stateDir/chain/g=1/labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(end == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    // and the recovered run keeps extending normally
    appearOps(watched, "f2.parquet", adds((12L, tA)))
    val q4 = start()
    try q4.processAllAvailable() finally q4.stop()
    assert(spark.read.parquet(s"$stateDir/chain/g=2/labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 1L))
  }

  test("upsertLoop runs one chain step per trigger: an add-only, a " +
      "mixed and a delete-only trigger each label connected components " +
      "in exactly one driver union-find job") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"),
      java.nio.file.Files.createTempDirectory("graft_chain_step")
        .toString + "/state")()
    def ccJobs(rows: Seq[(String, Long, String)]): Seq[String] =
      jobDescriptions { mem.addData(rows: _*); q.processAllAvailable() }
        ._1.filter(_.startsWith("cc:"))
    def unionFinds(jobs: Seq[String]) = jobs.count(_ == "cc: driver union-find")
    try {
      val addOnly = ccJobs(adds((1L, tA), (2L, tA), (3L, tB), (4L, tB)))
      val mixed = ccJobs(dels(2L) ++ adds((5L, tA)))
      val delOnly = ccJobs(dels(4L))
      assert(unionFinds(addOnly) == 1, s"add-only ran: $addOnly")
      assert(unionFinds(mixed) == 1, s"mixed ran: $mixed")
      assert(unionFinds(delOnly) == 1, s"delete-only ran: $delOnly")
    } finally q.stop()
  }

  test("upsertLoop labels every job of a mixed trigger with its phase") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"),
      java.nio.file.Files.createTempDirectory("graft_chain_labels")
        .toString + "/state")()
    try {
      mem.addData(adds((1L, tA), (2L, tA), (3L, tB), (4L, tC)): _*)
      q.processAllAvailable()
      val (jobs, _) = jobDescriptions {
        mem.addData(dels(2L, 4L) ++ adds((5L, tA), (6L, tAB)): _*)
        q.processAllAvailable()
      }
      // an unlabeled job carries no description, or the stream's own
      // per-batch one (it names the run id), never a phase
      val unlabeled = jobs.filter(d =>
        d.trim.isEmpty || d.contains(s"runId = ${q.runId}"))
      assert(jobs.nonEmpty && unlabeled.isEmpty,
        s"${unlabeled.size} of ${jobs.size} jobs carry no phase label: $jobs")
    } finally q.stop()
  }

  /** The jobs of a loop's second trigger, and those of them that carry
    * no phase label: no description, or only the stream's own per-batch
    * one. */
  private def unlabeledJobs(start: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.streaming.StreamingQuery)
      : (Seq[String], Seq[String]) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = start(mem.toDF().toDF("doc_id", "text"))
    val fresh = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    try {
      mem.addData((1L, fresh), (2L, "kilo lima mike november oscar papa " +
        "quebec romeo sierra tango"))
      q.processAllAvailable()
      val (jobs, _) = jobDescriptions {
        mem.addData((3L, fresh), (4L, fresh.replace("golf", "gulf")),
          (5L, "uniform victor whiskey xray yankee zulu amber basil cedar " +
            "dune"))
        q.processAllAvailable()
      }
      (jobs, jobs.filter(d =>
        d.trim.isEmpty || d.contains(s"runId = ${q.runId}")))
    } finally q.stop()
  }

  test("ingestDedupLoop labels every job of a trigger with its phase") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ingest_labels")
      .toString + "/idx"
    val (jobs, unlabeled) = unlabeledJobs(docs =>
      EventStreaming.ingestDedupLoop(docs, idx)((b, _) => b.collect()))
    assert(jobs.nonEmpty && unlabeled.isEmpty,
      s"${unlabeled.size} of ${jobs.size} jobs carry no phase label: $jobs")
  }

  test("curationIngest labels every job of a trigger with its phase") {
    val base = java.nio.file.Files.createTempDirectory("graft_curate_labels")
      .toString
    api.GraftPipelines.corpusGramIndex(
        Seq((100L, "secret eval answer token sequence")).toDF("doc_id", "text"))
      .select("g").write.parquet(s"$base/evalgrams")
    val (jobs, unlabeled) = unlabeledJobs(docs =>
      EventStreaming.curationIngest(docs, s"$base/evalgrams",
        s"$base/state")((b, _) => b.collect()))
    assert(jobs.nonEmpty && unlabeled.isEmpty,
      s"${unlabeled.size} of ${jobs.size} jobs carry no phase label: $jobs")
  }

  test("upsertLoop mixed trigger job budget: no job re-infers a fixed " +
      "state schema, the tombstone set and the add+del guard take one " +
      "job each, and the trigger stays within 30 jobs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"),
      java.nio.file.Files.createTempDirectory("graft_chain_budget")
        .toString + "/state")()
    try {
      mem.addData(adds((1L, tA), (2L, tA), (3L, tB), (4L, tC)): _*)
      q.processAllAvailable()
      val (jobs, _) = jobDescriptions {
        mem.addData(dels(2L, 4L) ++ adds((5L, tA), (6L, tAB)): _*)
        q.processAllAvailable()
      }
      val perPhase = jobs.groupBy(_.replaceFirst("""^upsert\[\d+\] """, ""))
        .map { case (phase, js) => phase -> js.size }
      val ledger = perPhase.toSeq.sortBy(-_._2).mkString(", ")
      info(s"${jobs.size} jobs: $ledger")
      def phase(p: String) = perPhase.getOrElse(p, 0)
      assert(phase("tombstone set") <= 1, ledger)
      assert(phase("add+del guard") <= 1, ledger)
      // a no-op sink reads nothing: the delta sink and the chain step
      // read state only through declared schemas, which run no job
      assert(phase("chain step (CC)") == 0, ledger)
      assert(phase("delta sink") == 0, ledger)
      assert(jobs.size <= 30, s"${jobs.size} jobs: $ledger")
    } finally q.stop()
  }

  test("scheme guard bootstrap: a fresh ingestDedupLoop and upsertLoop " +
      "publish their marker in at most one job, with no read-back") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_guard_jobs")
      .toString
    val docs = MemoryStream[(Long, String)]
    val ingest = EventStreaming.ingestDedupLoop(
      docs.toDF().toDF("doc_id", "text"), s"$base/idx") { (_, _) => () }
    val ops = MemoryStream[(String, Long, String)]
    val upsert = EventStreaming.upsertLoop(
      ops.toDF().toDF("op", "doc_id", "text"), s"$base/state")()
    try {
      val (jobs, _) = jobDescriptions {
        docs.addData((1L, tA)); ingest.processAllAvailable()
        ops.addData(adds((1L, tA)): _*); upsert.processAllAvailable()
      }
      for (loop <- Seq("ingest", "upsert")) {
        val guard = jobs.count(_ == s"$loop[0] scheme guard")
        assert(guard <= 1, s"$loop bootstrap guard ran $guard jobs: $jobs")
      }
      assert(new java.io.File(s"$base/idx/_scheme").isDirectory &&
        new java.io.File(s"$base/state/scheme").isDirectory)
    } finally { ingest.stop(); upsert.stop() }
  }

  test("knnMaintenanceLoop consolidation: a publish whose rename fails " +
      "throws before any input is deleted") {
    implicit val sqlCtx = spark.sqlContext
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val prev = keys.map(k => k -> Option(conf.get(k)))
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_knn_unpublished").toString + "/knn"
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    conf.set("fs.file.impl", classOf[FailingConsolidationFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try {
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = EventStreaming.knnMaintenanceLoop(
        mem.toDF().toDF("vec_id", "embedding"), stateDir,
        compactEvery = 2)()
      mem.addData(emb.take(100).toSeq: _*)
      q.processAllAvailable()                     // b=0
      mem.addData(emb.slice(100, 150).toSeq: _*)  // folds b=0, b=1 -> c=1
      expectStreamFailure(q, "rename")
    } finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    val dirs = new java.io.File(s"$stateDir/vectors").listFiles()
      .map(_.getName).sorted.toSeq
    assert(dirs == Seq("b=0", "b=1"),
      s"an unpublished consolidation must leave its inputs in place: $dirs")
    assert(Seq("b=0", "b=1").map(d =>
      spark.read.parquet(s"$stateDir/vectors/$d").count()).sum == 150L)
  }

  test("EventStreaming state plumbing has one home: one rename, every " +
      "ownership check a StateDir.guard call, and every state read " +
      "declares its schema") {
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/EventStreaming.scala"))
    // StateDir's body, from its opening brace to the matching close
    val decl = src.indexOf("private[streaming] object StateDir")
    assert(decl > 0, "StateDir not found")
    val open = src.indexOf('{', decl)
    val close = Iterator.from(open).scanLeft((0, 0)) { case ((depth, _), i) =>
        (depth + (src(i) match { case '{' => 1; case '}' => -1; case _ => 0 }), i)
      }.drop(1).find(_._1 == 0).get._2
    val outside = src.take(open) + src.drop(close + 1)
    assert("""\.rename\(""".r.findAllIn(src).size == 1,
      "one crash-safe publish: StateDir.publish is the only rename")
    assert("""\b(?:refuseForeign|ensure)\(""".r.findAllIn(outside).isEmpty)
    assert("""StateDir\.guard\(""".r.findAllIn(outside).size == 7,
      "each of the seven stateful loops guards its state once")
    // a parquet read: `.read`, any `.schema(…)`/`.option(…)`, `.parquet(`
    val reads = ("""\.read\b((?:\s*\.\s*(?:schema|option)\([^)]*\))*)""" +
      """\s*\.\s*parquet\(([^)]*)\)""").r
    val all = reads.findAllMatchIn(outside).toSeq
    val undeclared = all.filterNot(m => m.group(1).contains(".schema(") ||
      m.group(2).trim == "evalGramsPath").map(_.matched)
    assert(all.size > undeclared.size && undeclared.isEmpty,
      "state reads must declare the written schema:\n" +
        undeclared.mkString("\n"))
  }
}

/** A local file system on which a rename onto a knn consolidation
  * (`c=<id>`) fails, as a full disk or a lost lease would make it. */
class FailingConsolidationFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !dst.getName.startsWith("c=") && super.rename(src, dst)
}
