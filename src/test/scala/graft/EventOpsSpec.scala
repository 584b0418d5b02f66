package graft

import org.apache.spark.sql.functions._

/** Event-log family: flagship, catalog, dict decode, sort/limit semantics
  * (SURVEY.md §5.2 unit strategy; ragged/enum-map/limit-order fixtures per
  * FIXTURES.md).
  */
class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  test("ev_flagship: 100 rows, error-type only, ordered by time") {
    val rows = q("ev_flagship").collect()
    assert(rows.length == 100)
    val ms = rows.map(_.getAs[Long]("ts_ms"))
    assert(ms.sameElements(ms.sorted), "rows must be time-ordered")
    // decoded props column present and non-null
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("k"))))
    // the driver-contract flagship is this query on the same corpus
    assert(SparkEntry.entry(spark).collect().toSeq == rows.toSeq)
  }

  test("ev_catalog: one row per event type, counts sum to table size") {
    val cat = q("ev_catalog").collect()
    assert(cat.length == 5)
    val total = cat.map(_.getAs[Long]("n")).sum
    assert(total == 1000, s"catalog counts must partition the log, got $total")
    cat.foreach { r =>
      assert(r.getAs[Long]("first_ms") <= r.getAs[Long]("last_ms"))
    }
  }

  test("ev_partition_pruned: day predicate becomes a PartitionFilter " +
      "and matches the flat-table aggregate") {
    val df = q("ev_partition_pruned")
    val plan = df.queryExecution.executedPlan.toString()
    // the predicate must prune at partition level, not as a data filter
    // over every file — the 100 TB skip contract
    assert(plan.contains("PartitionFilters"),
      s"expected PartitionFilters in:\n${plan.take(900)}")
    assert(plan.contains("20240107"),
      s"day predicate must reach the partition filter:\n${plan.take(900)}")
    // bit-identical to the same aggregate over the unpartitioned log
    val flat = operators.EventOps.events(spark, sf)
      .filter(date_format($"ts", "yyyyMMdd").cast("int") === 20240107)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"user_id").as("sum_uid"),
        min($"ts_ms").as("first_ms"), max($"ts_ms").as("last_ms"))
      .orderBy($"event_type")
    assert(df.collect().toSeq == flat.collect().toSeq)
  }

  test("ev_dict_decode: unmapped codes fall back to code_<n>") {
    // enum-map fixture (FIXTURES.md): user 3 maps via the dict,
    // user 27 % 30 = 27 has no dict row → raw-code fallback
    // (reference: src/main.cpp:796-803).
    val events = Seq(
      (1L, 1000000000L, 3L, "click", 1.0, "{}"),
      (2L, 2000000000L, 27L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val nation = Seq((3, "NATION_3", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val dir = tempSfDir("events" -> events, "nation" -> nation)
    val decoded = q("ev_dict_decode", dir).collect()
      .map(_.getAs[String]("decoded")).toSet
    assert(decoded == Set("NATION_3", "code_27"))
    // and on the real corpus every row decodes to something
    val n = q("ev_dict_decode").collect().map(_.getAs[Long]("n")).sum
    assert(n == 1000)
  }

  test("ev_dict_decode_typed: per-type names, per-type fallback") {
    // the SAME code decodes differently per event type (keyed registry,
    // reference TdhGetEventMapInformation is per type+property,
    // src/main.cpp:697-736); unmapped codes keep the raw-code fallback
    val events = Seq(
      (1L, 1000000000L, 3L, "click", 1.0, "{}"),  // code 3, mapped
      (2L, 2000000000L, 27L, "click", 1.0, "{}"), // code 27, unmapped
      (3L, 3000000000L, 33L, "view", 1.0, "{}"))  // 33 % 30 = 3, mapped
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val nation = Seq((3, "NATION_3", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val dir = tempSfDir("events" -> events, "nation" -> nation)
    val rows = q("ev_dict_decode_typed", dir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("decoded")))
      .toSet
    // same code 3 → C:NATION_3 under click but V:NATION_3 under view
    assert(rows == Set(("click", "C:NATION_3"), ("click", "code_27"),
      ("view", "V:NATION_3")))
  }

  test("ev_projection_format: canonical 8-4-4-4-12 GUID render") {
    val g = q("ev_projection_format").collect().head.getAs[String]("guid")
    assert(g.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
      s"not canonical GUID form: $g")
  }

  test("corrupt props JSON decodes to null, never fails the query") {
    // a real log always contains some mangled payload — decode must
    // degrade per-row (null), not kill the scan
    val events = Seq(
      (1L, 1000000000L, 1L, "error", 1.0, """{"k": 7}"""),
      (2L, 2000000000L, 2L, "error", 1.0, """{"k": """),  // truncated
      (3L, 3000000000L, 3L, "error", 1.0, "not json at all"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    val rows = q("ev_flagship", dir).collect()
    assert(rows.length == 3, "all rows survive the decode")
    val byId = rows.map(r => r.getAs[Long]("event_id") ->
      r.isNullAt(r.fieldIndex("k"))).toMap
    assert(byId(1L) == false && byId(2L) == true && byId(3L) == true)
  }

  test("ev_topk: deterministic under duplicate sort keys (tie-break)") {
    val a = q("ev_topk").collect().map(_.toSeq)
    val b = q("ev_topk").collect().map(_.toSeq)
    assert(a.sameElements(b))
    assert(a.length == 10)
  }

  test("ev_schema_infer: ragged props yield per-type key sets") {
    val docs = Seq(
      (1L, 1000000000L, 1L, "alpha", 1.0, """{"x": 1, "y": 2}"""),
      (2L, 2000000000L, 1L, "alpha", 1.0, """{"x": 3, "y": 4}"""),
      (3L, 3000000000L, 2L, "beta", 2.0, """{"z": 5}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> docs)
    val inferred = q("ev_schema_infer", dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(inferred == Map("alpha" -> "x,y", "beta" -> "z"))
  }

  test("ev_sessionize: 30-minute gaps split sessions") {
    val min = 60L * 1000 * 1000 * 1000
    val events = Seq(
      (1L, 0 * min, 7L, "click", 1.0, "{}"),
      (2L, 10 * min, 7L, "click", 1.0, "{}"),   // same session
      (3L, 70 * min, 7L, "click", 1.0, "{}"),   // > 30 min gap → new session
      (4L, 75 * min, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    val r = q("ev_sessionize", dir).collect().head
    assert(r.getAs[Long]("n_sessions") == 2)
    assert(r.getAs[Long]("n_events") == 4)
  }

  test("ev_funnel: stages are strictly ordered per user") {
    val s = 1000000000L // 1s in ns
    val events = Seq(
      // user 7: view BEFORE signup must not count; the t=3 view does.
      (1L, 1 * s, 7L, "view", 1.0, "{}"),
      (2L, 2 * s, 7L, "signup", 1.0, "{}"),
      (3L, 3 * s, 7L, "view", 1.0, "{}"),
      (4L, 4 * s, 7L, "purchase", 1.0, "{}"),
      // user 8: purchase before the first qualifying view → stage 2 only
      (5L, 1 * s, 8L, "signup", 1.0, "{}"),
      (6L, 2 * s, 8L, "purchase", 1.0, "{}"),
      (7L, 3 * s, 8L, "view", 1.0, "{}"),
      // user 9: never signs up → no stage at all
      (8L, 1 * s, 9L, "view", 1.0, "{}"),
      (9L, 2 * s, 9L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    val out = q("ev_funnel", dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("1_signup") == (2L, 0L))     // users 7 and 8
    // user 7 converts at t=3 (lag 1s); user 8's view at t=3 also follows
    // signup → both reach stage 2 (lags 1s + 2s)
    assert(out("2_view") == (2L, 3000L))
    assert(out("3_purchase") == (1L, 1000L)) // only user 7 purchases after
  }

  test("ev_retention: cohort day from first signup, offsets windowed to a week") {
    val day = 86400L * 1000000000L
    val events = Seq(
      (1L, 0 * day, 7L, "signup", 1.0, "{}"),       // cohort day 0
      (2L, 0 * day + 5, 7L, "click", 1.0, "{}"),     // active offset 0
      (3L, 2 * day, 7L, "click", 1.0, "{}"),         // active offset 2
      (4L, 9 * day, 7L, "click", 1.0, "{}"),         // offset 9 > 6 → dropped
      (5L, 1 * day, 8L, "signup", 1.0, "{}"),        // cohort day 1
      (6L, 1 * day + 5, 8L, "purchase", 1.0, "{}"))  // active offset 0
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    val out = q("ev_retention", dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 0) -> 1L, (0L, 2) -> 1L, (1L, 0) -> 1L))
  }

  test("ev_anomaly: the planted outlier is flagged, the bulk is not") {
    val s = 1000000000L
    val bulk = (1L to 20L).map(i =>
      (i, i * s, i, "click", 10.0 + (i % 2), "{}")) // values 10.0 / 11.0
    val events = (bulk :+ ((99L, 99 * s, 99L, "click", 500.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    val out = q("ev_anomaly", dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(99L))
    assert(out.head.getDouble(3) > 3.0) // z of the planted spike
  }

  test("ev_new_returning: first-active day splits acquisition from retention") {
    val day = 86400000000000L // ns
    val events = Seq(
      (1L, 1000L, 1L, "A", 1.0, "{}"),           // u1 day 0
      (2L, day + 1000L, 1L, "A", 1.0, "{}"),     // u1 day 1 (returning)
      (3L, day + 2000L, 2L, "A", 1.0, "{}"))     // u2 day 1 (new)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = q("ev_new_returning", tempSfDir("events" -> events)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((0L, 1L, 1L, 0L), (1L, 2L, 1L, 1L)))
    // invariant on the real corpus: every user is new exactly once
    val real = q("ev_new_returning").collect()
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(real.map(_.getLong(2)).sum == users)
  }

  test("ev_power_users: top-decile share, ceil-k, hand fixture") {
    // 3 users → top decile = ceil(3/10) = 1 user; u1 has 5 of 10 events
    val events = (1 to 5).map(i => (i.toLong, i * 1000000000L, 1L, "A", 1.0, "{}")) ++
      (6 to 8).map(i => (i.toLong, i * 1000000000L, 2L, "A", 1.0, "{}")) ++
      (9 to 10).map(i => (i.toLong, i * 1000000000L, 3L, "A", 1.0, "{}"))
    val df = events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = q("ev_power_users", tempSfDir("events" -> df)).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 1L, 10L, 5L, 500L)))
  }

  test("ev_stickiness: DAU/MAU hand fixture — 2 days, 2 users, one month") {
    val day = 86400000000000L // ns
    val events = Seq(
      (1L, 1000000000L, 1L, "A", 1.0, "{}"),        // day 0, user 1
      (2L, 2000000000L, 2L, "A", 1.0, "{}"),        // day 0, user 2
      (3L, 2000000001L, 2L, "A", 1.0, "{}"),        // day 0, user 2 again
      (4L, day + 1000L, 1L, "A", 1.0, "{}"))        // day 1, user 1
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = q("ev_stickiness", tempSfDir("events" -> events)).collect()
    assert(r.length == 1)
    // sum_dau = 2 (day0) + 1 (day1) = 3; mau = 2; n_days = 2
    // stickiness = 3000 div (2·2) = 750
    assert((r.head.getLong(0), r.head.getLong(1), r.head.getLong(2),
      r.head.getLong(3), r.head.getLong(4)) == ((0L, 2L, 3L, 2L, 750L)))
  }

  test("ev_top_paths: 3-step paths per user stream, counted across users") {
    // user 1: A B C D → ABC, BCD; user 2: A B C → ABC; paths never
    // cross user boundaries
    val events = Seq(
      (1L, 1000000000L, 1L, "A", 1.0, "{}"),
      (2L, 2000000000L, 1L, "B", 1.0, "{}"),
      (3L, 3000000000L, 1L, "C", 1.0, "{}"),
      (4L, 4000000000L, 1L, "D", 1.0, "{}"),
      (5L, 1000000000L, 2L, "A", 1.0, "{}"),
      (6L, 2000000000L, 2L, "B", 1.0, "{}"),
      (7L, 3000000000L, 2L, "C", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = q("ev_top_paths", tempSfDir("events" -> events)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq(("A", "B", "C", 2L), ("B", "C", "D", 1L)))
  }

  test("ev_session_window: gap boundary (exactly 30 min merges), end = last + gap") {
    // four events: 28.3 min gap (merges), EXACTLY 30 min (still merges —
    // touching [ts, ts+gap) windows union), then 30 min + 1 µs (splits);
    // same `>` island rule as ev_sessionize, asserted on the same data
    val t0 = 1000000000000000L // ns
    val t1 = t0 + 1700000000000L
    val t2 = t1 + 1800000000000L           // exactly the gap
    val t3 = t2 + 1800000001000L           // gap + 1 µs
    val events = Seq(
      (1L, t0, 1L, "click", 1.0, "{}"),
      (2L, t1, 1L, "click", 2.0, "{}"),
      (3L, t2, 1L, "click", 4.0, "{}"),
      (4L, t3, 1L, "click", 8.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    val rows = q("ev_session_window", dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val gapMs = 1800000L
    assert(rows.toSeq == Seq(
      (t0 / 1000000, t2 / 1000000 + gapMs, 3L, 7.0),
      (t3 / 1000000, t3 / 1000000 + gapMs, 1L, 8.0)))
    // the lag-window island counter agrees: two sessions
    val sess = q("ev_sessionize", dir).collect()
    assert(sess.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }
}
