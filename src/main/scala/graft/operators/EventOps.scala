package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fns._

/** Event-log operator family — the reference's actual query surface
  * re-expressed Spark-first (SURVEY.md §2.1–§2.4, §3).
  *
  * The reference scans a Windows ETW trace, catalogs distinct event types
  * (`/root/reference/src/main.cpp:255-321`), and serves interactive
  * key-filter + LIMIT queries with multi-key sorting
  * (`src/main.cpp:377-426`, `1170-1195`). Here the event log is the
  * `events` parquet table; every query is a declarative DataFrame plan so
  * Catalyst pushes filters/limits/column pruning into the scan — the
  * hand-fused early-exit tricks of the reference (`src/main.cpp:380-387`)
  * are what `CollectLimitExec`/`TakeOrderedAndProjectExec` already do.
  *
  * Scale notes (100 TB): every aggregation keys on a high-cardinality or
  * bounded-cardinality column with map-side partial aggregation; no
  * driver-side loops; the one dimension join is an explicit broadcast.
  * Event timestamps have shipped in two physical layouts (the corpus
  * generator changed between rounds): nanosecond INT64 (read as raw longs
  * via `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(µs). The
  * loader normalizes both to the same three derived columns, and all
  * oracle-facing outputs use epoch-millis BIGINT to sidestep µs-vs-ns
  * engine differences.
  */
object EventOps {

  /** events with ts exposed as ts_ns (epoch nanos), ts_ms, and µs timestamp.
    *
    * Layout-tolerant: `ts` may be INT64 nanos (legacy corpus, read as a raw
    * long) or a TIMESTAMP/TIMESTAMP_NTZ of µs precision (current corpus).
    * Both normalize to identical `ts_ns`/`ts_ms`/`ts` columns, so every
    * downstream query and its DuckDB oracle (whose `epoch_ns`/`epoch_ms`
    * are likewise layout-independent) is unchanged. NTZ→epoch uses the
    * session zone, which every session here pins to UTC — the conversion is
    * exact, and µs→ns multiplication loses nothing.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Sessions we build (Bench/Verify/EventLog/tests) set nanosAsLong at
    // build time; this guard covers driver-owned sessions only, and skips
    // the conf mutation when it is already in effect (repeated set() per
    // call was racy-looking and invisible to callers). Harmless (no-op at
    // read time) when the corpus ships TIMESTAMP(µs) instead of ns-INT64.
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
          .forall(_ != "true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // NTZ is a zone-less wall clock whose corpus semantics are UTC, but
    // every NTZ→epoch route Spark offers goes through the session zone:
    // a cast ntz→timestamp re-interprets the wall clock in
    // spark.sql.session.timeZone, and even timestampdiff over two NTZ
    // operands COERCES them to session-zone timestamps first (visible
    // as `cast(ts as timestamp), Some(<zone>)` in the plan) — which
    // only LOOKS zone-free because the two offsets usually cancel; in a
    // DST zone, summer events sit at a different offset than the 1970
    // epoch and every such epoch shifts by the offset delta. There is
    // no zone-free primitive, so the loader pins the session zone to
    // UTC exactly the way it pins nanosAsLong above: the guard makes
    // the cast exact in any session, and driver-owned sessions (always
    // built at UTC) never hit the mutation.
    if (spark.conf.getOption("spark.sql.session.timeZone")
          .forall(_ != "UTC"))
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = Tables.events(spark, sfDir)
    val tsIsLong =
      raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    // FLOOR division (not `div`'s truncate-toward-zero): pre-epoch
    // (negative ns) events must land in the same ms/µs bucket the
    // oracle's `//` and epoch_ms() compute — see Fns.floorDivSql.
    val withNs =
      if (tsIsLong) raw.withColumnRenamed("ts", "ts_ns")
      // withColumn-in-place + rename keeps ts_ns at ts's ordinal position,
      // so both layouts produce byte-identical schemas downstream.
      else raw.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * 1000L)
        .withColumnRenamed("ts", "ts_ns")
    withNs
      .withColumn("ts_ms", floorDiv("ts_ns", 1000000L))
      .withColumn("ts", timestamp_micros(floorDiv("ts_ns", 1000L)))
  }

  private def k(c: Column): Column = get_json_object(c, "$.k").cast("int")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §3.2 flagship: the reference's interactive instance query — key
    // equality filter + LIMIT 100 + ordered delivery + props decode.
    "ev_flagship" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .filter($"event_type" === "error")
        .orderBy($"ts_ns", $"event_id")
        .limit(100)
        .select($"event_id", $"ts_ms", $"user_id", $"value",
          from_json($"props", lit("k INT")).getField("k").as("k"))
    }),

    // §2.3 A1: distinct-event-type catalog with counts + time bounds.
    "ev_catalog" -> ((s, dir) => {
      import s.implicits._
      events(s, dir).groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        min($"ts_ms").as("first_ms"),
        max($"ts_ms").as("last_ms"),
        sumMoney($"value").as("sum_value"),
        avgMoney($"value").as("avg_value"))
        .orderBy($"event_type")
    }),

    // §2.4 O1/O2: multi-key, per-key-direction sort with total tie-break.
    "ev_catalog_sort" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .withColumn("k", k($"props"))
        .groupBy($"event_type", $"k").agg(count(lit(1)).as("n"))
        // nulls-last matches DuckDB's ASC default; Spark's bare .asc is
        // NULLS FIRST and would diverge the moment a props lacked 'k'.
        .orderBy($"n".desc, $"k".asc_nulls_last, $"event_type".asc)
    }),

    // §2.2 P1–P3: composite predicates, pushed to the parquet scan.
    "ev_filter_predicates" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .withColumn("k", k($"props"))
        .filter(($"event_type" === "purchase" && $"value" > 100.0) ||
                ($"event_type" === "error" && $"k" > 50))
        .select($"event_id", $"event_type", $"value", $"k")
        .orderBy($"event_id")
    }),

    // §2.2 P5 / §2.5 J1: dictionary decode via broadcast map join with
    // unmapped-code fallback (reference: TdhGetEventMapInformation lookup +
    // raw-number fallback, src/main.cpp:697-736, 796-803).
    "ev_dict_decode" -> ((s, dir) => {
      import s.implicits._
      val dict = Tables.nation(s, dir)
      events(s, dir)
        .withColumn("code", ($"user_id" % 30).cast("int"))
        .join(broadcast(dict), $"code" === $"n_nationkey", "left")
        .select(coalesce($"n_name", concat(lit("code_"), $"code")).as("decoded"))
        .groupBy($"decoded").agg(count(lit(1)).as("n"))
        .orderBy($"decoded")
    }),

    // §2.2 P4/P8/P9: per-column formatting — hex render, timestamp render,
    // fixed-point render, zero-padded id render, and canonical
    // 8-4-4-4-12 GUID render (reference GuidToString,
    // /root/reference/src/main.cpp:329-337; the 16 GUID bytes here come
    // from the two id columns).
    "ev_projection_format" -> ((s, dir) => {
      import s.implicits._
      val h = concat(lpad(lower(hex($"event_id")), 16, "0"),
        lpad(lower(hex($"user_id")), 16, "0"))
      events(s, dir)
        .orderBy($"event_id").limit(200)
        .select(
          $"event_id",
          lower(hex($"event_id")).as("id_hex"),
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("ts_str"),
          dec2($"value").cast("string").as("value_str"),
          lpad(lower(hex($"user_id")), 16, "0").as("user_hex16"),
          concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
            substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
            .as("guid"))
    }),

    // §2.2 P5 keyed variant: per-event-type dictionary registry — the
    // faithful generalization of TdhGetEventMapInformation, which is
    // per (event type, property) (src/main.cpp:697-736): the SAME code
    // decodes differently per type. The registry is a composite-key
    // (event_type, code) → name broadcast map with the raw-number
    // fallback for unmapped codes (codes 25-29 have no entry).
    "ev_dict_decode_typed" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
      val dict = ev.select($"event_type").distinct()
        .crossJoin(broadcast(Tables.nation(s, dir)))
        .select($"event_type", $"n_nationkey".cast("int").as("code"),
          concat(upper(substring($"event_type", 1, 1)), lit(":"), $"n_name")
            .as("name"))
      ev.withColumn("code", ($"user_id" % 30).cast("int"))
        .join(broadcast(dict), Seq("event_type", "code"), "left")
        .select($"event_type",
          coalesce($"name", concat(lit("code_"), $"code")).as("decoded"))
        .groupBy($"event_type", $"decoded").agg(count(lit(1)).as("n"))
        .orderBy($"event_type", $"decoded")
    }),

    // §2.3 nested props: array- and struct-valued properties decoded with
    // an explicit nested schema (reference decodes fixed/variable arrays
    // and structs, src/main.cpp:659-692). The nested payload is built
    // from the flat one so the DuckDB oracle constructs the identical
    // JSON; from_json then exercises ArrayType + StructType decode, and
    // the projection extracts an array element and struct fields.
    "ev_nested_props" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .withColumn("k", k($"props"))
        .withColumn("props2", concat(
          lit("{\"tags\":["), $"k".cast("string"), lit(","),
          ($"k" + 1).cast("string"),
          lit("],\"m\":{\"a\":"), ($"k" * 2).cast("string"),
          lit(",\"b\":\""), $"event_type", lit("\"}}")))
        .withColumn("p",
          from_json($"props2", lit("tags ARRAY<INT>, m STRUCT<a: INT, b: STRING>")))
        .select($"event_id", element_at($"p.tags", 2).as("tag2"),
          $"p.m.a".as("ma"), $"p.m.b".as("mb"))
        .orderBy($"event_id").limit(500)
    }),

    // §2.5 J2: selection semi-join — event types picked by a catalog
    // predicate drive the instance query (reference master-detail click,
    // src/main.cpp:1205-1211). Integer-only threshold → deterministic.
    "ev_semi_join" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
      val hot = ev.groupBy($"event_type").agg(count(lit(1)).as("cnt"))
        .crossJoin(ev.agg(count(lit(1)).as("tot")))
        .filter($"cnt" * 5 >= $"tot")
        .select($"event_type")
      ev.join(hot, Seq("event_type"), "left_semi")
        .groupBy($"user_id").agg(count(lit(1)).as("n_hot"))
        .orderBy($"user_id")
    }),

    // §2.4 top-k: order-by + limit fused (TakeOrderedAndProjectExec).
    "ev_topk" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .orderBy($"value".desc, $"event_id")
        .limit(10)
        .select($"event_id", $"event_type", $"value")
    }),

    // §2.3 A2: per-type schema inference from the props payload
    // (reference infers each type's column list from its first instance,
    // src/main.cpp:302-317; here: observed JSON key set per type).
    "ev_schema_infer" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .select($"event_type", explode(json_object_keys($"props")).as("key"))
        .groupBy($"event_type")
        .agg(array_join(array_sort(collect_set($"key")), ",").as("prop_keys"))
        .orderBy($"event_type")
    }),

    // §2.3 A2 + UI padding: decode ALL event types at once through the
    // frozen per-type registry (SchemaRegistry.build → decodeAll) into
    // the union-of-schemas struct — a row whose type lacks a column
    // carries NULL there, the reference grid's cell-padding semantics
    // (src/main.cpp:1299-1303). The ragged payload is derived per type
    // from the flat log (like ev_nested_props) so the oracle computes
    // identical values; the registry build is the sanctioned
    // catalog-sized collect (SURVEY §1.1).
    "ev_decode_all" -> ((s, dir) => {
      import s.implicits._
      // kk is hoisted into a named column: inlined, the CASE evaluated
      // get_json_object(props, '$.k') up to 7 times per row (the
      // before-plan's Project carries the septuplicated chain)
      def ragged(base: DataFrame): DataFrame = base
        .withColumn("kk", k($"props"))
        .withColumn("props",
          when($"event_type" === "click", concat(
            lit("{\"a\":"), $"kk".cast("string"),
            lit(",\"b\":\"c"), ($"kk" % 5).cast("string"), lit("\"}")))
          .when($"event_type" === "view", concat(
            lit("{\"a\":"), $"kk".cast("string"),
            lit(",\"c\":"), ($"kk" * 2).cast("string"), lit("}")))
          .when($"event_type" === "error", concat(
            lit("{\"c\":"), ($"kk" % 7).cast("string"), lit(",\"d\":\"err\"}")))
          .when($"event_type" === "purchase", concat(
            lit("{\"b\":\"buy\",\"d\":\"p"), ($"kk" % 3).cast("string"), lit("\"}")))
          .otherwise(concat(
            lit("{\"a\":"), $"kk".cast("string"), lit(",\"d\":\"s\"}"))))
        .drop("kk")
      // the registry builds from the FULL ragged log (schema freezing
      // is a whole-log contract), but the per-row from_json decode only
      // needs the LIMIT-100-style page the entry emits — take the
      // top-1000 by the unique event_id FIRST, decode 1000 rows instead
      // of the whole corpus (the reference decodes only what the grid
      // shows, src/main.cpp:1157-1211). Identical rows: event_id is
      // unique, so top-1000-then-decode = decode-then-top-1000.
      val reg = graft.SchemaRegistry.build(ragged(events(s, dir)))
      val top = ragged(events(s, dir)
          .select($"event_id", $"event_type", $"props")
          .orderBy($"event_id").limit(1000))
      reg.decodeAll(top)
        .select($"event_id", $"event_type",
          $"props_struct.a".as("a"), $"props_struct.b".as("b"),
          $"props_struct.c".as("c"), $"props_struct.d".as("d"))
        .orderBy($"event_id")
    }),

    // §2.1 S1/S2 at layout level: hive-partition the event log by day
    // and read it back through a day predicate — the scan must touch
    // ONLY that day's files (PartitionFilters in the plan; asserted in
    // EventOpsSpec with the rest of the pruning evidence in
    // docs/PLANS.md). This is the first leg of the 100 TB skip story
    // (partition pruning; Z-order boxes and Bloom filters are the other
    // two): a day-partitioned 100 TB log serves a one-day query at
    // 1/30th the IO with zero plan changes. The partitioned copy is a
    // fixture published ONCE per corpus (GraftIO.buildFixture: keyed on
    // the corpus path and mtime, so a regenerated corpus never serves a
    // stale copy) — so the timed query measures the pruned READ, not a
    // corpus rewrite (in production the layout is an offline compaction
    // job, not part of the query). The oracle recomputes the identical
    // aggregate from the flat table either way.
    "ev_partition_pruned" -> ((s, dir) => {
      import s.implicits._
      val out = graft.sources.GraftIO.buildFixture(dir, "events.parquet",
          "events_by_day", "partitionBy=day") { tmp =>
        graft.sources.GraftIO.writeParquet(
          events(s, dir)
            .select($"event_id", $"ts_ms", $"event_type", $"user_id",
              $"value", date_format($"ts", "yyyyMMdd").cast("int").as("day")),
          tmp, partitionCols = Seq("day"))
      }
      Tables.read(s, out)
        .filter($"day" === 20240107)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"user_id").as("sum_uid"),
          min($"ts_ms").as("first_ms"), max($"ts_ms").as("last_ms"))
        .orderBy($"event_type")
    }),

    // §2.3 A1 dropDuplicates variant: the first-seen instance per type
    // (deterministic min_by, the engine form of the reference's
    // first-sight metadata capture, src/main.cpp:302-317).
    "ev_first_instance" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type")
        .agg(min_by(struct($"event_id", $"ts_ms", $"user_id"),
          struct($"ts_ns", $"event_id")).as("f"))
        .select($"event_type", $"f.event_id", $"f.ts_ms", $"f.user_id")
        .orderBy($"event_type")
    }),

    // §2.6 window functions over event time: sessionize per user with a
    // 30-minute gap rule (lag over partitioned, ordered event time).
    "ev_sessionize" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
      events(s, dir)
        .withColumn("prev_ns", lag($"ts_ns", 1).over(w))
        .withColumn("new_sess",
          when($"prev_ns".isNull ||
               ($"ts_ns" - $"prev_ns") > 1800000000000L, 1).otherwise(0))
        .groupBy($"user_id")
        .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    }),

    // §2.9 streaming-shaped: tumbling 1-hour event-time window aggregation
    // (batch form; the streaming twin lives in graft.streaming and is
    // exercised by ScalaTest — DuckDB can't oracle a stream).
    "ev_tumbling_1h" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .select(unix_millis($"w.start").as("hour_ms"), $"event_type", $"n",
          $"sum_value")
        .orderBy($"hour_ms", $"event_type")
    }),

    // Event-type transition counts: per user stream, how often does type A
    // directly precede type B (lead over event time — funnel analytics).
    "ev_transitions" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
      events(s, dir)
        .withColumn("next_type", lead($"event_type", 1).over(w))
        .filter($"next_type".isNotNull)
        .groupBy($"event_type", $"next_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type", $"next_type")
    }),

    // New-vs-returning actives per day (the growth panel): each day's
    // active users split by whether it is their FIRST active day —
    // acquisition vs retention in one table. Exact integers; the
    // corpus pays one (day, user) distinct, then a user-keyed min and
    // a day-keyed count — the first-seen join is user-keyed, the same
    // shuffle the distinct already laid down.
    "ev_new_returning" -> ((s, dir) => {
      import s.implicits._
      val days = events(s, dir)
        .select(floorDiv("ts_ms", 86400000L).as("day"), $"user_id")
        .distinct()
      val first = days.groupBy($"user_id").agg(min($"day").as("first_day"))
      days.join(first, "user_id")
        .groupBy($"day")
        .agg(count(lit(1)).as("n_active"),
          sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("n_new"))
        .withColumn("n_returning", $"n_active" - $"n_new")
        .orderBy($"day")
    }),

    // Power-user concentration (the Pareto panel): what share of all
    // events does the TOP DECILE of users produce — the activity-
    // concentration number that decides sampling/salting strategy for
    // the user dimension. Exact integers end to end: k = ceil(U/10)
    // via (U+9) div 10, share cross-multiplied. The rank window runs
    // over the AGGREGATED user dimension (|users| rows, orders of
    // magnitude below the corpus — the same aggregate-first discipline
    // as rel_skew_report; the corpus pays one user-keyed count).
    "ev_power_users" -> ((s, dir) => {
      import s.implicits._
      val per = events(s, dir).groupBy($"user_id").agg(count(lit(1)).as("n"))
      val tot = per.agg(count(lit(1)).as("n_users"), sum($"n").as("total"))
      val w = Window.orderBy($"n".desc, $"user_id")
      per.withColumn("rk", row_number().over(w).cast("long"))
        .crossJoin(broadcast(tot))
        .withColumn("k", expr("(n_users + 9) div 10"))
        .groupBy($"n_users", $"total", $"k")
        .agg(sum(when($"rk" <= $"k", $"n").otherwise(0L)).as("top_events"))
        .select($"n_users", $"k".as("top_users"), $"total", $"top_events",
          expr("(1000 * top_events) div total").as("share_x1000"))
    }),

    // Engagement stickiness (DAU/MAU): per month, the mean daily-active
    // count over distinct monthly actives — the product-analytics
    // ratio the reference's ImPlot time-series panel would chart.
    // sum_dau (Σ of per-day distinct users) and mau (monthly distinct)
    // are exact integers; stickiness_x1000 = (1000·sum_dau) div
    // (n_days·mau) is one truncating division. Two aggregations, both
    // keyed on calendar buckets derived with exact floor division at
    // EVERY step — ns→ms, ms→day, day→month — so pre-epoch events
    // bucket identically in engine and oracle (Spark `div` and DuckDB
    // `//` both truncate; the pmod/floor forms fix both sides). The
    // month axis is bounded, so the final agg is tiny; the corpus pays
    // one (day, user) distinct.
    "ev_stickiness" -> ((s, dir) => {
      import s.implicits._
      val days = events(s, dir)
        .select(floorDiv("ts_ms", 86400000L).as("day"), $"user_id")
        .distinct()
        .withColumn("month", floorDiv("day", 30L))
      val dau = days.groupBy($"month")
        .agg(countDistinct($"day").as("n_days"),
          count(lit(1)).as("sum_dau"))
      val mau = days.groupBy($"month")
        .agg(countDistinct($"user_id").as("mau"))
      dau.join(mau, "month")
        .select($"month", $"n_days", $"sum_dau", $"mau",
          expr("(1000 * sum_dau) div (n_days * mau)").as("stickiness_x1000"))
        .orderBy($"month")
    }),

    // Sequential pattern mining, k=3: the top-20 most frequent 3-step
    // event-type paths across user streams (the "what do users actually
    // do" product-analytics panel; pairs are ev_transitions, this is
    // the order-3 extension a Markov-order test needs). Both leads ride
    // the SAME user_id window shuffle ev_transitions pays; the global
    // top-20 is ORDER BY + LIMIT → TakeOrderedAndProject, never a full
    // sort of the path space.
    "ev_top_paths" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
      events(s, dir)
        .withColumn("s2", lead($"event_type", 1).over(w))
        .withColumn("s3", lead($"event_type", 2).over(w))
        .filter($"s3".isNotNull)
        .groupBy($"event_type".as("s1"), $"s2", $"s3")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"s1", $"s2", $"s3").limit(20)
    }),

    // §2.9: sliding 1h window every 15min (each event lands in 4 windows).
    "ev_sliding_1h15m" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis($"w.start").as("win_ms"), $"n")
        .orderBy($"win_ms")
    }),

    // §2.9: session windows (30-minute gap) per user, batch form of the
    // SAME native operator StreamingSpec drives live with state +
    // watermark. Window end = last event + gap. Boundary semantics
    // pinned by the oracle and EventOpsSpec: sessions merge when the
    // next event touches the previous window's end (start ≤ prev end),
    // so a gap of EXACTLY 30 min still merges and only gap > 30 min
    // splits — the same `>` island rule as ev_sessionize. At 100 TB
    // this is the same single user_id shuffle ev_sessionize pays, with
    // Spark's MergingSessionsExec folding the island-merge into the
    // aggregate instead of a lag window.
    "ev_session_window" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .select($"user_id", unix_millis($"w.start").as("sess_start_ms"),
          unix_millis($"w.end").as("end_ms"), $"n", $"sum_value")
        .orderBy($"user_id", $"sess_start_ms")
    }),

    // §2.3 2-D heatmap: the hour-of-day × event-type count matrix the
    // reference's vendored plotting layer consumes
    // (third_party/implot/implot.h:858-921 heatmap APIs) — completes the
    // 1-D ev_value_histogram. pivot() over a fixed 24-hour column set
    // (data-independent → deterministic schema at any SF); missing cells
    // render 0, exact integer math in both engines.
    "ev_heatmap" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .withColumn("h", hour($"ts"))
        .groupBy($"event_type")
        .pivot("h", 0 until 24)
        .agg(count(lit(1)))
        .select($"event_type" +: (0 until 24).map(h =>
          coalesce(col(s"`$h`"), lit(0L)).as(s"h$h")): _*)
        .orderBy($"event_type")
    }),

    // Per-user behavioral sequences: the time-ordered event-type string
    // each user produced — the export a sequence model trains on. The
    // ordering is carried INSIDE the aggregation (sort_array over
    // (ts, event_id, type) structs — struct order is lexicographic, so
    // the tuple is its own tie-break), never a global sort: one
    // user-keyed shuffle, map-side partial collect.
    "ev_user_sequences" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy($"user_id")
        .agg(count(lit(1)).cast("int").as("n_events"),
          array_join(expr(
            "transform(sort_array(collect_list(struct(ts_ns, event_id, event_type))), x -> x.event_type)"),
            " ").as("sequence"))
        .orderBy($"user_id")
    }),

    // Gap-filled rate series: events per minute over a dense time axis
    // (minutes with no events appear as explicit zeros — the shape a
    // rate plot consumes; a bare groupBy leaves holes). The dense axis
    // comes from ONE sequence() explode off the 1-row min/max aggregate
    // — rows scale with the time span, not the event count — and the
    // counts join back on the minute key. Bounded to the first day to
    // keep the oracle diff readable; the shape is span-agnostic.
    "ev_rate_1m" -> ((s, dir) => {
      import s.implicits._
      val MIN_MS = 60000L
      val ev = events(s, dir)
        .select(floorDiv(floorDivSql("ts_ns", 1000000L), 60000L).as("minute"))
      val bounds = ev.agg(min($"minute").as("lo"), max($"minute").as("hi"))
        .select($"lo", least($"hi", $"lo" + 1439).as("hi"))
      val axis = bounds.select(explode(sequence($"lo", $"hi")).as("minute"))
      val counts = ev.groupBy($"minute").agg(count(lit(1)).as("n"))
      axis.join(counts, Seq("minute"), "left")
        .select(($"minute" * MIN_MS).as("minute_ms"),
          coalesce($"n", lit(0L)).as("n"))
        .orderBy($"minute_ms")
    }),

    // Anomaly scan: events whose value sits more than 3 population
    // standard deviations from their type's mean. Moments come from
    // EXACT decimal sums (partition-order independent, bit-identical to
    // the oracle — the rel_corr pattern); the z-score math is the same
    // double expression in both engines, and n is widened to double
    // before n·n (a long product overflows at ~3e9 rows per group at
    // 100 TB). Stats are one bounded row per event type; the join back
    // is statistics-driven, never hinted.
    "ev_anomaly" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
      val stats = ev.groupBy($"event_type").agg(
          count(lit(1)).as("n"),
          sum(dec2($"value")).cast("double").as("sx"),
          sum(dec2($"value") * dec2($"value")).cast("double").as("sxx"))
        .withColumn("mean", $"sx" / $"n")
        .withColumn("sd", sqrt(
          (($"n".cast("double") * $"sxx") - ($"sx" * $"sx")) /
            ($"n".cast("double") * $"n".cast("double"))))
      ev.join(stats, "event_type")
        .withColumn("z", ($"value" - $"mean") / $"sd")
        .filter(abs($"z") > 3.0)
        .select($"event_id", $"event_type", $"value", $"z")
        .orderBy($"event_id")
    }),

    // Robust outliers: the MAD twin of ev_anomaly's 3σ z-score. Mean/sd
    // break when the contamination is heavy (outliers inflate σ and
    // mask each other); median and MAD have a 50% breakdown point, so
    // this is the gate to trust on dirty sources. Per type: exact
    // median (one agg), |v−med| (map-side), median of that (second agg
    // on the same key layout), flag adev > 4.4478·mad (= 3σ-equivalent
    // via the 1.4826 normal-consistency constant — single multiply, so
    // both engines compute the identical IEEE boundary). Interpolating
    // exact percentiles hash-match DuckDB's quantile_cont, the
    // rel_percentile-proven parity.
    "ev_anomaly_mad" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
      val med = ev.groupBy($"event_type".as("t1"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(med, $"event_type" === $"t1")
        .withColumn("adev", abs($"value" - $"med"))
      val mad = dev.groupBy($"event_type".as("t2"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(mad, $"event_type" === $"t2")
        .filter($"adev" > lit(4.4478) * $"mad")
        .select($"event_id", $"event_type", $"value", $"med",
          ($"adev" / $"mad").as("mad_score"))
        .orderBy($"event_id")
    }),

    // Funnel analysis: signup → view → purchase, strictly ordered per
    // user (each stage's first event must follow the previous stage's).
    // Three keyed aggregates chained on user_id — every stage is one
    // groupBy at user cardinality, no window over the full event
    // stream, no cross-stage join explosion. ms domain (oracle parquet
    // precision).
    "ev_funnel" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
        .select($"user_id", $"event_type",
          floorDiv("ts_ns", 1000000L).as("ms"))
      val s1 = ev.filter($"event_type" === "signup")
        .groupBy($"user_id").agg(min($"ms").as("s1"))
      val s2 = ev.filter($"event_type" === "view")
        .join(s1, "user_id").filter($"ms" > $"s1")
        .groupBy($"user_id").agg(min($"ms").as("s2"), min($"s1").as("s1b"))
      val s3 = ev.filter($"event_type" === "purchase")
        .join(s2, "user_id").filter($"ms" > $"s2")
        .groupBy($"user_id").agg(min($"ms").as("s3"), min($"s2").as("s2b"))
      val r1 = s1.agg(count(lit(1)).as("n_users"),
        lit(0L).as("total_lag_ms")).withColumn("stage", lit("1_signup"))
      val r2 = s2.agg(count(lit(1)).as("n_users"),
        sum($"s2" - $"s1b").as("total_lag_ms"))
        .withColumn("stage", lit("2_view"))
      val r3 = s3.agg(count(lit(1)).as("n_users"),
        sum($"s3" - $"s2b").as("total_lag_ms"))
        .withColumn("stage", lit("3_purchase"))
      r1.unionByName(r2).unionByName(r3)
        .select($"stage", $"n_users", $"total_lag_ms")
        .orderBy($"stage")
    }),

    // Retention cohorts: users grouped by first-signup day; n distinct
    // users active k days later (k = 0..6). One distinct + one groupBy
    // at (user, day) cardinality — the standard cohort matrix.
    "ev_retention" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
        .select($"user_id", $"event_type",
          floorDiv(floorDivSql("ts_ns", 1000000L), 86400000L).as("day"))
      val cohort = ev.filter($"event_type" === "signup")
        .groupBy($"user_id").agg(min($"day").as("cohort_day"))
      ev.select($"user_id", $"day").distinct()
        .join(cohort, "user_id")
        .withColumn("day_offset", ($"day" - $"cohort_day").cast("int"))
        .filter($"day_offset" >= 0 && $"day_offset" <= 6)
        .groupBy($"cohort_day", $"day_offset")
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort_day", $"day_offset")
    }),

    // §2.2 P7 (EventWriteString, reference src/main.cpp:583-592): an
    // event type whose payload is a bare string, not a keyed record —
    // decoded by the registry to the single `message` column. The
    // string-payload log is derived in-query (like ev_nested_props) so
    // the DuckDB oracle constructs the identical payload; the registry
    // infers "not a struct" from the first instance and dispatches the
    // passthrough decode.
    "ev_string_props" -> ((s, dir) => {
      import s.implicits._
      val log = events(s, dir)
        .withColumn("props",
          when($"event_type" === "signup",
            concat(lit("\"user "), $"user_id", lit(" signed up k="),
              k($"props"), lit("\"")))
          .otherwise($"props"))
      graft.SchemaRegistry.build(log)
        .decode(log, "signup")
        .select($"event_id", $"message",
          length($"message").as("msg_len"))
        .orderBy($"event_id").limit(500)
    }),

    // §1.2 full-range uint64 (TDH UINT64/HEXINT64/POINTER/SIZET,
    // reference src/main.cpp:195-196, 207-208, 217-218, 243-244):
    // LongType overflows at the top bit, so pointer-typed fields decode
    // to DECIMAL(20,0) — §7.4 names this a risk and this entry exercises
    // it end-to-end. The pointer value is derived in-query from md5 of
    // the event key (full-range by construction: about half the rows
    // exceed Long.MaxValue), serialized as a JSON number, and decoded
    // through the REAL path — from_json with a DECIMAL(20,0) field.
    // Renders are engine-portable: the decimal as text, and the
    // canonical 16-digit hex from the value's two's-complement bits
    // (hex() of the signed-long bit pattern IS the unsigned render).
    "ev_uint64_decode" -> ((s, dir) => {
      import s.implicits._
      val md = md5(concat(lit("ptr|"), $"event_id".cast("string")))
      val twoTo64 = lit(new java.math.BigDecimal("18446744073709551616"))
      val topBit = lit(new java.math.BigDecimal("9223372036854775808"))
      events(s, dir)
        .withColumn("pjson", concat(lit("{\"ptr\":"),
          conv(substring(md, 17, 16), 16, 10), lit("}")))
        .withColumn("ptr",
          from_json($"pjson", lit("ptr DECIMAL(20,0)")).getField("ptr"))
        .withColumn("bits",
          when($"ptr" >= topBit, ($"ptr" - twoTo64).cast("long"))
            .otherwise($"ptr".cast("long")))
        .select($"event_id", $"ptr".cast("string").as("ptr_dec"),
          lpad(hex($"bits"), 16, "0").as("ptr_hex"),
          ($"ptr" >= topBit).cast("int").as("is_top_bit"))
        .orderBy($"event_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "ev_flagship" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, value,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events WHERE event_type = 'error'
        |ORDER BY ts, event_id LIMIT 100""".stripMargin,

    "ev_catalog" ->
      """SELECT event_type, count(*) AS n,
        | count(DISTINCT user_id) AS n_users,
        | min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev_catalog_sort" ->
      """SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        | count(*) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY n DESC, k ASC, event_type ASC""".stripMargin,

    "ev_filter_predicates" ->
      """SELECT event_id, event_type, value,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |WHERE (event_type = 'purchase' AND value > 100.0)
        |   OR (event_type = 'error' AND CAST(json_extract_string(props, '$.k') AS INTEGER) > 50)
        |ORDER BY event_id""".stripMargin,

    "ev_dict_decode" ->
      """SELECT coalesce(n_name, 'code_' || CAST(CAST(user_id % 30 AS INTEGER) AS VARCHAR)) AS decoded,
        | count(*) AS n
        |FROM events LEFT JOIN nation ON CAST(user_id % 30 AS INTEGER) = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ev_projection_format" ->
      """SELECT event_id, printf('%x', event_id) AS id_hex,
        | strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_str,
        | CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS value_str,
        | lpad(printf('%x', user_id), 16, '0') AS user_hex16,
        | concat_ws('-', substr(h, 1, 8), substr(h, 9, 4), substr(h, 13, 4),
        |   substr(h, 17, 4), substr(h, 21, 12)) AS guid
        |FROM (SELECT *,
        |  lpad(printf('%x', event_id), 16, '0') ||
        |  lpad(printf('%x', user_id), 16, '0') AS h
        |  FROM events)
        |ORDER BY event_id LIMIT 200""".stripMargin,

    "ev_dict_decode_typed" ->
      """WITH types AS (SELECT DISTINCT event_type FROM events),
        |dict AS (
        |  SELECT event_type, CAST(n_nationkey AS INTEGER) AS code,
        |   upper(substr(event_type, 1, 1)) || ':' || n_name AS name
        |  FROM types CROSS JOIN nation)
        |SELECT e.event_type,
        | coalesce(d.name,
        |   'code_' || CAST(CAST(e.user_id % 30 AS INTEGER) AS VARCHAR)) AS decoded,
        | count(*) AS n
        |FROM events e LEFT JOIN dict d
        |  ON e.event_type = d.event_type
        | AND CAST(e.user_id % 30 AS INTEGER) = d.code
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev_nested_props" ->
      """SELECT event_id,
        | CAST(json_extract_string(p2, '$.tags[1]') AS INTEGER) AS tag2,
        | CAST(json_extract_string(p2, '$.m.a') AS INTEGER) AS ma,
        | json_extract_string(p2, '$.m.b') AS mb
        |FROM (
        |  SELECT event_id,
        |   '{"tags":[' || k || ',' || (k + 1) || '],"m":{"a":' || (k * 2) ||
        |   ',"b":"' || event_type || '"}}' AS p2
        |  FROM (SELECT event_id, event_type,
        |         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |        FROM events))
        |ORDER BY event_id LIMIT 500""".stripMargin,

    "ev_semi_join" ->
      """SELECT user_id, count(*) AS n_hot FROM events
        |WHERE event_type IN (
        |  SELECT event_type FROM events GROUP BY 1
        |  HAVING count(*) * 5 >= (SELECT count(*) FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev_topk" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY value DESC, event_id LIMIT 10""".stripMargin,

    "ev_schema_infer" ->
      """SELECT event_type, string_agg(DISTINCT key, ',' ORDER BY key) AS prop_keys
        |FROM (SELECT event_type, unnest(json_keys(props)) AS key FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev_decode_all" ->
      """SELECT event_id, event_type,
        | CASE WHEN event_type IN ('error','purchase') THEN NULL ELSE k END AS a,
        | CASE WHEN event_type = 'click' THEN 'c' || CAST(k % 5 AS VARCHAR)
        |      WHEN event_type = 'purchase' THEN 'buy' END AS b,
        | CASE WHEN event_type = 'view' THEN k * 2
        |      WHEN event_type = 'error' THEN k % 7 END AS c,
        | CASE WHEN event_type = 'error' THEN 'err'
        |      WHEN event_type = 'purchase' THEN 'p' || CAST(k % 3 AS VARCHAR)
        |      WHEN event_type IN ('click','view') THEN NULL ELSE 's' END AS d
        |FROM (SELECT event_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |ORDER BY event_id LIMIT 1000""".stripMargin,

    "ev_partition_pruned" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(user_id) AS BIGINT) AS sum_uid,
        | min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms
        |FROM events
        |WHERE CAST(strftime(ts, '%Y%m%d') AS INT) = 20240107
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev_first_instance" ->
      """SELECT event_type, event_id, ts_ms, user_id FROM (
        |  SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, user_id,
        |   row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "ev_sessionize" ->
      """SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        | count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |   CASE WHEN prev_ns IS NULL OR epoch_ns(ts) - prev_ns > 1800000000000
        |        THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT user_id, ts,
        |         lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
        |        FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev_tumbling_1h" ->
      """SELECT epoch_ms(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS hour_ms,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev_transitions" ->
      """SELECT event_type, next_type, count(*) AS n
        |FROM (
        |  SELECT event_type,
        |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type ORDER BY event_type, next_type""".stripMargin,

    "ev_new_returning" ->
      s"""WITH days AS (
        |  SELECT DISTINCT ${floorDivDuckSql(
             floorDivDuckSql("epoch_ns(ts)", 1000000L), 86400000L)} AS day,
        |   user_id
        |  FROM events),
        |first AS (
        |  SELECT user_id, min(day) AS first_day FROM days GROUP BY user_id)
        |SELECT day, count(*) AS n_active,
        | CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_new,
        | count(*) - CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_returning
        |FROM days JOIN first USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin,

    "ev_power_users" ->
      """WITH per AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |tot AS (SELECT count(*) AS n_users,
        |         CAST(sum(n) AS BIGINT) AS total FROM per),
        |ranked AS (
        |  SELECT n, CAST(row_number() OVER (ORDER BY n DESC, user_id)
        |            AS BIGINT) AS rk
        |  FROM per)
        |SELECT n_users, (n_users + 9) // 10 AS top_users, total,
        | CAST(sum(CASE WHEN rk <= (n_users + 9) // 10 THEN n ELSE 0 END)
        |      AS BIGINT) AS top_events,
        | (1000 * CAST(sum(CASE WHEN rk <= (n_users + 9) // 10
        |                  THEN n ELSE 0 END) AS BIGINT)) // total
        |   AS share_x1000
        |FROM ranked CROSS JOIN tot
        |GROUP BY n_users, total ORDER BY n_users""".stripMargin,

    "ev_stickiness" ->
      s"""WITH days AS (
        |  SELECT DISTINCT ${floorDivDuckSql(
             floorDivDuckSql("epoch_ns(ts)", 1000000L), 86400000L)} AS day,
        |   user_id
        |  FROM events),
        |m AS (SELECT ${floorDivDuckSql("day", 30L)} AS month, day, user_id
        |      FROM days),
        |dau AS (SELECT month, count(DISTINCT day) AS n_days,
        |         count(*) AS sum_dau FROM m GROUP BY month),
        |mau AS (SELECT month, count(DISTINCT user_id) AS mau
        |        FROM m GROUP BY month)
        |SELECT month, CAST(n_days AS BIGINT) AS n_days,
        | CAST(sum_dau AS BIGINT) AS sum_dau, CAST(mau AS BIGINT) AS mau,
        | (1000 * CAST(sum_dau AS BIGINT))
        |   // (CAST(n_days AS BIGINT) * CAST(mau AS BIGINT))
        |   AS stickiness_x1000
        |FROM dau JOIN mau USING (month) ORDER BY month""".stripMargin,

    "ev_top_paths" ->
      """SELECT s1, s2, s3, n FROM (
        |  SELECT event_type AS s1, s2, s3, count(*) AS n
        |  FROM (
        |    SELECT event_type,
        |     lead(event_type, 1) OVER w AS s2,
        |     lead(event_type, 2) OVER w AS s3
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |  WHERE s3 IS NOT NULL
        |  GROUP BY 1, 2, 3)
        |ORDER BY n DESC, s1, s2, s3 LIMIT 20""".stripMargin,

    // every event belongs to the 4 sliding windows starting at the
    // 15-minute bucket and the 3 before it
    "ev_sliding_1h15m" ->
      """SELECT epoch_ms(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
        |         - k * INTERVAL '15 minutes') AS win_ms,
        | count(*) AS n
        |FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) t(k)
        |GROUP BY 1 ORDER BY win_ms""".stripMargin,

    // gaps-and-islands mirror of session_window(ts, '30 minutes'):
    // a new session starts only at gap > 30min (touching intervals
    // merge: Spark unions [t, t+gap) windows whose start ≤ prev end)
    "ev_session_window" ->
      """SELECT user_id, min(epoch_ms(ts)) AS sess_start_ms,
        | epoch_ms(max(ts) + INTERVAL '30 minutes') AS end_ms,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT user_id, ts, value,
        |   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |     CASE WHEN prev_ns IS NULL
        |            OR epoch_ns(ts) - prev_ns > 1800000000000
        |          THEN 1 ELSE 0 END AS new_sess
        |    FROM (SELECT user_id, event_id, ts, value,
        |           lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |             ORDER BY ts, event_id) AS prev_ns
        |          FROM events)))
        |GROUP BY user_id, sid ORDER BY user_id, sess_start_ms""".stripMargin,

    "ev_heatmap" -> {
      val cells = (0 until 24).map(h =>
        s"count(CASE WHEN h = $h THEN 1 END) AS h$h").mkString(",\n ")
      s"""SELECT event_type,
         | $cells
         |FROM (SELECT event_type,
         |       CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS h
         |      FROM events)
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    "ev_user_sequences" ->
      """SELECT user_id, CAST(count(*) AS INTEGER) AS n_events,
        | string_agg(event_type, ' ' ORDER BY epoch_ns(ts), event_id)
        |   AS sequence
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev_rate_1m" ->
      s"""WITH m AS (
        |  SELECT ${floorDivDuckSql(
             floorDivDuckSql("epoch_ns(ts)", 1000000L), 60000L)} AS minute
        |  FROM events),
        |bounds AS (
        |  SELECT lo, least(hi, lo + 1439) AS hi FROM
        |   (SELECT min(minute) AS lo, max(minute) AS hi FROM m)),
        |axis AS (
        |  SELECT unnest(range(lo, hi + 1)) AS minute FROM bounds),
        |counts AS (SELECT minute, count(*) AS n FROM m GROUP BY minute)
        |SELECT axis.minute * 60000 AS minute_ms, coalesce(n, 0) AS n
        |FROM axis LEFT JOIN counts ON axis.minute = counts.minute
        |ORDER BY minute_ms""".stripMargin,

    "ev_anomaly" ->
      """WITH stats AS (
        |  SELECT event_type, count(*) AS n,
        |   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |   CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type),
        |scored AS (
        |  SELECT event_id, e.event_type, value,
        |   (value - (sx / n)) /
        |   sqrt(((CAST(n AS DOUBLE) * sxx) - (sx * sx)) /
        |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS z
        |  FROM events e JOIN stats s ON e.event_type = s.event_type)
        |SELECT event_id, event_type, value, z FROM scored
        |WHERE abs(z) > 3.0 ORDER BY event_id""".stripMargin,

    "ev_anomaly_mad" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT event_id, e.event_type, value, med,
        |   abs(value - med) AS adev
        |  FROM events e JOIN med ON e.event_type = med.event_type),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT event_id, d.event_type, value, med, adev / mad AS mad_score
        |FROM dev d JOIN mad ON d.event_type = mad.event_type
        |WHERE adev > 4.4478 * mad ORDER BY event_id""".stripMargin,

    "ev_funnel" ->
      s"""WITH e AS (
        |  SELECT user_id, event_type,
        |   ${floorDivDuckSql("epoch_ns(ts)", 1000000L)} AS ms
        |  FROM events),
        |s1 AS (SELECT user_id, min(ms) AS s1 FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(ms) AS s2, min(s1) AS s1b
        |       FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE event_type = 'view' AND ms > s1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(ms) AS s3, min(s2) AS s2b
        |       FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE event_type = 'purchase' AND ms > s2 GROUP BY e.user_id)
        |SELECT stage, n_users, total_lag_ms FROM (
        |  SELECT '1_signup' AS stage, count(*) AS n_users,
        |   CAST(0 AS BIGINT) AS total_lag_ms FROM s1
        |  UNION ALL SELECT '2_view', count(*),
        |   CAST(sum(s2 - s1b) AS BIGINT) FROM s2
        |  UNION ALL SELECT '3_purchase', count(*),
        |   CAST(sum(s3 - s2b) AS BIGINT) FROM s3)
        |ORDER BY stage""".stripMargin,

    "ev_retention" ->
      s"""WITH e AS (
        |  SELECT user_id, event_type,
        |   ${floorDivDuckSql(
             floorDivDuckSql("epoch_ns(ts)", 1000000L), 86400000L)} AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e
        |      WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT cohort_day, CAST(day - cohort_day AS INTEGER) AS day_offset,
        | count(DISTINCT a.user_id) AS n_users
        |FROM (SELECT DISTINCT user_id, day FROM e) a
        |JOIN c ON a.user_id = c.user_id
        |WHERE day - cohort_day BETWEEN 0 AND 6
        |GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "ev_string_props" ->
      """SELECT event_id,
        | json_extract_string(praw, '$') AS message,
        | CAST(length(json_extract_string(praw, '$')) AS INTEGER) AS msg_len
        |FROM (
        |  SELECT event_id,
        |   '"user ' || user_id || ' signed up k=' ||
        |   CAST(json_extract_string(props, '$.k') AS INTEGER) || '"' AS praw
        |  FROM events WHERE event_type = 'signup')
        |ORDER BY event_id LIMIT 500""".stripMargin,

    // the oracle computes the value directly as UBIGINT (full 64-bit
    // unsigned) — if the engine's DECIMAL(20,0) decode or hex render
    // mishandles top-bit values, the hashes diverge
    "ev_uint64_decode" ->
      """SELECT event_id, CAST(u AS VARCHAR) AS ptr_dec,
        | lpad(hex(u), 16, '0') AS ptr_hex,
        | CAST(u >= 9223372036854775808 AS INTEGER) AS is_top_bit
        |FROM (SELECT event_id,
        |       CAST('0x' || substring(md5('ptr|' || CAST(event_id AS VARCHAR)), 17, 16)
        |         AS UBIGINT) AS u
        |      FROM events)
        |ORDER BY event_id""".stripMargin
  )
}
