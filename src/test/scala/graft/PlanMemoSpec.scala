package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The analyzed-plan memo behind `SparkEntry.queries` ([[PlanMemo]]):
  * each admission and validity rule, and that a served visit runs all
  * of its jobs and gives the built visit's answer.
  */
class PlanMemoSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Builds `name` on `dir` until its plan is stored (a first build may
    * run a schema-inference or fixture job, which keeps it out) and
    * returns the visit whose plan was stored. Callers make the first
    * visit a miss (a fresh dir or conf), so that visit was built. */
  private def storedVisit(name: String, dir: String = sf): DataFrame = {
    var df = q(name, dir)
    var builds = 1
    while (!PlanMemo.stored(spark, name) && builds < 3) {
      df = q(name, dir); builds += 1
    }
    assert(PlanMemo.stored(spark, name), s"$name was never stored")
    df
  }

  private def events(rows: (Long, Long, Long, String, Double)*): DataFrame =
    rows.map { case (id, ts, u, t, v) => (id, ts, u, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def catalog(dir: String): Seq[(String, Long)] =
    q("ev_catalog", dir).select($"event_type", $"n").as[(String, Long)]
      .collect().toSeq

  test("a rewritten table of the corpus re-builds the plan and returns the " +
      "new answer") {
    val dir = tempSfDir("events" -> events((1L, 1000L, 1L, "a", 1.0),
      (2L, 2000L, 2L, "a", 2.0)))
    assert(catalog(dir) == Seq("a" -> 2L))
    assert(catalog(dir) == Seq("a" -> 2L))
    assert(PlanMemo.stored(spark, "ev_catalog"))
    val served = plan(q("ev_catalog", dir))
    assert(plan(q("ev_catalog", dir)) eq served, "an unchanged corpus is served")
    events((3L, 3000L, 3L, "b", 1.0)).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val rebuilt = q("ev_catalog", dir)
    assert(!(plan(rebuilt) eq served), "a rewritten table must re-build")
    assert(catalog(dir) == Seq("b" -> 1L))
  }

  test("a file added under the corpus dir invalidates a fixture-backed " +
      "entry (ev_partition_pruned)") {
    val day = 1704585600000000000L // 2024-01-07T00:00Z in ns
    val dir = tempSfDir("events" -> events((1L, day, 1L, "a", 1.0)))
    def types(): Seq[String] = storedVisit("ev_partition_pruned", dir)
      .select($"event_type").as[String].collect().toSeq
    assert(types() == Seq("a"))
    // the plan reads only the fixture; its path is keyed on the corpus
    events((2L, day + 1000L, 2L, "b", 1.0)).coalesce(1).write.mode("append")
      .parquet(s"$dir/events.parquet")
    assert(q("ev_partition_pruned", dir).select($"event_type").as[String]
      .collect().toSeq == Seq("a", "b"))
  }

  test("a flipped SQL conf re-builds the plan") {
    val dir = tempSfDir("events" -> events((1L, 1000L, 1L, "a", 1.0)))
    storedVisit("ev_catalog", dir)
    val served = plan(q("ev_catalog", dir))
    assert(plan(q("ev_catalog", dir)) eq served)
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    spark.conf.set(key, "3")
    try assert(!(plan(q("ev_catalog", dir)) eq served))
    finally spark.conf.set(key, was)
  }

  test("a build that runs jobs is not stored (llm_dup_clusters never; a " +
      "fixture entry once its fixture exists)") {
    // its driver union-find collects, and its result is a checkpoint
    val answers = (1 to 3).map { _ =>
      val df = q("llm_dup_clusters")
      assert(!PlanMemo.stored(spark, "llm_dup_clusters"))
      df.collect().map(_.toString).toSeq
    }
    assert(answers.distinct.size == 1 && answers.head.nonEmpty)
    // the first build writes the fixture; the next one only reads it
    val dir = tempSfDir("events" -> events((1L, 1000L, 1L, "a", 1.0)))
    q("ev_partition_pruned", dir)
    assert(!PlanMemo.stored(spark, "ev_partition_pruned"))
    q("ev_partition_pruned", dir)
    assert(PlanMemo.stored(spark, "ev_partition_pruned"))
  }

  test("a served visit schedules as many jobs in its action as the built " +
      "visit did") {
    val dir = tempSfDir("events" -> events((1L, 1000L, 1L, "a", 1.0),
      (2L, 2000L, 2L, "b", 2.0), (3L, 3000L, 1L, "b", 3.0)))
    val built = storedVisit("ev_catalog", dir)
    val served = q("ev_catalog", dir)
    assert(plan(served) eq plan(q("ev_catalog", dir)), "not served")
    val (builtJobs, builtRows) = jobDescriptions(built.collect().toSeq)
    val (servedJobs, servedRows) = jobDescriptions(served.collect().toSeq)
    assert(builtJobs.nonEmpty && servedJobs.size == builtJobs.size,
      s"built $builtJobs, served $servedJobs")
    assert(servedRows == builtRows)
  }

  test("self-joins and set operations over two served visits resolve") {
    val dir = tempSfDir("events" -> events((1L, 1000L, 1L, "a", 1.0),
      (2L, 2000L, 2L, "b", 2.0)))
    storedVisit("ev_catalog", dir)
    val (a, b) = (q("ev_catalog", dir), q("ev_catalog", dir))
    assert(plan(a) eq plan(b))
    val n = a.count()
    assert(n > 0)
    assert(a.join(b, Seq("event_type")).count() == n)
    assert(a.join(b, a("event_type") === b("event_type")).count() == n)
    assert(a.exceptAll(b).count() == 0)
  }

  test("every browse entry gives the same answer on its built and its " +
      "served visit") {
    // the entries the benchmark's browse workload visits
    val browse = Seq("rel_temporal_lookup", "ev_flagship", "rel_merge_upsert",
      "ev_stickiness", "ev_uint64_decode", "ev_attribution",
      "ev_partition_pruned", "rel_basket_pairs", "rel_incremental_agg",
      "ev_range_join", "rel_join_bucketed", "ev_power_users",
      "ev_pattern_match", "ev_sessionize", "rel_window_distribution",
      "rel_percentile_approx", "ev_cusum", "ev_sliding_1h15m",
      "rel_q3_shipping")
    // a conf no other suite sets: every entry's first visit here builds
    spark.conf.set("spark.graft.planMemoSpec", "browse")
    try browse.foreach { n =>
      val built = storedVisit(n)
      val served = q(n)
      assert(plan(served) eq plan(built), s"$n: not served")
      assert(served.collect().map(_.toString).toSeq ==
        built.collect().map(_.toString).toSeq, n)
    } finally spark.conf.unset("spark.graft.planMemoSpec")
  }
}
