package graft

import org.apache.spark.sql.functions._

/** Interactive session semantics: cache reuse, limit, supersession,
  * incremental delivery (SURVEY.md §2.9, §4).
  */
class EventLogSpec extends SparkSpec {

  test("cache: second query reads InMemoryRelation, not parquet") {
    val log = new EventLog(spark, sf)
    try {
      log.catalog.collect() // materializes the cache
      val plan = log.instances("error").queryExecution.executedPlan.toString()
      assert(plan.contains("InMemoryTableScan") ||
        plan.contains("InMemoryRelation"),
        s"expected cached scan, got:\n${plan.take(500)}")
    } finally log.close()
  }

  test("instances: ordered LIMIT semantics match the flagship query") {
    val log = new EventLog(spark, sf)
    try {
      val a = log.instances("error", 100).select("event_id").collect()
        .map(_.getLong(0))
      val b = q("ev_flagship").select("event_id").collect().map(_.getLong(0))
      assert(a.sameElements(b))
    } finally log.close()
  }

  test("runInteractive: queries run and supersession cancels in-flight work") {
    val log = new EventLog(spark, sf)
    try {
      // normal run completes inside a job group
      val n = log.runInteractive(log.catalog)(_.count())
      assert(n == 5)
      // start a slow query in another thread, then supersede it
      @volatile var failed: Option[Throwable] = None
      // every event against an unbounded range: cannot finish before the
      // cancel, and its tasks see the kill flag every range batch. (A
      // cross product of the cached events alone loops ~10^9 times per
      // input row between kill checks, so its cancelled tasks held every
      // executor slot long after the cancel and stalled the next test.)
      val slow = log.events.select(col("event_id"))
        .crossJoin(spark.range(0L, Long.MaxValue, 1L, 4).toDF("n"))
        .agg(count(lit(1)))
      val t = new Thread(() => {
        try log.runInteractive(slow)(_.collect())
        catch { case e: Throwable => failed = Some(e) }
      })
      t.start()
      Thread.sleep(2000) // let it get into the job
      log.cancelCurrent()
      t.join(60000)
      assert(!t.isAlive, "superseded query should terminate")
      assert(failed.isDefined, "cancelled query should raise")
      // and its tasks stopped: a fresh job still gets executor slots
      val probe =
        new Thread(() => spark.sparkContext.parallelize(1 to 4, 4).count())
      probe.start()
      probe.join(60000)
      assert(!probe.isAlive, "cancelled tasks must release their executor slots")
    } finally log.close()
  }

  test("incremental delivery: toLocalIterator streams partitions") {
    val log = new EventLog(spark, sf)
    try {
      val it = log.instances("error", 50).toLocalIterator()
      val first = it.next()
      assert(first.getAs[Long]("event_id") >= 0)
      var n = 1
      while (it.hasNext) { it.next(); n += 1 }
      assert(n == 50)
    } finally log.close()
  }
}
