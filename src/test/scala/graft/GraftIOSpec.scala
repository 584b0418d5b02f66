package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.GraftIO

/** Source/sink round-trips (SURVEY.md §2.1): csv/json/parquet, plus
  * partitioned writes with downstream partition pruning.
  */
class GraftIOSpec extends SparkSpec {
  import spark.implicits._

  private lazy val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")

  test("csv round-trip preserves rows and values") {
    val dir = Files.createTempDirectory("graft_io").toString
    val src = lineitem.select($"l_orderkey", $"l_quantity", $"l_returnflag")
    GraftIO.writeCsv(src, s"$dir/li_csv")
    val back = GraftIO.readCsv(spark, s"$dir/li_csv", src.schema)
    assert(back.count() == src.count())
    val sumQ = back.agg(sum($"l_quantity")).collect()(0).getDouble(0)
    val expQ = src.agg(sum($"l_quantity")).collect()(0).getDouble(0)
    assert(math.abs(sumQ - expQ) < 1e-6)
  }

  test("json round-trip preserves rows and nested-free schema") {
    val dir = Files.createTempDirectory("graft_io").toString
    val src = lineitem.select($"l_orderkey", $"l_returnflag", $"l_quantity")
    GraftIO.writeJson(src, s"$dir/li_json")
    val back = GraftIO.readJson(spark, s"$dir/li_json", src.schema)
    assert(back.count() == src.count())
    assert(back.schema == src.schema)
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = Files.createTempDirectory("graft_io").toString
    GraftIO.writeParquet(lineitem, s"$dir/li_part",
      partitionCols = Seq("l_returnflag"), numFiles = 4)
    // hive layout on disk
    val sub = new java.io.File(s"$dir/li_part").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(sub.exists(_.startsWith("l_returnflag=")))
    val back = spark.read.parquet(s"$dir/li_part")
      .filter($"l_returnflag" === "R")
    // pruned plan only reads the R partition
    val scan = back.queryExecution.executedPlan.toString()
    assert(back.count() ==
      lineitem.filter($"l_returnflag" === "R").count())
    assert(scan.contains("PartitionFilters") ||
      scan.toLowerCase.contains("partition"))
  }

  test("bucketed tables: equi-join on the bucket key runs shuffle-free") {
    val li = lineitem.select($"l_orderkey", $"l_quantity")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey", $"o_totalprice")
    GraftIO.writeBucketed(li, "li_bkt", "l_orderkey", 8)
    GraftIO.writeBucketed(ord, "ord_bkt", "o_orderkey", 8)
    try {
      val joined = spark.table("li_bkt")
        .join(spark.table("ord_bkt"),
          $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(800)}")
      assert(joined.count() == lineitem.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("bucketed band index: per-ingest dedup never re-shuffles the corpus") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 40L).map(i => (i, s"w$i x$i y$i z$i common tail"))
      .toDF("doc_id", "text")
    val batch = (100L until 110L).map(i => (i, s"w$i x$i y$i z$i common tail"))
      .toDF("doc_id", "text")
    // the persisted artifact a recurring ingest maintains, bucketed on
    // the band hash (4 buckets = the spec session's shuffle partitions)
    GraftIO.writeBucketed(
      api.GraftPipelines.bandIndex(docs), "band_idx", "b", 4)
    try {
      val P = api.GraftPipelines
      val bucketed = P.incrementalDedupWithIndex(spark.table("band_idx"), batch)
      val unbucketed = P.incrementalDedupWithIndex(P.bandIndex(docs), batch)
      def plan(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString()
      def bandExchanges(df: org.apache.spark.sql.DataFrame) =
        "Exchange hashpartitioning\\(b#".r.findAllIn(plan(df)).size
      // under the cap the counted batch bands broadcast-probe the index:
      // neither index form shuffles on the band hash, so the corpus
      // never crosses the network
      Seq(unbucketed, bucketed).foreach { df =>
        assert(bandExchanges(df) == 0 && plan(df).contains("BroadcastHashJoin"),
          s"the batch side must broadcast:\n${plan(df).take(1500)}")
      }
      // above the cap the probe shuffles both sides: a recomputed index
      // shuffles on the band hash, a bucketed one reads in place
      val bb = P.bandIndex(batch).localCheckpoint()
      def aboveCap(store: org.apache.spark.sql.DataFrame) =
        P.bandProbe(store, bb, P.BroadcastRowCap + 1)
      assert(bandExchanges(aboveCap(P.bandIndex(docs))) == 2)
      assert(bandExchanges(aboveCap(spark.table("band_idx"))) == 1,
        s"corpus side must read in place:\n${plan(aboveCap(spark.table("band_idx"))).take(900)}")
      // and the answers agree
      assert(bucketed.orderBy(col("batch_id")).collect().toSeq ==
        unbucketed.orderBy(col("batch_id")).collect().toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS band_idx")
  }

  test("bucketed gram index: repeat decontamination never re-shingles the corpus") {
    import org.apache.spark.sql.functions.col
    val leak = "alpha beta gamma delta epsilon"
    val corpus = Seq(
      (1L, s"intro words then $leak and more trailing words"),
      (2L, "totally unrelated content with no overlap at all here"),
      (3L, "tiny")) // < 5 words: no grams, must still report clean
      .toDF("doc_id", "text")
    val eval1 = Seq((100L, s"question about $leak indeed")).toDF("doc_id", "text")
    GraftIO.writeBucketed(
      api.GraftPipelines.corpusGramIndex(corpus), "gram_idx", "g", 4)
    try {
      val bucketed = api.GraftPipelines
        .decontaminateWithIndex(spark.table("gram_idx"), corpus, eval1)
      val direct = api.GraftPipelines.decontaminate(corpus, eval1)
      // the contract is "a new eval suite never re-shingles the corpus":
      // shingling is a Generate (explode) node — the direct form plans
      // one per side, the indexed form only the eval side's
      def shingleGenerates(df: org.apache.spark.sql.DataFrame) =
        "Generate explode".r
          .findAllIn(df.queryExecution.executedPlan.toString()).size
      assert(shingleGenerates(direct) == 2)
      assert(shingleGenerates(bucketed) == 1,
        s"corpus grams must come from the index, not a re-shingle:\n${
          bucketed.queryExecution.executedPlan.toString().take(900)}")
      val b = bucketed.orderBy(col("doc_id")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      val d = direct.orderBy(col("doc_id")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      assert(b.sameElements(d))
      assert(b.toMap.apply(1L)._2 == 1 && b.toMap.apply(2L)._2 == 0)
      assert(b.toMap.apply(3L) == (0L, 0)) // gram-less doc still reported
    } finally spark.sql("DROP TABLE IF EXISTS gram_idx")
  }

  test("schema evolution: mergeSchema unifies old and new parquet layouts") {
    import spark.implicits._
    // a long-lived dataset gains a column mid-life; old files lack it
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.parquet(s"$dir/batch=old")
    Seq((2L, "b", "en")).toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/batch=new")
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.toSet == Set("doc_id", "text", "lang", "batch"))
    val rows = df.collect().map(r =>
      r.getAs[Long]("doc_id") -> Option(r.getAs[String]("lang"))).toMap
    assert(rows(1L).isEmpty && rows(2L).contains("en")) // old rows null-fill
  }

  test("permissive json: malformed lines captured, valid rows unharmed") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.json"),
      java.util.Arrays.asList(
        """{"id": 1, "name": "ok"}""",
        """{"id": 2, "name": "also ok"}""",
        """{"id": 3, "name": BROKEN"""))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    // triage path: opt into caching (the corrupt-record triage query
    // only works against a persisted frame)
    val df = GraftIO.readJsonPermissive(spark, dir, schema, cacheForTriage = true)
    try {
      assert(df.count() == 3)
      assert(df.filter("_corrupt_record IS NOT NULL").count() == 1)
      assert(df.filter("_corrupt_record IS NULL")
        .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    } finally df.unpersist()
  }

  test("jdbc round-trip against embedded Derby, filters pushed to the DB") {
    // Derby writes its log to cwd unless told otherwise
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graftio;create=true"
    val src = (1L to 100L).map(i => (i, i % 7, s"name_$i"))
      .toDF("id", "grp", "name")
    GraftIO.writeJdbc(src, url, "t_docs")
    val back = GraftIO.readJdbc(spark, url, "t_docs")
    assert(back.count() == 100)
    assert(back.agg(sum($"id")).collect()(0).getLong(0) == 5050L)
    // predicate pushdown: the WHERE runs in the database — the JDBC
    // scan node advertises it as a pushed filter
    val filtered = back.filter($"id" > 90 && $"grp" === 0).select($"id")
    val plan = filtered.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(id,90)"),
      s"filter must reach the JDBC scan:\n${plan.take(800)}")
    assert(filtered.collect().map(_.getLong(0)).toSet == Set(91L, 98L))
    // partition-parallel read: 4 concurrent range queries, same rows
    val par = GraftIO.readJdbcPartitioned(spark, url, "t_docs",
      "id", 1L, 101L, 4)
    assert(par.rdd.getNumPartitions == 4)
    assert(par.count() == 100)
  }

  test("orc round-trip via the generic reader") {
    val dir = Files.createTempDirectory("graft_io").toString
    val src = lineitem.select($"l_orderkey", $"l_quantity")
    src.write.mode("overwrite").orc(s"$dir/li_orc")
    val back = GraftIO.read(spark, "orc", s"$dir/li_orc", src.schema)
    assert(back.count() == src.count())
  }

  test("binaryFile ingest: whole-file payload rows, glob filters the listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bin")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("nested"))
    val a = Array[Byte](1, 2, 3, 4)
    val b = Array.tabulate(300)(_.toByte)
    java.nio.file.Files.write(dir.resolve("img_a.jpg"), a)
    java.nio.file.Files.write(sub.resolve("img_b.jpg"), b)
    java.nio.file.Files.write(dir.resolve("notes.txt"),
      "not a payload".getBytes)
    val rows = GraftIO
      .readBinaryFiles(spark, dir.toString, glob = Some("*.jpg"))
      .collect()
      .map(r => (new java.io.File(r.getAs[String]("path")).getName,
        r.getAs[Long]("length"), r.getAs[Array[Byte]]("content").toSeq))
      .sortBy(_._1)
    // the txt file is filtered at LISTING time; nested dirs are walked;
    // content round-trips byte-exact with length = file size
    assert(rows.toSeq == Seq(("img_a.jpg", 4L, a.toSeq),
      ("img_b.jpg", 300L, b.toSeq)))
  }

  test("fixtureDir: SHA-keyed, distinct per corpus/params, stable per key") {
    val dir = Files.createTempDirectory("graft_fx").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "stamp.parquet"), Array[Byte](1))
    val a = GraftIO.fixtureDir(dir, "stamp.parquet", "ppjoin", "theta=0.7")
    val a2 = GraftIO.fixtureDir(dir, "stamp.parquet", "ppjoin", "theta=0.7")
    val b = GraftIO.fixtureDir(dir, "stamp.parquet", "ppjoin", "theta=0.8")
    val c = GraftIO.fixtureDir(dir + "_other", "stamp.parquet", "ppjoin",
      "theta=0.7")
    assert(a == a2)                         // deterministic per key
    assert(a != b && a != c && b != c)      // params and corpus both key
    // 16-hex-char (64-bit) SHA-256 prefix, not a 32-bit Tuple.hashCode —
    // a silent collision here would serve a WRONG index, so the key must
    // be collision-resistant, and its format is part of the contract
    assert(a.matches(""".*graft_ppjoin_index_[0-9a-f]{16}$"""))
  }

  test("buildOnce: two concurrent builders never publish a torn index — " +
      "one builder's files win whole, and both callers read it back") {
    // Each builder writes TWO files that must agree; racing publication
    // through the same final dir must yield a dir whose files come from
    // ONE builder (atomic rename), never an interleaving. A barrier
    // starts both builds inside the not-exists window so both actually
    // enter the build branch.
    val base = Files.createTempDirectory("graft_race").toString
    (1 to 5).foreach { i =>
      val finalDir = s"$base/idx$i"
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ts = Seq("a", "b").map { tag =>
        new Thread(() => {
          try {
            barrier.await()
            val d = GraftIO.buildOnce(finalDir, "theta=0.7") { tmp =>
              // both files must carry the same tag for the publish to
              // be un-torn
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(tmp, "part1.txt"), tag)
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(tmp, "part2.txt"), tag)
            }
            results.add(d)
          } catch { case t: Throwable => errors.add(t) }
          ()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errors.isEmpty, s"builder threw: ${errors.peek()}")
      assert(results.size == 2)   // both callers returned successfully
      val p1 = java.nio.file.Files.readString(
        java.nio.file.Paths.get(finalDir, "part1.txt"))
      val p2 = java.nio.file.Files.readString(
        java.nio.file.Paths.get(finalDir, "part2.txt"))
      assert(p1 == p2, s"torn index: part1=$p1 part2=$p2")
      // the params marker was published atomically with the content
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(finalDir, "_graft_params")) == "theta=0.7")
    }
  }

  test("buildOnce: a params-marker mismatch or absence refuses loudly — " +
      "an index built under other parameters is never served") {
    val base = Files.createTempDirectory("graft_marker").toString
    // build under one params string
    GraftIO.buildOnce(s"$base/idx", "theta=0.7") { tmp =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "data.txt"), "x")
    }
    // same path, different expected params → loud refusal, not a serve
    val e = intercept[IllegalArgumentException] {
      GraftIO.buildOnce(s"$base/idx", "theta=0.8") { _ => fail("rebuilt") }
    }
    assert(e.getMessage.contains("theta=0.8") &&
      e.getMessage.contains("theta=0.7"))
    // a marker-less directory (legacy / torn by a foreign tool) refuses
    // too rather than serving unverifiable content
    val bare = new java.io.File(s"$base/bare"); bare.mkdirs()
    val e2 = intercept[IllegalArgumentException] {
      GraftIO.buildOnce(s"$base/bare", "theta=0.7") { _ => fail("rebuilt") }
    }
    assert(e2.getMessage.contains("<missing>"))
    // matching params serve without rebuilding
    val served = GraftIO.buildOnce(s"$base/idx", "theta=0.7") { _ =>
      fail("must serve the existing index, not rebuild")
    }
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(served, "data.txt")) == "x")
  }

  test("rel_join_bucketed: the co-located join itself never exchanges — " +
      "only the downstream aggregate does — and the layout is lossless") {
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("rel_join_bucketed")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    // no exchange on EITHER join key: the bucketed scans are already
    // co-partitioned, so the only hashpartitioning in the plan is the
    // 5-group aggregate's
    assert(!plan.matches("(?s).*Exchange hashpartitioning\\((?:c_custkey|o_custkey).*"),
      s"bucketed join must not shuffle on the join key:\n${plan.take(1200)}")
    val plain = spark.read.parquet(s"$sf/customer.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      == plain, "bucketed layout changed the join result")
  }

  /** Jobs the calling thread launches while `body` runs, counted by a
    * SparkListener. Listener delivery is asynchronous, so a sentinel job
    * run after `body` marks the point by which every earlier job start
    * has been delivered. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.probe")))
          .filter(_.startsWith(tag)).foreach(seen.put)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.probe", tag)
      try body finally sc.setLocalProperty("graft.probe", s"$tag-end")
      try spark.range(1).count() finally sc.setLocalProperty("graft.probe", null)
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(t => { assert(t != null, "sentinel job never reached the listener"); t })
        .takeWhile(_ == tag).size
    } finally sc.removeSparkListener(listener)
  }

  test("Tables.read: a repeat read of an unchanged table launches no job " +
      "and has spark.read.parquet's schema") {
    val dir = tempSfDir("t" -> lineitem.limit(50))
    val first = Tables.table(spark, dir, "t")
    assert(first.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { again = Tables.table(spark, dir, "t") } == 0,
      "a repeat read must be served from the memo, without inference")
    assert(again.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(again.count() == 50)
    // control: the counter does see inference jobs
    assert(jobsLaunchedBy { spark.read.parquet(s"$dir/t.parquet") } >= 1)
  }

  test("Tables.read: a table overwritten at the same path is seen on the " +
      "next call, rows and columns") {
    val dir = tempSfDir("t" -> Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    assert(Tables.table(spark, dir, "t").count() == 2)
    Seq((1L, 10.0, true), (2L, 20.0, false), (3L, 30.0, true))
      .toDF("k", "w", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables.table(spark, dir, "t")
    assert(back.columns.toSeq == Seq("k", "w", "flag"))
    assert(back.orderBy($"k").as[(Long, Double, Boolean)].collect().toSeq ==
      Seq((1L, 10.0, true), (2L, 20.0, false), (3L, 30.0, true)))
  }

  test("Tables.read: a self-join of two memo-served reads resolves and " +
      "gives spark.read.parquet's rows") {
    def selfJoin(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("event_id") === b("event_id"))
        .select(a("event_id"), a("event_type"), b("user_id"))
        .orderBy(a("event_id")).collect().toSeq
    Tables.events(spark, sf) // warm the memo: both reads below are hits
    val memo = selfJoin(Tables.events(spark, sf), Tables.events(spark, sf))
    val plain = selfJoin(spark.read.parquet(s"$sf/events.parquet"),
      spark.read.parquet(s"$sf/events.parquet"))
    assert(memo.nonEmpty && memo == plain)
    assert(memo.size == spark.read.parquet(s"$sf/events.parquet").count())
  }

  test("Tables.read: the inference confs are in the key — flipping " +
      "nanosAsLong re-infers a TIMESTAMP(NANOS) column") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS))
      .named("ts")
      .named("events")
    val dir = Files.createTempDirectory("graft_nanos_key").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(conf).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      g.add("event_id", 1L); g.add("ts", 1704067200123456789L)
      writer.write(g)
    } finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    def tsType() = Tables.events(spark, dir).schema("ts").dataType
    try {
      spark.conf.set(key, "true")
      assert(tsType() == org.apache.spark.sql.types.LongType)
      spark.conf.set(key, "false")
      // a stale hit would still answer LongType
      val flipped = scala.util.Try(tsType())
      assert(!flipped.toOption.contains(org.apache.spark.sql.types.LongType),
        s"nanosAsLong=false must re-infer ts, got $flipped")
      spark.conf.set(key, "true")
      assert(tsType() == org.apache.spark.sql.types.LongType)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("no read bypasses the Tables memo: no read.parquet( under " +
      "operators/, no corpus-table path read outside Tables.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 10, s"no sources found under $root")
    val tables = Seq("events", "region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "documents", "embeddings")
    // a parquet read (`read.parquet(`, or `read.format("parquet")` with
    // any options, then `.load(`) of a `<dir>/<table>.parquet` path,
    // the table named literally or interpolated
    val tableRead = ("""\bread(?:\s*\.\s*(?:format\("parquet"\)|schema\([^)]*\)|""" +
      """option\([^)]*\)))*\s*\.\s*(?:parquet|load)\(\s*s?"[^"]*/(?:""" +
      tables.mkString("|") + """|\$\{?\w+\}?)\.parquet"""").r
    val offenders = sources.flatMap { f =>
      val src = java.nio.file.Files.readString(f)
      val rel = root.relativize(f).toString
      val direct =
        if (rel.startsWith("graft/operators/") && src.contains("read.parquet("))
          Seq(s"$rel: read.parquet(")
        else Nil
      val table =
        if (rel == "graft/Tables.scala") Nil
        else tableRead.findAllIn(src).map(m => s"$rel: $m").toSeq
      direct ++ table
    }
    assert(offenders.isEmpty,
      "reads must go through graft.Tables.read:\n" + offenders.mkString("\n"))
    // and fixtures publish only through GraftIO.buildFixture: a
    // `_SUCCESS` check-then-overwrite under operators/ is the race two
    // JVMs lose by deleting each other's half-written build
    val successChecks = sources.filter { f =>
      root.relativize(f).toString.startsWith("graft/operators/") &&
        java.nio.file.Files.readString(f).contains("_SUCCESS")
    }
    assert(successChecks.isEmpty, "fixtures must publish through " +
      s"GraftIO.buildFixture, not a _SUCCESS check: $successChecks")
    // the pattern catches both read forms
    assert(tableRead.findFirstIn(
      """spark.read.parquet(s"$sfDir/$name.parquet")""").nonEmpty)
    assert(tableRead.findFirstIn(
      """s.read.format("parquet").load(s"$dir/orders.parquet")""").nonEmpty)
  }

  test("no source file holds a NUL byte: grep and ripgrep would report " +
      "the whole file as binary and code search would skip it") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    assert(files.size > 20, s"no sources found under $root")
    val offenders = files.filter(f =>
      java.nio.file.Files.readAllBytes(f).contains(0.toByte))
    assert(offenders.isEmpty, "write \"\\u0000\" instead of a raw NUL " +
      s"byte: ${offenders.mkString(", ")}")
  }
}
