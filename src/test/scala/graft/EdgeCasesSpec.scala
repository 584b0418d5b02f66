package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Edge-value semantics (FIXTURES.md micro-fixtures): empty strings,
  * nulls, epoch-boundary timestamps, uint64 top-bit values.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  test("empty and null props survive the events pipeline") {
    val events = Seq(
      (1L, 1000000000L, 1L, "alpha", 1.0, "{}"),
      (2L, 2000000000L, 1L, "alpha", 0.0, null.asInstanceOf[String]),
      (3L, 3000000000L, 2L, "beta", -5.5, """{"k": null}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    // catalog aggregates all rows regardless of props shape
    val cat = q("ev_catalog", dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(cat == Map("alpha" -> 2L, "beta" -> 1L))
    // k extraction yields nulls, not failures
    val sorted = q("ev_catalog_sort", dir).collect()
    assert(sorted.forall(_.getAs[Long]("n") >= 1))
  }

  test("empty text documents flow through text/dedup pipelines") {
    val docs = Seq(
      (1L, "", "en", "s0", 0L),
      (2L, "one", "en", "s0", 3L),
      (3L, "one two", "en", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempSfDir("documents" -> docs)
    // quality: empty text → 1 empty "word"; no crash, no div-by-zero
    val qs = q("llm_quality_score", dir).collect()
    assert(qs.length == 3)
    assert(qs.find(_.getLong(0) == 1L).get.getAs[Int]("n_words") == 1)
    // fingerprint skips docs with <2 words (1 and 2 absent)
    val fps = q("llm_fingerprint", dir).collect().map(_.getLong(0)).toSet
    assert(fps == Set(3L))
    // minhash candidates: no doc has >=3 words except doc 3 → no pairs
    assert(q("llm_minhash_pairs", dir).collect().isEmpty)
    // exact dedup still hashes the empty string
    assert(q("llm_dedup_exact", dir).count() == 3)
  }

  test("round-3 pipeline ops handle empty and degenerate inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // dupClusters on no pairs: terminates, returns no rows
    assert(api.GraftPipelines.dupClusters(
      Seq.empty[(Long, Long)].toDF("d1", "d2")).count() == 0L)
    // decontaminate with an empty eval set: all docs clean
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val clean = api.GraftPipelines.decontaminate(docs, empty, 5).collect()
    assert(clean.length == 1 && clean.head.getInt(2) == 0)
    // curate on an empty corpus: empty out, no crash in the checkpoint path
    assert(api.GraftPipelines.curate(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"))
      .count() == 0L)
    // packSequences: docs larger than the budget each take their own bin
    val big = Seq((1L, "a", 5000), (2L, "a", 5000)).toDF("doc_id", "source", "n_tokens")
    val bins = api.GraftPipelines.packSequences(big, 2048).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
    assert(bins == Map(1L -> 0L, 2L -> 2L))
  }

  test("retrieval/mixing ops handle degenerate inputs") {
    // bm25: a term absent from the whole corpus contributes nothing
    val docs = Seq((1L, "spark x"), (2L, "y z")).toDF("doc_id", "text")
    val hits = api.GraftPipelines.bm25RationalIdf(docs, Seq("spark", "nosuchterm"))
      .collect()
    assert(hits.map(_.getLong(0)).toSeq == Seq(1L)) // doc 2 scores 0
    assert(hits.head.getDouble(2) > 0)
    // chunk: 1-word and empty-string docs yield exactly one chunk
    val tiny = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    val chunks = api.GraftPipelines.chunkDocuments(tiny, 20, 15).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(3))).toMap
    assert(chunks(1L) == (0, "solo"))
    assert(chunks(2L) == (0, "")) // split("") = [""] — mirrored in DuckDB
    // temperatureMix: single source → rate exactly 1e6, everything kept
    val one = Seq((1L, "s0", "a"), (2L, "s0", "b"))
      .toDF("doc_id", "source", "text")
    val mix = api.GraftPipelines.temperatureMix(one).collect().head
    assert(mix.getAs[Long]("rate_ppm") == 1000000L)
    assert(mix.getAs[Long]("n_kept") == 2L)
    // sampleTopKPerStratum: k larger than the stratum keeps everything
    assert(api.GraftPipelines.sampleTopKPerStratum(one, 100).count() == 2L)
    // invertedIndex on empty corpus: no terms, no crash
    assert(api.GraftPipelines.invertedIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() == 0L)
    // round-4 ops on empty/degenerate corpora: no rows, no crash
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(api.GraftPipelines.substringOverlap(emptyDocs).count() == 0L)
    assert(api.GraftPipelines.redactPii(emptyDocs).count() == 0L)
    assert(api.GraftPipelines.docFeatures(emptyDocs).count() == 0L)
  }

  test("pre-epoch timestamps keep ordering and negative epoch millis") {
    val events = Seq(
      (1L, -86400L * 1000000000L, 1L, "alpha", 1.0, "{}"), // 1969-12-31
      (2L, 0L, 1L, "alpha", 1.0, "{}"),                     // epoch
      (3L, 86400L * 1000000000L, 1L, "alpha", 1.0, "{}"))   // 1970-01-02
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    val flag = operators.EventOps.events(spark, dir)
      .orderBy($"ts_ns").select($"event_id", $"ts_ms").collect()
    assert(flag.map(_.getLong(0)).sameElements(Array(1L, 2L, 3L)))
    assert(flag.head.getLong(1) == -86400000L)
  }

  test("pre-epoch ns floor into the oracle's buckets, never toward zero") {
    // -1 ns lives in millisecond -1 (floor, = DuckDB's `//` and
    // epoch_ms), not millisecond 0 (Spark `div`'s truncate-toward-zero)
    val events = Seq(
      (1L, -1L, 1L, "alpha", 1.0, "{}"),
      (2L, -1000000L, 1L, "alpha", 1.0, "{}"),    // exactly -1 ms
      (3L, -1000001L, 1L, "alpha", 1.0, "{}"),    // just below → -2 ms
      (4L, 999999L, 1L, "alpha", 1.0, "{}"))      // positive, still 0 ms
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    val ms = operators.EventOps.events(spark, dir)
      .select($"event_id", $"ts_ms").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ms == Map(1L -> -1L, 2L -> -1L, 3L -> -2L, 4L -> 0L))
  }

  test("ev_uint64_decode round-trips top-bit pointers through DECIMAL(20,0)") {
    val events = Seq.tabulate(16)(i =>
      (i.toLong, 1000000000L * i, 1L, "alpha", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempSfDir("events" -> events)
    val rows = q("ev_uint64_decode", dir).collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      val dec = BigInt(r.getAs[String]("ptr_dec"))
      val hex = BigInt(r.getAs[String]("ptr_hex"), 16)
      assert(dec == hex, s"hex render diverged for $dec")
      assert(r.getAs[String]("ptr_hex").length == 16)
      assert(r.getAs[Int]("is_top_bit") ==
        (if (dec > BigInt(Long.MaxValue)) 1 else 0))
    }
    // md5-derived values are uniform: 16 rows all below the top bit has
    // probability 2^-16 — the fixture genuinely exercises the overflow range
    assert(rows.exists(_.getAs[Int]("is_top_bit") == 1))
    assert(rows.exists(_.getAs[Int]("is_top_bit") == 0))
  }

  test("uint64 top-bit values round-trip through Decimal(20,0)") {
    // SURVEY §7.4: LongType overflows top-bit uint64; Decimal(20,0) holds it
    val big = BigDecimal("18446744073709551615") // 2^64 - 1
    val df = Seq("18446744073709551615", "9223372036854775808", "0")
      .toDF("s")
      .select($"s".cast(DecimalType(20, 0)).as("v"))
    val vals = df.orderBy($"v").collect().map(_.getDecimal(0).toString)
    assert(vals.sameElements(Array("0", "9223372036854775808",
      "18446744073709551615")))
    val total = df.agg(org.apache.spark.sql.functions.sum($"v"))
      .collect()(0).getDecimal(0)
    assert(BigDecimal(total) == big + BigDecimal("9223372036854775808"))
  }

  test("ev_anomaly_mad: flags contamination the 3-sigma z-score masks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 6 inliers around 10 + two 500s: mean≈132, sd≈200 → max |z|≈1.8,
    // the z-gate (|z|>3) sees NOTHING (outliers inflate σ and mask each
    // other). median=10, mad=0.5 → the 500s score adev/mad=980 ≫ 4.4478.
    // The 50% breakdown point is the whole reason the MAD twin exists.
    val rows = Seq(
      (1L, 1704067200000000000L, 1L, "click", 10.0, "{}"),
      (2L, 1704067201000000000L, 2L, "click", 10.0, "{}"),
      (3L, 1704067202000000000L, 3L, "click", 10.0, "{}"),
      (4L, 1704067203000000000L, 4L, "click", 11.0, "{}"),
      (5L, 1704067204000000000L, 5L, "click", 9.0, "{}"),
      (6L, 1704067205000000000L, 6L, "click", 10.0, "{}"),
      (7L, 1704067206000000000L, 7L, "click", 500.0, "{}"),
      (8L, 1704067207000000000L, 8L, "click", 500.0, "{}"))
    val dir = tempSfDir("events" -> rows.toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props"))
    val zFlagged = q("ev_anomaly", dir).collect()
    val madFlagged = q("ev_anomaly_mad", dir).collect()
    assert(zFlagged.isEmpty,
      s"z-score should be masked by the contamination, got ${zFlagged.toSeq}")
    assert(madFlagged.map(_.getLong(0)).toSet == Set(7L, 8L),
      s"MAD must flag both 500s: ${madFlagged.toSeq}")
  }

  test("unpersistCheckpointBlocks frees checkpoint storage Dataset.unpersist cannot") {
    import org.apache.spark.sql.graftbridge.Bridge
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ck = Seq(1, 2, 3).toDF("x").localCheckpoint()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty, "localCheckpoint must pin RDD blocks")
    // the documented trap: Dataset.unpersist routes via the CacheManager,
    // which has no entry for checkpoint blocks — the blocks survive it
    ck.unpersist(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet & pinned) == pinned,
      "Dataset.unpersist must NOT free checkpoint blocks (the bug class)")
    // the bridge helper frees them at the RDD level
    assert(Bridge.unpersistCheckpointBlocks(ck, blocking = true) == 1)
    assert((spark.sparkContext.getPersistentRDDs.keySet & pinned).isEmpty,
      "checkpoint blocks must be gone after unpersistCheckpointBlocks")
    // non-checkpointed frame: nothing to free, helper reports 0
    assert(Bridge.unpersistCheckpointBlocks(Seq(1).toDF("x")) == 0)
    // a DERIVED frame whose plan merely CONTAINS someone's checkpoint
    // must not free it — other frames may still read those blocks and
    // the truncated lineage leaves no recompute path (review finding)
    val ck2 = Seq(4, 5).toDF("x").localCheckpoint()
    val pinned2 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(Bridge.unpersistCheckpointBlocks(
      ck2.select((org.apache.spark.sql.functions.col("x") + 1).as("y")),
      blocking = true) == 0)
    assert((spark.sparkContext.getPersistentRDDs.keySet & pinned2) == pinned2,
      "derived frame must leave the underlying checkpoint pinned")
    assert(Bridge.isMaterializedCheckpoint(ck2))
    assert(Bridge.unpersistCheckpointBlocks(ck2, blocking = true) == 1)
    assert(!Bridge.isMaterializedCheckpoint(ck2),
      "freed blocks leave nothing materialized")
    // ckptCounted asks the same question: an RDD-backed frame that is
    // NOT stored (createDataFrame over an RDD; the batch foreachBatch
    // hands a loop is one too) has a LogicalRDD plan like a checkpoint,
    // but each consumer would recompute it — it must be materialized once
    val evals = spark.sparkContext.longAccumulator("ckptCounted evals")
    val rows = spark.sparkContext.parallelize(1 to 4, 2)
      .map { i => evals.add(1); org.apache.spark.sql.Row(i) }
    val rddBacked = spark.createDataFrame(rows,
      new org.apache.spark.sql.types.StructType().add("x", "int"))
    assert(!Bridge.isMaterializedCheckpoint(rddBacked))
    val (once, n) = api.GraftPipelines.ckptCounted(rddBacked)
    assert(n == 4L && once.count() == 4L && once.collect().length == 4)
    assert(evals.value == 4L,
      s"two consumers must share one evaluation, saw ${evals.value / 4} " +
        s"(${evals.value} row evaluations)")
  }

  test("ckptCounted counts an already-materialized checkpoint in one job") {
    // a checkpoint is not copied again, and its stored RDD counts in a
    // single stage, where Dataset.count() adds a shuffle map job
    val ck = spark.range(0, 1000, 1, 4).toDF("x").localCheckpoint()
    val (jobs, (same, n)) = jobDescriptions(api.GraftPipelines.ckptCounted(ck))
    assert(n == 1000L && (same eq ck))
    assert(jobs.size == 1, s"${jobs.size} jobs to count a checkpoint")
  }
}
