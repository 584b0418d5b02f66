package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.api.GraftPipelines.{BroadcastRowCap, bandProbe,
  broadcastCounted, ckptCounted, labeled, probePairs}
import graft.sources.GraftIO

/** Structured Streaming layer (SURVEY.md §2.9).
  *
  * The reference delivers query results incrementally — a worker thread
  * decodes batches and the UI polls them non-blocking every frame
  * (/root/reference/src/main.cpp:1097, 1273;
  * /root/reference/src/utils/TaskHandler.h:40-45). Structured Streaming is
  * the Spark-native form of that loop: a source feeds micro-batches through
  * the same declarative plan, and sinks observe increments.
  *
  * These transforms are *source-agnostic*: they take any streaming (or
  * batch) DataFrame with the events schema (`ts: timestamp, event_type:
  * string, user_id: long, value: double`), so tests drive them from
  * `MemoryStream` and production attaches `readStream.parquet`/Kafka. The
  * tumbling-window aggregation is the streaming twin of the oracle-checked
  * batch query `ev_tumbling_1h`.
  *
  * Scale notes: watermark + windowed agg is incremental state keyed by
  * (window, event_type) — bounded cardinality; per-user session state in
  * [[sessionCounts]] uses mapGroupsWithState with an explicit timeout so
  * state is evicted, never unbounded.
  */
object EventStreaming {

  /** Tumbling 1-hour window counts with a 30-minute watermark for late
    * data. Append-mode compatible (finalized windows only).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Sliding windows: 1-hour window advancing every 15 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows via event-time gap (built-in session_window) —
    * the live twin of the batch `ev_session_window` entry, emitting the
    * same shape: window end (= last event + gap) and the exact-decimal
    * value sum alongside the count.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double")
          .as("sum_value"))
      .select(col("w.start").as("sess_start"), col("w.end").as("sess_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  final case class UserEvent(user_id: Long, event_type: String)
  final case class UserCount(user_id: Long, n_events: Long)

  /** Custom stateful op: running per-user event counts via
    * mapGroupsWithState (the reference's per-query incremental counter,
    * generalized). Production passes ProcessingTimeTimeout so idle users'
    * state is evicted; tests pass NoTimeout so processAllAvailable()
    * settles (timeout-driven batches never let the stream go idle).
    */
  def sessionCounts(events: Dataset[UserEvent],
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[UserCount] = {
    import events.sparkSession.implicits._
    val evict = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(timeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0L)
            state.remove()
            UserCount(uid, n)
          } else {
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            if (evict) state.setTimeoutDuration("1 hour")
            UserCount(uid, n)
          }
      }
  }

  final case class BucketItem(bucket: Int, item: String)
  final case class HeavyHitter(item: String, count: Long, maxError: Long)

  /** Streaming heavy hitters with BOUNDED state: each of `buckets`
    * hash-partitioned groups maintains a capacity-`k` Space-Saving
    * summary (Metwally et al., ICDT'05) over its items, so total state
    * is buckets × k counters no matter how many distinct items the
    * stream carries — the property a `groupBy(item).count` loses the
    * moment item cardinality is unbounded (every distinct key lives in
    * state forever). Per update: present items increment; a new item
    * evicts the current minimum and inherits its count, recording that
    * count as `maxError` (Space-Saving's overestimate bound:
    * `count - maxError ≤ true ≤ count`). Items hash to a fixed bucket,
    * so a true heavy hitter always lands in ONE summary and is
    * guaranteed present once its frequency exceeds bucket_size/k.
    */
  def heavyHitters(items: Dataset[String], k: Int, buckets: Int = 8,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)
      : Dataset[HeavyHitter] = {
    import items.sparkSession.implicits._
    items
      .map(s => BucketItem(math.floorMod(s.hashCode, buckets), s))
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Update(), timeout) {
        (_: Int, rows: Iterator[BucketItem],
            state: GroupState[Map[String, (Long, Long)]]) =>
          var summary = state.getOption.getOrElse(Map.empty)
          rows.foreach { r =>
            summary.get(r.item) match {
              case Some((n, e)) => summary += r.item -> (n + 1, e)
              case None if summary.size < k => summary += r.item -> (1L, 0L)
              case None =>
                // evict the minimum (ties: lexicographic — deterministic),
                // inherit its count as the new item's error bound
                val (minItem, (minN, _)) = summary.minBy { case (i, (n, _)) => (n, i) }
                summary = summary - minItem + (r.item -> (minN + 1, minN))
            }
          }
          state.update(summary)
          summary.iterator.map { case (i, (n, e)) => HeavyHitter(i, n, e) }
      }
  }

  /** Output-mode helper used by the tests and any foreachBatch consumer. */
  val appendMode: OutputMode = OutputMode.Append()

  /** Live-trace file source (SURVEY.md §7.2 slice 6): tail a directory of
    * event parquet files — each file that appears becomes part of the next
    * micro-batch, the engine analog of the reference's live ETW session
    * feeding `ProcessTrace` incrementally (src/main.cpp:1081-1089).
    * `maxFilesPerTrigger` bounds batch size so a backlog drains in steady
    * increments rather than one giant batch.
    */
  def fileSource(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Streaming exact dedup with bounded state: the streaming twin of the
    * batch `llm_dedup_exact`. Duplicate keys arriving within the
    * watermark horizon are dropped; state for a key is evicted once the
    * watermark passes it, so state size follows the horizon × key
    * arrival rate, never the stream's full history — the only viable
    * dedup contract over an unbounded ingest. (Full-history dedup at
    * scale is the batch incremental form: `GraftPipelines
    * .incrementalDedup` against the persisted corpus index.)
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      horizon: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment: join a live event stream against a static
    * dimension (the streaming twin of the dictionary decode). The static
    * side re-plans per micro-batch, so Spark broadcasts it when small —
    * no state store involved, which is why this is the right shape for
    * dimension enrichment (a stream-stream join would buffer state).
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Watermarked STREAM-STREAM interval join — two live feeds correlated
    * on key + time band, the streaming twin of the batch `ev_range_join`
    * (follow-on events within `bandSeconds` after the same user's
    * signup) and the engine form of the reference's dual live queues
    * (`src/utils/TaskHandler.h:33-45`: trace events and UI requests
    * arriving on independent threads, correlated by the session).
    *
    * Unlike [[enrich]] (stream-static, stateless), BOTH sides buffer
    * state. The two watermarks plus the two-sided time bound are what
    * make that state finite: Spark derives each side's eviction horizon
    * from the join condition — a buffered signup is dropped once the
    * event-side watermark passes `sig_ts + band` (no future event can
    * match it), and a buffered event once the signup-side watermark
    * passes `ev_ts` (no future signup can precede it). State is
    * horizon × arrival rate, never stream history — the only viable
    * contract for an unbounded dual-feed join. In append mode a pair
    * emits as soon as both rows have arrived; rows later than their
    * side's watermark are dropped, matching the windowed-agg lateness
    * contract.
    *
    * `joinType`: "inner" emits matches only; "left_outer" ALSO emits
    * each signup with null event columns once the event-side watermark
    * has passed `sig_ts + band` — i.e. once no future event can match —
    * the live "signups that never converted" query (a batch engine
    * needs a full re-scan for it; here it falls out of state eviction).
    */
  def followWithinBand(signups: DataFrame, events: DataFrame,
      bandSeconds: Long = 3600, late: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    val sig = signups.filter(col("event_type") === "signup")
      .withWatermark("ts", late)
      .select(col("ts").as("sig_ts"), col("user_id").as("su"))
    val ev = events.withWatermark("ts", late)
      .select(col("ts").as("ev_ts"), col("user_id"), col("event_type"))
    sig.join(ev,
        col("user_id") === col("su") &&
        col("ev_ts") > col("sig_ts") &&
        col("ev_ts") <= col("sig_ts") + expr(s"INTERVAL $bandSeconds SECONDS"),
        joinType)
      .select(col("su").as("user_id"), col("sig_ts"), col("ev_ts"),
        col("event_type"))
  }

  /** Streaming near-dup ingest against a self-maintaining persisted band
    * index: the production loop [[graft.api.GraftPipelines.incrementalDedup]]
    * describes, as running code. Per micro-batch of documents:
    *
    *  1. read the corpus band index from `indexPath` (empty on
    *     bootstrap) with the schema the loop writes (no inference job);
    *  2. flag the batch against it
    *     ([[graft.api.GraftPipelines.incrementalDedupWithIndex]]) and
    *     materialize the flags BEFORE the index changes (localCheckpoint);
    *  3. hand the flagged batch to the caller's sink;
    *  4. append the bands of the batch's NEW docs (is_new = 1) to the
    *     index — the rows step 2 hashed and checkpointed, so the batch
    *     is shingled once — duplicates contribute no index entries, so
    *     the index grows with unique content, not ingest volume.
    *
    * Only the batch is hashed per trigger; the corpus text is never
    * re-scanned. Every job carries its phase label,
    * `ingest[<batchId>] <phase>`. A replay of a batch whose bands were
    * already appended (a crash after step 4, before the commit)
    * re-delivers the same flags: the probe excludes index rows of batch
    * ids, and a band appended twice only repeats a match, which the
    * count dedups.
    *
    * State ([[StateDir]]): a hidden `_scheme` marker inside the index
    * pins `(shingleN, seeds, bands)` — band hashes from a DIFFERENT
    * hash scheme in the same log would make new↔old candidate pairs
    * silently never collide (missed duplicates). The log is
    * batch-id-agnostic, so `adoptExisting = true` deliberately
    * continues ingest from another query; the default refuses a
    * foreign batch-0 start, so an accidental re-stream of an ingested
    * corpus (every doc flagged dup) cannot happen silently.
    */
  def ingestDedupLoop(docs: DataFrame, indexPath: String,
      checkpointDir: Option[String] = None, shingleN: Int = 3,
      seeds: Int = 8, bands: Int = 4, id: String = "doc_id",
      text: String = "text", compactThreshold: Int = 64,
      adoptExisting: Boolean = false)
      (sink: (Dataset[Row], Long) => Unit): StreamingQuery = {
    val runId = StateDir.runIdentity(checkpointDir)
    val P = graft.api.GraftPipelines
    deliver(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      def phase[T](p: String)(f: => T): T =
        labeled(spark, s"ingest[$batchId] $p")(f)
      phase("scheme guard") {
        StateDir.guard(spark, "ingestDedupLoop", batchId, runId,
          s"$indexPath/_scheme", s"n=$shingleN,seeds=$seeds,bands=$bands",
          StateDir.holds(spark, indexPath),
          "band hashes from two hash schemes must never share one index " +
            "(new↔old candidates would silently never collide)",
          s"the band index at $indexPath",
          "pass adoptExisting = true to deliberately continue ingest " +
            "into this index", adoptExisting)
      }
      val index = StateDir.read(spark, indexPath, P.bandIndex(
        batch.toDF.limit(0), shingleN, seeds, bands, id, text).schema)
      val (flags, batchBands) = phase("batch bands") {
        P.incrementalDedupWithBands(index, batch.toDF,
          shingleN, seeds, bands, id, text)
      }
      val flagged = phase("flags")(flags.localCheckpoint())
      phase("sink")(sink(flagged, batchId))
      // the new docs' rows of the batch bands the probe already hashed
      phase("append index") {
        appendLog(batchBands.join(
            flagged.filter(col("is_new") === 1)
              .select(col("batch_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id").as(id), col("b")),
          indexPath, compactThreshold)
      }
    }
  }

  /** Streaming decontamination gate: flag every arriving doc's n-gram
    * overlap with a persisted eval gram set at INGEST time — dropping
    * benchmark leaks before they ever enter the corpus, instead of a
    * post-hoc scrub over 100 TB. The eval artifact is built once
    * (`GraftPipelines.corpusGramIndex(evalSuite).select("g")`, written
    * to `evalGramsPath`) and reread per micro-batch as a static side
    * (broadcast when small — eval suites usually are); per-trigger work
    * shingles only the batch. The sink sees each doc with
    * `n_eval_grams` + `is_contaminated` — same columns as the batch
    * `llm_decontaminate`.
    */
  def decontaminationGate(docs: DataFrame, evalGramsPath: String,
      checkpointDir: Option[String] = None, n: Int = 5,
      id: String = "doc_id", text: String = "text")
      (sink: (Dataset[Row], Long) => Unit): StreamingQuery =
    deliver(docs, checkpointDir) { (batch, batchId) =>
      val evalGrams = batch.sparkSession.read.parquet(evalGramsPath)
      val flagged = graft.api.GraftPipelines
        .decontaminateAgainstGrams(batch.toDF, evalGrams, n, id, text)
        .localCheckpoint()
      sink(flagged, batchId)
    }

  /** Streaming END-TO-END curation: the full five-stage batch pipeline
    * (`GraftPipelines.curateClean` — decontaminate → quality gate →
    * exact dedup → verified near-dup drop → token count) as an ingest
    * loop whose per-trigger work is O(batch + touched candidates),
    * never a corpus re-scan. Composes the independently-proven gates:
    * [[decontaminationGate]]'s gram check, the quality filter,
    * [[ingestDedupLoop]]'s growing band index, plus a digest log and a
    * doc store. State under `statePath` (all dup-tolerant append logs,
    * the ingestDedupLoop discipline, each folded once it passes
    * `compactThreshold` files):
    *
    *  - `digests/` — md5(text) of every EXACT survivor so far; the
    *    batch anti-joins the counted log rows that match its broadcast
    *    digests (exact dedup across triggers).
    *  - `bands/` — the LSH band index of every exact survivor; cross
    *    near-dup candidates are band collisions batch × index
    *    ([[graft.api.GraftPipelines.bandProbe]]).
    *  - `docs/` — (id, text) of every exact survivor, for the verify
    *    stage's word-set Jaccard (candidates only — the store is read
    *    by id-keyed semi-join, never scanned for shingling).
    *
    * Every log is read with its written schema (no inference job) and
    * streams whole through a join whose counted batch side broadcasts.
    * Every job carries its phase label, `curate[<batchId>] <phase>`.
    *
    * BATCH-EQUIVALENCE (proven in StreamingSpec): under id-monotone
    * ingest (doc ids non-decreasing across triggers — the natural
    * ingest order), the accumulated survivor set EQUALS
    * `curateClean(allBatches, evalSet)` exactly, including dup CHAINS:
    * the batch rule drops every verified pair's larger id even when the
    * smaller was itself dropped, so the state logs append ALL exact
    * survivors (dropped-or-not), not just emitted ones — an index of
    * emitted survivors only would let the third link of an a~b~c chain
    * slip through (b dropped by a, c similar only to b). Out-of-order
    * ingest degrades gracefully to first-seen-wins (a cross pair drops
    * the BATCH member — the already-emitted doc can't be retracted),
    * which is the same policy at a different tie-break, not a
    * correctness hole.
    *
    * Replay caveat: the logs are append-only and every read of them
    * tolerates duplicate rows without deduplicating the log (the
    * digest log feeds a semi join, the band log a pair-level
    * `distinct`, the doc log the verify's candidate semi join), so a
    * foreachBatch retry re-appends rows harmlessly; however a retried
    * batch whose digests already landed emits no survivors on the
    * retry — the sink must treat emissions as at-least-once per batch
    * id, not per doc.
    *
    * State ([[StateDir]]): the marker pins EVERY parameter that
    * shapes the logs — the gates decide which docs enter
    * `digests/`/`docs/`, the hash scheme shapes `bands/` — so a
    * mismatched restart refuses instead of mixing two curation
    * policies in one corpus state; `adoptExisting` as in
    * [[ingestDedupLoop]].
    */
  def curationIngest(docs: DataFrame, evalGramsPath: String,
      statePath: String, checkpointDir: Option[String] = None,
      stopwords: Seq[String] = graft.api.GraftPipelines.DefaultStopwords,
      nGram: Int = 5, minScore: Double = 0.45, minWords: Int = 5,
      minJaccard: Double = 0.7, shingleN: Int = 3, seeds: Int = 8,
      bands: Int = 4, id: String = "doc_id", text: String = "text",
      compactThreshold: Int = 64, adoptExisting: Boolean = false)
      (sink: (Dataset[Row], Long) => Unit): StreamingQuery = {
    val runId = StateDir.runIdentity(checkpointDir)
    val paramFp = {
      val sw = java.security.MessageDigest.getInstance("SHA-256")
        .digest(stopwords.mkString("\u0000").getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      s"ng=$nGram,score=$minScore,words=$minWords,j=$minJaccard," +
        s"n=$shingleN,seeds=$seeds,bands=$bands,sw=$sw"
    }
    val P = graft.api.GraftPipelines
    deliver(docs, checkpointDir) { (batch0, batchId) =>
      val spark = batch0.sparkSession
      def phase[T](p: String)(f: => T): T =
        labeled(spark, s"curate[$batchId] $p")(f)
      phase("scheme guard") {
        StateDir.guard(spark, "curationIngest", batchId, runId,
          s"$statePath/scheme", paramFp,
          Seq("digests", "docs", "bands")
            .exists(sub => StateDir.holds(spark, s"$statePath/$sub")),
          "state logs written under two curation policies or hash " +
            "schemes must never mix (missed duplicates and inconsistent " +
            "gates are silent wrong answers)",
          s"the curation state at $statePath",
          "pass adoptExisting = true to deliberately continue ingest " +
            "into this state", adoptExisting)
      }
      def readLog(sub: String, written: DataFrame): DataFrame =
        StateDir.read(spark, s"$statePath/$sub", written.schema)
      val (batch, batchRows) = phase("batch")(ckptCounted(batch0.toDF))
      // 1. decontamination gate (per-doc, vs the persisted eval grams)
      val evalGrams = phase("eval grams")(spark.read.parquet(evalGramsPath))
      val clean = batch.join(
        P.decontaminateAgainstGrams(batch, evalGrams, nGram, id, text)
          .filter(col("is_contaminated") === 1).select(col(id)),
        Seq(id), "left_anti")
      // 2. quality gate (per-doc)
      val kept = clean.join(
        P.qualityScores(clean, stopwords, id, text)
          .filter(col("score") >= minScore && col("n_words") >= minWords)
          .select(col(id)),
        Seq(id), "left_semi")
      // 3. exact dedup: min-id per digest within the batch, then drop
      // the digests the log already holds: its rows matching a
      // broadcast batch digest, counted, are anti-joined (anti-joining
      // the log itself would broadcast or shuffle it: a LeftAnti cannot
      // build its left side)
      val inBatch = kept.withColumn("__digest", md5(col(text)))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("__digest")).orderBy(col(id))))
        .filter(col("__rn") === 1).drop("__rn")
      val digests = batch.select(md5(col(text)).as("digest"))
      val (seen, seenRows) = phase("digest log probe") {
        ckptCounted(readLog("digests", digests)
          .join(broadcastCounted(digests, batchRows), Seq("digest"),
            "left_semi"))
      }
      val exact = phase("exact survivors") {
        inBatch.join(
            broadcastCounted(seen.toDF("__digest"), seenRows),
            Seq("__digest"), "left_anti")
          .localCheckpoint()
      }
      // 4. near-dup: in-batch candidates (d1 < d2) + cross candidates
      // against the band index of ALL prior exact survivors
      val (batchBands, bandRows) = phase("batch bands") {
        ckptCounted(P.bandIndex(exact, shingleN, seeds, bands, id, text))
      }
      val priorBands = readLog("bands", batchBands)
      val priorDocs = readLog("docs", exact.select(col(id), col(text)))
      val inCands = P.bandCandidates(batchBands, id)
      // cross pairs: d2 is ALWAYS the batch member (the prior doc was
      // already emitted) — equals the min-id rule under ordered ingest
      val cross = bandProbe(priorBands.toDF("doc_id", "b"),
          batchBands.toDF("doc_id", "b"), bandRows)
        .select(col("doc_id").as("d1"), col("bid").as("d2"))
      val cands = inCands.unionByName(cross).distinct()
      val universe = priorDocs.select(col(id), col(text))
        .unionByName(exact.select(col(id), col(text)))
      val survivors = phase("near-dup verify") {
        val dropIds = P
          .nearDuplicatesFromCandidates(universe, cands, minJaccard, id, text)
          .select(col("d2").as(id)).distinct()
        exact.join(dropIds, Seq(id), "left_anti")
          .withColumn("n_tokens", size(split(col(text), " ")))
          .drop("__digest")
          .localCheckpoint()
      }
      phase("sink")(sink(survivors, batchId))
      // 5. grow the state by ALL exact survivors (near-dup-dropped ones
      // included — see the chain note above)
      phase("append digest log") {
        appendLog(exact.select(col("__digest").as("digest")),
          s"$statePath/digests", compactThreshold)
      }
      phase("append doc log") {
        appendLog(exact.select(col(id), col(text)), s"$statePath/docs",
          compactThreshold)
      }
      phase("append band log") {
        appendLog(batchBands, s"$statePath/bands", compactThreshold)
      }
    }
  }

  /** Streaming inverted-index maintenance: per micro-batch, append the
    * batch docs' (id, term) posting rows to an append-only parquet log —
    * the segment model of every production search index (writers only
    * append; readers compact). The serving view is
    * [[graft.api.GraftPipelines.invertedIndexFromPostings]] over the log,
    * whose leading distinct makes reads idempotent under foreachBatch
    * replays (a retried batch appends its postings twice, the read-side
    * dedup cancels it). Per-trigger work is O(batch terms) — the corpus
    * is never re-tokenized, and the log grows with corpus content, not
    * with read traffic.
    *
    * State ([[StateDir]], the [[ingestDedupLoop]] shape): the hidden
    * `_scheme` marker pins the tokenization scheme (postings from two
    * tokenizers in one log would make term lookups silently partial);
    * `adoptExisting` as in [[ingestDedupLoop]].
    */
  def indexIngestLoop(docs: DataFrame, postingsPath: String,
      checkpointDir: Option[String] = None, id: String = "doc_id",
      text: String = "text", compactThreshold: Int = 64,
      adoptExisting: Boolean = false)
      (sink: (Dataset[Row], Long) => Unit): StreamingQuery = {
    val runId = StateDir.runIdentity(checkpointDir)
    deliver(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      StateDir.guard(spark, "indexIngestLoop", batchId, runId,
        s"$postingsPath/_scheme", "tok=ws-unigram",
        StateDir.holds(spark, postingsPath),
        "postings from two tokenization schemes must never share one " +
          "log (term lookups would be silently partial)",
        s"the postings log at $postingsPath",
        "pass adoptExisting = true to deliberately continue ingest " +
          "into this log", adoptExisting)
      val postings = graft.api.GraftPipelines
        .postingsOf(batch.toDF, id, text)
        .localCheckpoint()
      appendLog(postings, postingsPath, compactThreshold)
      sink(postings, batchId)
    }
  }

  /** Fold a flat append-only parquet log into a few files once its
    * data-file count exceeds `threshold`: read the CURRENT part files
    * (with the log's `schema`, no inference job), append their DISTINCT
    * rows as one compacted segment, then delete exactly the files that
    * were read — the `rel_compact` small-file discipline applied to
    * streaming log state, so listing cost and file count stay bounded
    * over an unbounded stream.
    *
    * Correct at EVERY instant because every log this serves is
    * duplicate-tolerant by contract (a repeated band row only repeats
    * a probe match, which each loop dedups; the postings read side
    * leads with `distinct`; the doc, digest and tombstone logs feed
    * semi/anti joins): mid-compaction a reader sees old + folded rows,
    * after the deletes only the folded segment, and a crash between
    * append and delete leaves duplicates the NEXT compaction removes.
    * Appending before deleting means the log never passes through an
    * empty or partial state; `distinct` preserves semantics because
    * the only duplicate rows are replay artifacts the readers already
    * cancel. An EXTERNAL reader that listed the log
    * just before a fold can hit a transient missing-file on the
    * deleted segments (the standard log-structured compaction race); a
    * re-planned read succeeds, and the loop's own next trigger always
    * re-lists.
    */
  private def compactDupTolerantLog(spark: SparkSession, path: String,
      schema: StructType, threshold: Int): Unit = {
    val files = StateDir.list(spark, path, "part-")
    if (files.size <= threshold) return
    spark.read.schema(schema).parquet(files: _*)
      .distinct()
      .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 8))
      .write.mode("append").parquet(path)
    StateDir.delete(spark, files)
  }

  /** Append `df` to the flat dup-tolerant log at `path`, then fold the
    * log once it passes `compactThreshold` files
    * ([[compactDupTolerantLog]]).
    */
  private def appendLog(df: DataFrame, path: String,
      compactThreshold: Int): Unit = {
    df.write.mode("append").parquet(path)
    compactDupTolerantLog(df.sparkSession, path, df.schema, compactThreshold)
  }

  /** A `<log>.vold` backup under the chain state means
    * [[graft.operators.DedupOps.vacuumChainState]] crashed between its
    * two swap renames — the live log may be missing or half-swapped,
    * and a loop trigger that appended to it would rebuild the store
    * from just that batch, silently forgetting the corpus. Refuse and
    * name the recovery (re-running the vacuum completes the sweep).
    */
  private def refuseMidVacuum(spark: SparkSession, statePath: String): Unit =
    Seq("bands", "docs", "dels").foreach { log =>
      val vold = s"$statePath/$log.vold"
      if (StateDir.fs(spark, vold).exists(new org.apache.hadoop.fs.Path(vold)))
        throw new IllegalStateException(
          s"upsertLoop: $statePath/$log.vold exists — a vacuum crashed " +
            "mid-swap; re-run DedupOps.vacuumChainState(statePath) to " +
            "recover before resuming the loop")
    }

  /** Streaming k-NN graph maintenance — the streaming twin of the batch
    * `llm_knn_incremental` (whose bucket-locality identity is
    * hash-checked against the full-rebuild oracle), with per-trigger
    * I/O proportional to the DELTA, not the corpus. State under
    * `statePath`:
    *
    *  - `scheme/` — the [[StateDir]] marker: edges built under one
    *    (k, lshBits) bucketing are meaningless under another, so a
    *    widened `lshBits` over existing state refuses and forces a
    *    rebuild; a non-owning query refuses over existing vectors (its
    *    b=0 overwrite would replace the owner's first batch while
    *    stale b=N dirs persist — a mixed-run graph).
    *  - `vectors/b=<batchId>/bucket=<v>/` — each batch's vectors,
    *    bucket-partitioned; append-only corpus expressed as idempotent
    *    per-batch directory overwrites (a replayed batch rewrites only
    *    its own `b=` dir).
    *  - `vectors/c=<batchId>/bucket=<v>/` — the CONSOLIDATED vector
    *    state: once `compactEvery` per-batch `b=` dirs accumulate, the
    *    batch folds the previous consolidation plus every live `b=`
    *    dir into one generation and deletes the inputs, so the
    *    directory walk and small-file count stay O(compactEvery) over
    *    an unbounded stream. The generation publishes through
    *    [[StateDir.publish]], which throws before any input is deleted
    *    if it did not publish; readers take the NEWEST `c=` plus the
    *    `b=` dirs above it, so a crash between publish and delete only
    *    leaves redundant dirs the next compaction removes.
    *  - `edges/bucket=<v>/` — the directed top-k edge table,
    *    partitioned by bucket; a batch rewrites ONLY its touched
    *    buckets' partitions (dynamic partition overwrite — idempotent,
    *    the recompute is deterministic). Already consolidated per
    *    bucket — compaction never needs to touch it.
    *
    * Per micro-batch: touched = the delta's distinct buckets (a
    * bounded, ≤ 2^lshBits set); read PRIOR vectors of touched buckets
    * only (explicit `bucket=<touched>` subdirs of the newest `c=` and
    * the `b=` dirs above it — never this attempt's half-written
    * output, never an untouched bucket); recompute
    * [[graft.api.GraftPipelines.knnEdges]] over that membership ∪
    * delta; overwrite those edge partitions. Untouched buckets'
    * vectors and edges are never read OR written — per-trigger work is
    * Σ touched-bucket² compute plus touched-partition I/O. The prior
    * membership is anti-joined on vec_id against the delta, so a
    * replayed batch whose rows already reached a consolidation cannot
    * double-count them (vector ids must be unique across the stream).
    * The sink sees the CHANGED edges (readers consume the full graph
    * from `edges/` directly). BASELINE round-9 measures the recompute
    * fraction and `llm_lsh_occupancy` is the widen-the-bits signal —
    * and past `maxBucketFraction` occupancy the loop REFUSES a trigger
    * over existing state instead of silently degrading to a rebuild
    * (the measured 8-bit 1:100 pathology in bench_streaming.json).
    */
  def knnMaintenanceLoop(vectors: DataFrame, statePath: String,
      k: Int = 3, lshBits: Int = 8,
      checkpointDir: Option[String] = None, compactEvery: Int = 8,
      maxBucketFraction: Double = 0.5)
      (sink: (Dataset[Row], Long) => Unit = (_, _) => ()): StreamingQuery = {
    val runId = StateDir.runIdentity(checkpointDir)
    deliver(vectors, checkpointDir) { (batch, batchId) =>
      require(compactEvery >= 2,
        s"compactEvery must be >= 2, got $compactEvery")
      val spark = batch.sparkSession
      val vPath = s"$statePath/vectors"
      StateDir.guard(spark, "knnMaintenanceLoop", batchId, runId,
        s"$statePath/scheme", s"k=$k,lshBits=$lshBits",
        StateDir.holds(spark, vPath),
        "edges built under one (k, lshBits) bucketing are meaningless " +
          "under another — continuing would corrupt the graph",
        s"the vector/edge state at $statePath",
        "its b=0 overwrite would silently replace the owner's first " +
          "batch while stale b=N dirs persist — a mixed-run graph")
      val delta = batch.toDF.withColumn("bucket",
          graft.api.GraftPipelines.signLshBucket(col("embedding"), lshBits, 0))
        .localCheckpoint()
      val touchedSet = delta.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSet
      // the measured lshBits-too-narrow degeneration
      // (bench_streaming.json: 8-bit 1:100 triggers approximate a full
      // rebuild because the delta touches nearly every bucket) must
      // REFUSE, not just be documented: once prior state exists, a
      // delta occupying more than `maxBucketFraction` of the 2^lshBits
      // buckets makes the touched-bucket recompute rebuild-scale, so
      // fail loudly before writing anything and name the remedy.
      // Bootstrap seeding (no prior state yet) is exempt — the first
      // fill IS a build, rebuild-scale by definition.
      val cs = StateDir.gens(spark, vPath, "c=")
      val bs = StateDir.gens(spark, vPath, "b=")
      val occupancy = touchedSet.size.toDouble / (1 << lshBits)
      if ((cs.nonEmpty || bs.exists(_._1 < batchId)) &&
          occupancy > maxBucketFraction)
        throw new IllegalStateException(
          f"knnMaintenanceLoop batch $batchId: the delta touches " +
            f"${touchedSet.size}/${1 << lshBits} LSH buckets " +
            f"($occupancy%.2f > maxBucketFraction=$maxBucketFraction) — " +
            "the touched-bucket recompute would approximate a full " +
            "rebuild per trigger; widen lshBits (llm_lsh_occupancy is " +
            "the offline signal) or raise maxBucketFraction to " +
            "deliberately accept rebuild-scale triggers")
      val own = s"$vPath/b=$batchId"
      delta.write.mode("overwrite").partitionBy("bucket").parquet(own)
      // newest consolidation at or below this batch (a replayed batch
      // may find its OWN consolidation already published — the
      // anti-join below makes that safe), then the per-batch dirs
      // strictly between it and this batch
      val cid = cs.map(_._1).filter(_ <= batchId).maxOption.getOrElse(-1L)
      val consolidated = cs.collect { case (c, d) if c == cid => d }
      val live = bs.collect { case (b, d) if b > cid && b < batchId => d }
      // every read declares the written schema; basePath = the top dir
      // itself so `bucket` is the only partition column regardless of
      // b=/c= generation naming
      def vectorsOf(top: String, dirs: Seq[String]): DataFrame =
        spark.read.schema(delta.schema).option("basePath", top)
          .parquet(dirs: _*)
      // per top dir, only the touched buckets' partition subdirs
      val prior = (consolidated ++ live).flatMap { td =>
        val parts = StateDir.gens(spark, td, "bucket=")
          .collect { case (v, p) if touchedSet.contains(v.toInt) => p }
        if (parts.isEmpty) None else Some(vectorsOf(td, parts))
      }.reduceOption(_ unionByName _)
      val members = prior match {
        case None => delta
        case Some(p) => delta.unionByName(
          p.join(delta.select(col("vec_id")), Seq("vec_id"), "left_anti"))
      }
      val recomputed = graft.api.GraftPipelines
        .knnEdges(members.drop("bucket"), k, lshBits)
        .join(members.select(col("vec_id").as("src"), col("bucket")), "src")
        .localCheckpoint()
      recomputed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(s"$statePath/edges")
      // fold b= dirs into a fresh consolidated generation once enough
      // accumulate: inputs = newest c= plus ALL b= in (cid, batchId]
      // (disjoint by the unique-id contract — b= dirs at or below cid
      // are already inside it and are ignored, then swept). Publish
      // BEFORE deleting inputs; a crash in between leaves only
      // redundant dirs that the next compaction's sweep removes.
      if (live.size + 1 >= compactEvery) {
        StateDir.publish(spark, s"$vPath/c=$batchId") { tmp =>
          (consolidated ++ live :+ own).map(td => vectorsOf(td, Seq(td)))
            .reduce(_ unionByName _)
            .write.partitionBy("bucket").parquet(tmp)
        }
        StateDir.delete(spark,
          (bs.collect { case (b, d) if b < batchId => d } :+ own) ++
            cs.collect { case (c, d) if c < batchId => d })
      }
      sink(recomputed.drop("bucket"), batchId)
    }
  }

  /** Streaming classification of incoming embedding vectors against a
    * FROZEN k-means fit — the streaming consumer of the batch serve
    * split's persisted centroids (`SimilarityOps.kmeansFitServed`):
    * per micro-batch, one k-row broadcast and one map-side
    * argmax-cosine pass over the delta
    * ([[graft.api.GraftPipelines.assignToCentroids]], the fit's OWN
    * assignment step, so stream and batch agree bit-for-bit), written
    * to `statePath/assign/b=<batchId>`. No shuffle of history, no
    * refit — per-trigger work is O(delta); the per-batch overwrite
    * directory makes a foreachBatch replay idempotent (at-least-once
    * delivery rewrites the same dir instead of double-appending).
    * Readers consume `statePath/assign` (the `b` partition column
    * records the trigger). State ([[StateDir]]): the marker pins the
    * centroid table's fingerprint (cluster ids + exact float bits), so
    * a restart against DIFFERENT centroids refuses instead of mixing
    * two clusterings in one log, and replay-by-overwrite needs
    * monotonic batch ids, so only the owning run (its original
    * `checkpointDir`) may resume a non-empty log. Vector ids are
    * assumed unique across the stream (the knnMaintenanceLoop
    * contract); the sink sees each trigger's assignment.
    */
  def clusterAssignLoop(vectors: DataFrame, centroids: DataFrame,
      statePath: String, checkpointDir: Option[String] = None)
      (sink: (Dataset[Row], Long) => Unit = (_, _) => ()): StreamingQuery = {
    // Materialize the fit ONCE on the DRIVER (k rows) and rebuild the
    // frame from the collected rows: a localCheckpoint here would park
    // the k-row blocks non-reliably on executors, and over a streaming
    // query's indefinite life any executor loss drops them — every
    // later micro-batch then dies with missing-block errors instead of
    // recomputing. A LocalRelation built from the driver-held rows
    // broadcasts fresh each trigger and survives anything short of
    // driver loss; fingerprint and assignments both derive from the
    // SAME single materialization (collecting the lazy plan twice
    // could pin bits from two different Lloyd runs).
    val centRows = centroids.collect()
    val cent = centroids.sparkSession.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centroids.schema)
    val fp = {
      val rows = cent.select(col("cluster").cast("int"), col("c"))
        .collect()
        .map(r => s"${r.getInt(0)}:" + r.getSeq[Float](1)
          .map(java.lang.Float.floatToRawIntBits).mkString(","))
        .sorted.mkString("|")
      require(rows.nonEmpty,
        "clusterAssignLoop needs a non-empty centroid table — an empty " +
          "fit would pin an empty-string fingerprint and log zero-row " +
          "assignments forever (check the centroids path/fit)")
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val runId = StateDir.runIdentity(checkpointDir)
    deliver(vectors, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      StateDir.guard(spark, "clusterAssignLoop", batchId, runId,
        s"$statePath/scheme", fp,
        StateDir.holds(spark, s"$statePath/assign"),
        "the fingerprint pins the centroid table (cluster ids + exact " +
          "float bits) — mixing two clusterings in one assignment log " +
          "would be a silent wrong answer",
        s"the assignment log at $statePath/assign",
        "its b=0 write would silently overwrite the prior run's first " +
          "batch while stranding its later ones")
      val asg = graft.api.GraftPipelines
        .assignToCentroids(batch.toDF, cent)
        .select(col("vec_id"), col("cluster"), col("ccos"))
      val own = s"$statePath/assign/b=$batchId"
      asg.write.mode("overwrite").parquet(own)
      sink(StateDir.read(spark, own, asg.schema), batchId)
    }
  }

  /** Streaming maintenance of the near-dup cluster chain — the ONE
    * loop for ingest and takedown, in the shape a real recurring
    * pipeline has (docs arrive and right-to-be-forgotten requests land
    * in the same window), and the cluster-level upgrade of
    * [[ingestDedupLoop]]'s per-doc flags. Each micro-batch carries rows
    * `(op, doc_id, text)` with op = 'add' (text = document) or 'del'
    * (text ignored): an ingest stream is all `('add', id, text)` rows,
    * a takedown stream all `('del', id, null)` rows. State bootstraps
    * EMPTY; production seeds a chain by streaming the initial corpus in
    * as adds, the same code path every later batch takes.
    *
    * Per trigger only the batch's adds are shingled/hashed; candidates
    * come from the batch bands probing the accumulated band store
    * (every candidate has a batch endpoint — old↔old pairs are already
    * in the chain), and the verify reads the texts of the candidate
    * docs only. The chain step is the batch algebra
    * [[graft.operators.DedupOps.chainStep]] (oracle-checked as
    * `llm_dedup_upsert`, `llm_dedup_retract` and
    * `llm_dup_clusters_incremental`), one pass per trigger whatever the
    * op mix: surviving pairs by anti-join, untouched components' labels
    * straight through, and connected components re-run once over the
    * components a deleted doc or a new pair touches (a deleted bridge
    * SPLITS its component, a new doc bridging two clusters MERGES
    * them) plus the batch's verified pairs; the pairs publish as
    * kept ∪ new. A one-sided batch passes its empty side as an empty
    * local frame, so that side's joins drop out at planning.
    *
    * State under `statePath`:
    *
    *  - `scheme/` — the [[StateDir]] marker: hash scheme plus the
    *    log layout (`store=flat`, so state written under the retired
    *    hash-bucketed layout refuses here instead of failing later on a
    *    mixed directory read) and the owning run; a non-owning query
    *    refuses at batch 0 over maintained state.
    *  - `bands/`, `docs/` — the added docs' band rows and (id, text)
    *    rows as flat dup-tolerant append logs, each folded by
    *    [[compactDupTolerantLog]] once its file count passes
    *    `compactThreshold`. A trigger reads both logs whole but never
    *    shuffles them: the band log streams through the broadcast probe
    *    ([[graft.api.GraftPipelines.bandProbe]]) and the doc log
    *    through the verify's broadcast candidate-id semi join. The
    *    candidates are not deduplicated: an in-batch pair is matched
    *    from both endpoints, once per shared band, and a replayed
    *    batch's double-append or a mid-compaction read only repeats
    *    candidate rows too; each repeat only repeats a verified pair
    *    row, and the chain step deduplicates the new pairs.
    *  - `dels/` — the tombstone log: deleted doc ids, appended per
    *    batch, folded the same way. The band READ anti-joins it, so a
    *    deleted doc can never generate another candidate pair (nor
    *    have its text verified); the rows physically persist until
    *    [[graft.operators.DedupOps.vacuumChainState]] rewrites the
    *    logs offline and takes the text off disk (the tombstone model
    *    of log-structured stores: a read-side filter plus eventual
    *    compaction, never an in-place scrub).
    *  - `chain/g=<id>/{pairs,labels}` — one generation per trigger (id
    *    = batchId; an empty `g=-1` at bootstrap). A batch reads the
    *    newest generation BELOW its id, publishes its own through
    *    [[StateDir.publish]] (never deleting a live generation), and
    *    folds older generations only AFTER the sink returns. A replay
    *    landing on its OWN published generation therefore skips the
    *    recompute — the chain step is deterministic, so the published
    *    content is final — and re-delivers the delta from stable files
    *    while the pre-publish generation still exists, or an empty
    *    frame once the fold already committed (at-least-once
    *    delivery). No path ever deletes the newest generation, so a
    *    crash can neither drop ingested docs nor resurrect taken-down
    *    ones.
    *
    * Contracts: doc ids are never reused after deletion (tombstones
    * are permanent), and one batch must not both add and delete the
    * same id — ENFORCED, the batch fails loudly. (No apply order
    * rescues that case: tombstones land before candidate generation,
    * so the delete would win on the corpus side while the batch-band
    * probe side could still pair the doc — an inconsistent chain,
    * which is why the loop refuses instead of picking a winner.) The
    * sink sees the label-map DELTA as `(doc_id, cluster_id, op)` rows —
    * op 'add' for rows entering the map (new docs, merge relabels,
    * split relabels) and 'del' for rows leaving it; readers consume the
    * newest `chain/g=` generation directly.
    */
  def upsertLoop(ops: DataFrame, statePath: String,
      checkpointDir: Option[String] = None, minJaccard: Double = 0.7,
      shingleN: Int = 3, seeds: Int = 8, bands: Int = 4,
      compactThreshold: Int = 64)
      (sink: (Dataset[Row], Long) => Unit = (_, _) => ()): StreamingQuery = {
    val runId = StateDir.runIdentity(checkpointDir)
    deliver(ops, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val chainRoot = s"$statePath/chain"
      val listed = StateDir.gens(spark, chainRoot, "g=").map(_._1)
      // store=flat: state written under the retired bucketed layout
      // (store=pb<N>) refuses here, before any append
      labeled(spark, s"upsert[$batchId] scheme guard") {
        StateDir.guard(spark, "upsertLoop", batchId, runId,
          s"$statePath/scheme",
          s"j=$minJaccard,n=$shingleN,seeds=$seeds,bands=$bands," +
            "store=flat",
          listed.nonEmpty || Seq("bands", "docs", "dels")
            .exists(sub => StateDir.holds(spark, s"$statePath/$sub")),
          "bands/pairs from two hash schemes must never mix",
          s"the maintained chain at $chainRoot",
          "rewinding the chain would drop ingested docs and resurrect " +
            "taken-down ones")
      }
      refuseMidVacuum(spark, statePath)
      // every state read declares the schema the loop writes
      def read(path: String, ddl: String): DataFrame =
        StateDir.read(spark, path, StructType.fromDDL(ddl))
      def labels(g: Long) =
        read(s"$chainRoot/g=$g/labels", "doc_id long, cluster_id long")
      def publishGen(id: Long, pairs: DataFrame, labels: DataFrame): Unit =
        StateDir.publish(spark, s"$chainRoot/g=$id") { tmp =>
          pairs.write.parquet(s"$tmp/pairs")
          labels.write.parquet(s"$tmp/labels")
        }
      if (listed.isEmpty)
        labeled(spark, s"upsert[$batchId] bootstrap chain") {
          publishGen(-1L, Seq.empty[(Long, Long)].toDF("d1", "d2"),
            Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"))
        }
      val allGens = if (listed.isEmpty) Seq(-1L) else listed
      def deliverDelta(delta: => DataFrame): Unit =
        labeled(spark, s"upsert[$batchId] delta sink")(sink(delta, batchId))
      def emptyDelta() = Seq.empty[(Long, Long, String)]
        .toDF("doc_id", "cluster_id", "op")
      def labelDelta(published: DataFrame, prior: DataFrame): DataFrame =
        published.join(prior, Seq("doc_id", "cluster_id"), "left_anti")
          .select(col("doc_id"), col("cluster_id"), lit("add").as("op"))
          .unionByName(
            prior.join(published, Seq("doc_id", "cluster_id"), "left_anti")
              .select(col("doc_id"), col("cluster_id"),
                lit("del").as("op")))
      // folds the generations below this batch's, once the sink saw it
      def foldOlderGens(): Unit = StateDir.delete(spark,
        allGens.filter(_ < batchId).map(g => s"$chainRoot/g=$g"))
      val priorBelow = allGens.filter(_ < batchId).maxOption
      if (allGens.contains(batchId)) {
        // REPLAY onto own published generation (the first attempt
        // crashed after publish): the content is final and recovery is
        // a pure read — the delta from stable files while the
        // pre-publish generation survives, else the sink already saw it
        priorBelow match {
          case Some(p) =>
            deliverDelta(labelDelta(labels(batchId), labels(p)))
            foldOlderGens()
          case None => deliverDelta(emptyDelta())
        }
      } else {
      // an unrecognized op must fail the batch, not silently drop the
      // row — a typo'd 'delete' swallowed here would be a takedown
      // that never happened. The explicit isNull arm matters: under
      // three-valued logic `!isin` is NULL for a null op, so without
      // it a null-op row would pass neither this check nor the
      // adds/dels filters below — the exact silent drop this guard
      // exists to prevent.
      val isBad = col("op").isNull || !col("op").isin("add", "del")
      // the batch checkpoint counts its rows, bad ops, adds and deletes
      // as it materializes (Dataset.observe — no job of its own); the
      // detailed limit-5 collects that name offending values run only
      // on the (rare) violation path
      val counts = org.apache.spark.sql.Observation()
      val b = labeled(spark, s"upsert[$batchId] guard") {
        batch.toDF.select(
          lower(col("op")).cast("string").as("op"),
          col("doc_id").cast("long").as("doc_id"),
          col("text").cast("string").as("text"))
          .observe(counts, count(lit(1)).as("rows"),
            count(when(isBad, 1)).as("bad"),
            count(when(col("op") === "add", 1)).as("adds"),
            count(when(col("op") === "del", 1)).as("dels"))
          .localCheckpoint()
      }
      def counted(name: String) = counts.get(name).asInstanceOf[Long]
      val batchEmpty = counted("rows") == 0L
      val addsEmpty = counted("adds") == 0L
      val delsEmpty = counted("dels") == 0L
      val adds = b.filter(col("op") === "add").drop("op")
      // dup-tolerant everywhere it goes (tombstone log, anti/semi-joins);
      // an add-only batch's is an empty local frame, like a delete-only
      // batch's new pairs below, so the chain step's joins on it drop
      // out at planning
      val dels =
        if (delsEmpty) Seq.empty[Long].toDF("del_id")
        else b.filter(col("op") === "del").select(col("doc_id").as("del_id"))
      if (counted("bad") > 0L) {
        val badOps = b.filter(isBad).limit(5).collect()
        require(badOps.isEmpty,
          s"upsertLoop batch $batchId: unrecognized op value(s) " +
            s"${badOps.map(r => String.valueOf(r.getString(0))).distinct
              .mkString(", ")} — only 'add' and 'del' are defined")
      }
      // same-batch add+del of one id fails HERE (no apply order is
      // consistent — see Contracts above). A counted batch under the
      // cap is intersected on the driver from one collect of its ids; a
      // larger one semi-joins.
      if (!addsEmpty && !delsEmpty) {
        val addDel = labeled(spark, s"upsert[$batchId] add+del guard") {
          if (counted("rows") <= BroadcastRowCap) {
            val (a, d) = b.filter(col("doc_id").isNotNull)
              .select(col("op") === "add", col("doc_id")).collect()
              .map(r => (r.getBoolean(0), r.getLong(1))).partition(_._1)
            a.map(_._2).intersect(d.map(_._2)).distinct.take(5)
          } else adds.select(col("doc_id"))
            .join(dels, col("doc_id") === col("del_id"), "left_semi")
            .limit(5).collect().map(_.getLong(0))
        }
        require(addDel.isEmpty,
          s"upsertLoop batch $batchId: doc id(s) " +
            s"${addDel.mkString(", ")} appear as BOTH " +
            "add and del in one batch — the contract forbids it (split " +
            "the ops across batches: del then add re-uses a tombstoned " +
            "id, which is also forbidden)")
      }
      if (!batchEmpty) {
        // tombstones first: appended before any read, so this batch's
        // own candidate generation already excludes them
        if (!delsEmpty) {
          labeled(spark, s"upsert[$batchId] append tombstones") {
            appendLog(dels, s"$statePath/dels", compactThreshold)
          }
        }
        val newPairs =
          if (addsEmpty)
            (Seq.empty[(Long, Long)].toDF("d1", "d2"), 0L)
          else {
            // the tombstone set: the whole dels/ log in one checkpoint,
            // its count observed as it materializes; no distinct, as its
            // one reader (the probe's counted-broadcast anti-join)
            // ignores a repeated id
            val delsLog = s"$statePath/dels"
            val tombs =
              if (!StateDir.holds(spark, delsLog)) None
              else labeled(spark, s"upsert[$batchId] tombstone set") {
                Some(ckptCounted(read(delsLog, "del_id long")))
              }
            val (batchBands, bandRows) = labeled(spark,
                s"upsert[$batchId] batch bands") {
              ckptCounted(graft.api.GraftPipelines
                .bandIndex(adds, shingleN, seeds, bands))
            }
            labeled(spark, s"upsert[$batchId] append band log") {
              appendLog(batchBands, s"$statePath/bands", compactThreshold)
            }
            labeled(spark, s"upsert[$batchId] append doc log") {
              appendLog(adds, s"$statePath/docs", compactThreshold)
            }
            // the batch bands probe the band log (which already holds
            // them, so in-batch pairs surface too) with the tombstones
            // excluded, so a deleted doc never generates another
            // candidate; the verify restricts the whole doc log to the
            // candidates' (tombstone-clean) ids
            labeled(spark, s"upsert[$batchId] verify") {
              graft.api.GraftPipelines.verifiedPairs(
                read(s"$statePath/docs", "doc_id long, text string"),
                probePairs(bandProbe(read(s"$statePath/bands",
                  "doc_id long, b string"), batchBands, bandRows, tombs)),
                minJaccard)
            }
          }
        val prior = priorBelow.get // bootstrap guaranteed g=-1
        val pLabels = labels(prior)
        val (nextPairs, nextLabels) =
          labeled(spark, s"upsert[$batchId] chain step (CC)") {
            graft.operators.DedupOps.chainStep(spark,
              read(s"$chainRoot/g=$prior/pairs", "d1 long, d2 long"), pLabels,
              (dels, counted("dels")), newPairs)
          }
        labeled(spark, s"upsert[$batchId] publish") {
          publishGen(batchId, nextPairs, nextLabels)
        }
        deliverDelta(labelDelta(labels(batchId), pLabels))
        foldOlderGens()
      } else deliverDelta(emptyDelta())
      }
    }
  }

  /** Streaming MERGE/upsert maintenance: keep a keyed snapshot current
    * against an update stream — the streaming twin of the batch
    * `rel_merge_upsert` ([[graft.operators.MaintenanceOps]]). Per
    * micro-batch:
    *
    *  1. reduce the batch to its latest update per key (`seq` orders
    *     versions within a key; it must be non-null and unique per key
    *     within a batch, the usual event-version contract — ENFORCED:
    *     a violating batch fails the query rather than silently picking
    *     an arbitrary winner);
    *  2. read the PREVIOUS snapshot version — the greatest `v=` dir
    *     strictly below this batchId, never one this attempt may have
    *     half-written, so a foreachBatch replay re-reads intact input
    *     and overwrites only its own output: exactly-once by
    *     idempotent rewrite;
    *  3. full-outer merge on the key, entire-row latest-wins;
    *  4. write snapshot `v=batchId` — copy-on-write versioning, the
    *     model production table formats use (old versions remain for
    *     time travel until vacuumed).
    *
    * At 100 TB the per-trigger merge is the same keyed full-outer
    * shuffle as the batch form (partition-prunable to touched keys);
    * the version listing is a metadata-only FS call.
    */
  def snapshotUpsertLoop(updates: DataFrame, snapshotPath: String,
      key: String, seq: String, checkpointDir: Option[String] = None)
      (sink: (Dataset[Row], Long) => Unit = (_, _) => ()): StreamingQuery = {
    val runId = StateDir.runIdentity(checkpointDir)
    deliver(updates, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      // State ([[StateDir]], hidden `_scheme` so plain readers of v=
      // dirs never see it): the (key, seq) columns pin the merge
      // semantics, and a foreign run restarts its versions at v=0, so
      // its first merge would read NO prior version and silently
      // re-bootstrap the snapshot from empty — total state loss.
      val versions = StateDir.gens(spark, snapshotPath, "v=").map(_._1)
      StateDir.guard(spark, "snapshotUpsertLoop", batchId, runId,
        s"$snapshotPath/_scheme", s"key=$key,seq=$seq", versions.nonEmpty,
        "merging under different (key, seq) columns would corrupt " +
          "latest-wins semantics",
        s"the snapshot at $snapshotPath",
        "its v=0 merge would read no prior version and silently " +
          "re-bootstrap the snapshot from empty")
      val cols = batch.toDF.columns.toSeq
      // Latest-wins is only well-defined when every update carries a
      // non-null seq and (key, seq) is unique within the batch. A null
      // seq would sort last and silently lose; a duplicate (key, seq)
      // would let row_number pick a nondeterministic winner. Fail
      // loudly instead — one small agg job over the micro-batch.
      val viol = batch.toDF.agg(
        sum(when(col(seq).isNull, 1L).otherwise(0L)).as("nulls"),
        (count(lit(1)) - countDistinct(col(key), col(seq))).as("dups"))
        .head()
      require(viol.isNullAt(0) || viol.getLong(0) == 0L,
        s"snapshotUpsertLoop batch $batchId: ${viol.getLong(0)} update " +
          s"row(s) with null $seq — latest-wins undefined")
      require(viol.getLong(1) == 0L,
        s"snapshotUpsertLoop batch $batchId: ${viol.getLong(1)} duplicate " +
          s"($key, $seq) pair(s) — latest-wins ambiguous")
      val latest = batch.toDF
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(key)).orderBy(col(seq).desc)))
        .filter(col("__rn") === 1).drop("__rn")
        // Non-null presence marker: the full-outer side test must not
        // ride on a data column (a null there would misread "absent").
        .withColumn("__upd", lit(true))
      val current = versions.filter(_ < batchId).maxOption match {
        case Some(v) =>
          StateDir.read(spark, s"$snapshotPath/v=$v", batch.toDF.schema)
        case None => batch.toDF.limit(0)
      }
      val updatePresent = col("u.__upd").isNotNull
      val merged = current.as("t").join(latest.as("u"),
          col(s"t.$key") === col(s"u.$key"), "full_outer")
        .select(cols.map(c =>
          when(updatePresent, col(s"u.$c")).otherwise(col(s"t.$c")).as(c)): _*)
      val own = s"$snapshotPath/v=$batchId"
      merged.write.mode("overwrite").parquet(own)
      sink(StateDir.read(spark, own, merged.schema), batchId)
    }
  }

  /** The ONE state discipline every stateful maintenance loop shares
    * (ingest dedup, curation, inverted index, knn graph, cluster-assign,
    * near-dup chain, snapshot upsert): an ownership guard, a generation
    * listing, a crash-safe publish and a declared-schema read. Each loop
    * keeps its own contract text; this object owns the mechanism.
    *
    * The guard pins a 1-row parquet marker `(fp, run)` next to the
    * loop's state:
    *
    *  - `fp` — the parameter fingerprint the state was built under
    *    (hash seeds, band counts, centroid bits, key/seq columns …).
    *    State written under one scheme is meaningless — or silently
    *    WRONG — when read under another, so a mismatched restart must
    *    fail loudly, never mix.
    *  - `run` — the identity of the query that owns the state: its
    *    `checkpointDir` when given (stable across restarts — the
    *    resume IS the same run), else a per-invocation UUID. A query
    *    that does not own existing state restarts its batch ids at 0,
    *    and what batch 0 does to maintained state is loop-specific but
    *    always bad: per-batch-id overwrites clobber the owner's first
    *    batch, generation chains rewind to the seed, snapshots
    *    re-bootstrap from empty. [[guard]] makes each of those a loud
    *    refusal at batch 0.
    *
    * Publication ([[publish]]) is atomic (the GraftIO.buildOnce
    * discipline in Hadoop-FS terms): build in a pid-private temp dir,
    * publish with one rename — a crash mid-write leaves only a swept
    * tmp dir, never a torn marker, generation or consolidation.
    */
  private[streaming] object StateDir {
    import org.apache.hadoop.fs.Path

    def fs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
      new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** Run identity of the invoking query: the checkpointDir when
      * given (restarts resume it — same run), else a fresh UUID (an
      * un-checkpointed query can never prove ownership across
      * restarts, so each invocation is its own run).
      */
    def runIdentity(checkpointDir: Option[String]): String =
      checkpointDir.getOrElse(
        s"uncheckpointed-${java.util.UUID.randomUUID()}")

    private def entries(spark: SparkSession, dir: String): Seq[String] =
      try fs(spark, dir).listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }

    /** The paths of the entries of `dir` named `<prefix>…`; none when
      * `dir` is absent.
      */
    def list(spark: SparkSession, dir: String, prefix: String): Seq[String] =
      entries(spark, dir).filter(_.startsWith(prefix)).map(n => s"$dir/$n")

    /** The generations `<prefix><id>` under `dir` (`g=`, `v=`, `b=`,
      * `c=`, `bucket=`) as (id, path); none when `dir` is absent. Temp
      * dirs ([[publish]]) never match: their names lead with `_` or
      * carry no `=`.
      */
    def gens(spark: SparkSession, dir: String, prefix: String)
        : Seq[(Long, String)] =
      entries(spark, dir).filter(_.startsWith(prefix))
        .map(n => n.stripPrefix(prefix).toLong -> s"$dir/$n")

    /** Delete `paths`, files or whole directories. */
    def delete(spark: SparkSession, paths: Seq[String]): Unit =
      paths.foreach(p => fs(spark, p).delete(new Path(p), true))

    /** Whether `dir` holds data a Spark reader sees: an entry not
      * hidden by a leading `_` or `.` (markers, temp dirs, `_SUCCESS`
      * and checksums are hidden). The state-exists predicate of the
      * ownership checks.
      */
    def holds(spark: SparkSession, dir: String): Boolean =
      entries(spark, dir).exists(n => !n.startsWith("_") && !n.startsWith("."))

    /** The state at `path`, read with the schema it was written in (no
      * inference job); an empty frame of that schema while `path`
      * holds no data.
      */
    def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
      if (holds(spark, path)) spark.read.schema(schema).parquet(path)
      else spark.createDataFrame(java.util.List.of[Row](), schema)

    /** Publish-if-absent: `write` fills a pid-private temp dir, stale
      * temp dirs of the same name from crashed attempts are swept
      * first, and ONE rename publishes it at `dst`. A generation
      * `<p>=<id>` stages in `_<p>.tmp-<pid>` (hidden from [[gens]] and
      * from Spark readers of the parent), any other name in
      * `<name>.tmp-<pid>`. Returns whether this call published; false
      * when `dst` already existed (a replay: the recompute is
      * deterministic, so the live content is the same) or a concurrent
      * publisher won. Hadoop-FS wrinkle: rename(src, dst) onto an
      * EXISTING directory moves src INTO dst and returns true (HDFS
      * and RawLocalFileSystem alike), so a loser's temp can land nested
      * under the winner — where its parquet files would read back as
      * extra rows. The nested copy is removed. A rename that left
      * nothing at `dst` throws, before the caller deletes any input
      * the publish was to replace.
      */
    def publish(spark: SparkSession, dst: String)(write: String => Unit)
        : Boolean = {
      val fs = StateDir.fs(spark, dst)
      val d = new Path(dst)
      if (fs.exists(d)) return false
      val stem =
        if (d.getName.contains('=')) "_" + d.getName.takeWhile(_ != '=')
        else d.getName
      delete(spark, list(spark, d.getParent.toString, s"$stem.tmp-"))
      val tmp = new Path(d.getParent,
        s"$stem.tmp-${ProcessHandle.current().pid()}")
      write(tmp.toString)
      val nested = new Path(d, tmp.getName)
      val published = fs.rename(tmp, d) && !fs.exists(nested)
      if (!published) { fs.delete(nested, true); fs.delete(tmp, true) }
      if (!published && !fs.exists(d))
        throw new IllegalStateException(
          s"publish: rename $tmp -> $dst failed — refusing to continue " +
            "against unpublished state (its inputs are kept)")
      published
    }

    /** Per-JVM memo of SUCCESSFUL marker validations, keyed by the full
      * (markerPath, fp, runId) triple and holding the pinned run. A
      * marker is write-once, so re-reading it every micro-batch is pure
      * trigger floor; a DIFFERENT run or fp misses the memo and meets
      * the full validation. Each hit re-takes the marker's
      * [[graft.sources.GraftIO.stamp]] (one FS listing, no job): a
      * cleared marker, or one wiped and re-minted under another scheme
      * at the same path, falls back to full validation.
      */
    private val validated = new java.util.concurrent.ConcurrentHashMap[
      String, (Option[String], GraftIO.Stamp)]()

    /** Every marker column ever written: a legacy knnMaintenanceLoop
      * marker carries bare `k`/`lsh_bits` instead of `fp`, and reads
      * back as the equivalent `k=…,lshBits=…` fingerprint.
      */
    private val markerSchema =
      StructType.fromDDL("fp string, run string, k int, lsh_bits int")

    /** The ownership guard, one call per trigger. Publishes the marker
      * at `markerPath` when absent (a bootstrap: the write is the one
      * job — what this run just published needs no read-back), else
      * requires its pinned fingerprint equals `fp` (`mismatch` names
      * the consequence). Then the batch-0 gate: a query whose run
      * identity differs from the pinned one, starting at batch 0 over
      * existing state, refuses with `what` and `foreign` instead of
      * silently corrupting the owner's state. Only batch 0 gates: the
      * owning run's replays and resumes carry the pinned identity, and
      * later batch ids only exist under the owning checkpoint. A
      * marker predating the run column pins no owner, which counts as
      * foreign — loud, never silent.
      *
      * A marker is only MINTED over genuinely empty state: when
      * `stateExists` (evaluated lazily, an FS listing) reports state
      * but no marker — pre-marker-era state, or a state dir whose
      * marker was lost — minting would pin the CURRENT run as owner
      * and the batch-0 refusal could never fire, so the guard refuses
      * instead. `adoptExisting` (the append-log loops' caller flag)
      * names the deliberate continuation and skips both refusals; the
      * generation/chain loops never adopt — markerless chain state
      * forces an explicit rebuild or a fresh statePath.
      */
    def guard(spark: SparkSession, loop: String, batchId: Long,
        runId: String, markerPath: String, fp: String,
        stateExists: => Boolean, mismatch: String, what: String,
        foreign: String, adoptExisting: Boolean = false): Unit = {
      import spark.implicits._
      val fs = StateDir.fs(spark, markerPath)
      val marker = new Path(markerPath)
      val memoKey = s"$markerPath|$fp|$runId"
      val memoHit = validated.get(memoKey)
      val pinnedRun =
        if (memoHit != null && memoHit._2 == GraftIO.stamp(fs, marker))
          memoHit._1.orNull
        else {
          val published = !fs.exists(marker) && {
            if (stateExists && !adoptExisting)
              throw new IllegalStateException(
                s"$loop: state files already exist under " +
                  s"${marker.getParent} but no scheme marker does — " +
                  "minting one would make this run the owner and silence " +
                  "the foreign-run refusal over state it never built; " +
                  "pass adoptExisting = true (append-log loops) to " +
                  "continue deliberately, or use a fresh statePath")
            publish(spark, markerPath)(tmp =>
              Seq((fp, runId)).toDF("fp", "run").write.parquet(tmp))
          }
          // stamp BEFORE the read: a re-mint racing it leaves a stale
          // stamp, which the next call re-validates
          val stamp = GraftIO.stamp(fs, marker)
          val run =
            if (published) runId
            else {
              val m = spark.read.schema(markerSchema).parquet(markerPath)
                .head()
              val pinnedFp =
                if (!m.isNullAt(0)) m.getString(0)
                else if (!m.isNullAt(2) && !m.isNullAt(3))
                  s"k=${m.getInt(2)},lshBits=${m.getInt(3)}"
                else sys.error(
                  s"$loop: unrecognizable scheme marker at $markerPath")
              require(pinnedFp == fp,
                s"$loop state at $markerPath was built under a different " +
                  s"scheme (pinned $pinnedFp, got $fp) — $mismatch; " +
                  "rebuild the state or restore the original parameters")
              m.getString(1)
            }
          validated.put(memoKey, (Option(run), stamp))
          run
        }
      if (!adoptExisting && batchId == 0 && pinnedRun != runId &&
          stateExists)
        throw new IllegalStateException(
          s"$loop: $what is owned by a different run " +
            s"(pinned ${Option(pinnedRun).getOrElse("<legacy marker>")}, " +
            s"got $runId) but this query starts at batch 0 — " +
            s"$foreign; resume with the original checkpointDir or use a " +
            "fresh statePath")
    }
  }

  /** Incremental delivery via foreachBatch — the caller's sink sees each
    * micro-batch as (batchDF, batchId), the non-blocking poll loop of the
    * reference UI (src/main.cpp:1273) in Spark form. Pass a
    * `checkpointDir` and a restarted query resumes exactly where the
    * previous run stopped (source offsets + state recovered — files
    * already delivered are never reprocessed), the property that makes
    * incremental delivery restartable over a 100 TB backlog.
    */
  def deliver(df: DataFrame, checkpointDir: Option[String] = None)
      (sink: (Dataset[Row], Long) => Unit): StreamingQuery = {
    val w = df.writeStream
      .outputMode(appendMode)
      .foreachBatch(sink)
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Bounded catch-up run (Trigger.AvailableNow): process everything the
    * source holds AT START — respecting its rate limits across as many
    * micro-batches as that takes, unlike the deprecated Trigger.Once —
    * then terminate on its own. This is the nightly-backfill primitive:
    * the same streaming query, checkpoint, and sink as the live run,
    * executed as a finite job. With a `checkpointDir`, a later backfill
    * resumes from the recorded offsets and processes ONLY files that
    * arrived since — exactly-once across runs, which is what lets a
    * 100 TB backlog drain in resumable rate-limited slices.
    */
  def backfill(df: DataFrame, checkpointDir: Option[String] = None)
      (sink: (Dataset[Row], Long) => Unit): StreamingQuery = {
    val w = df.writeStream
      .outputMode(appendMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(sink)
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }
}
