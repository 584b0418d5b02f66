package graft

import org.apache.spark.sql.DataFrame

/** Dedup family on synthetic near-duplicates (the sf corpus has none, by
  * construction — these fixtures prove the detectors actually fire).
  */
class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*): DataFrame =
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = base.replace("today", "tomorrow")
  private val distinct = "completely different words appear in this sentence about spark engines"

  test("llm_dedup_exact: identical texts collapse to one keeper") {
    val dir = tempSfDir("documents" ->
      docs((1L, base, "s0"), (2L, base, "s0"), (3L, distinct, "s0")))
    val rows = q("llm_dedup_exact", dir).collect()
    assert(rows.length == 2)
    val dup = rows.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keeper") == 1L)
  }

  test("llm_minhash_pairs: exact and near duplicates are candidates, distinct docs are not") {
    val dir = tempSfDir("documents" ->
      docs((1L, base, "s0"), (2L, base, "s0"), (3L, nearDup, "s0"),
        (4L, distinct, "s0")))
    val pairs = q("llm_minhash_pairs", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "identical docs must share all bands")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "one-word-change near-dup should share a band")
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L },
      "distinct doc must not be a candidate")
  }

  test("incrementalDedup: batch docs flag against corpus only, never each other") {
    // corpus: 1 (base), 2 (distinct). batch: 10 (copy of base — must flag),
    // 11 (near-dup of base — should flag), 12 (unique — must survive),
    // 13 (copy of 12 — batch↔batch dup, must NOT flag: only corpus counts)
    val unique = "entirely novel content that matches nothing else in any split"
    val corpus = docs((1L, base, "s0"), (2L, distinct, "s0"))
    val batch = docs((10L, base, "s0"), (11L, nearDup, "s0"),
      (12L, unique, "s0"), (13L, unique, "s0"))
    val out = api.GraftPipelines.incrementalDedup(corpus, batch).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Long]("n_corpus_dups"), r.getAs[Int]("is_new"))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L))
    assert(out(10L)._1 >= 1 && out(10L)._2 == 0,
      "exact copy of a corpus doc must flag")
    assert(out(11L)._1 >= 1 && out(11L)._2 == 0,
      "near-dup of a corpus doc should share a band")
    assert(out(12L) == (0L, 1) && out(13L) == (0L, 1),
      "batch-internal duplicates must not flag each other")
  }

  test("incrementalDedup: persisted band index round-trips; empty corpus passes all") {
    val unique = "entirely novel content that matches nothing else in any split"
    val corpus = docs((1L, base, "s0"), (2L, distinct, "s0"))
    val batch = docs((10L, base, "s0"), (11L, unique, "s0"))
    // index written to parquet and read back must give the same verdicts
    // as indexing in-flight — the recurring-ingest contract
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_band_idx").toString + "/idx"
    sources.GraftIO.writeParquet(
      api.GraftPipelines.bandIndex(corpus), idxPath)
    val fromIndex = api.GraftPipelines
      .incrementalDedupWithIndex(spark.read.parquet(idxPath), batch)
      .collect().map(r => r.getAs[Long]("batch_id") -> r.getAs[Int]("is_new"))
      .toMap
    val direct = api.GraftPipelines.incrementalDedup(corpus, batch)
      .collect().map(r => r.getAs[Long]("batch_id") -> r.getAs[Int]("is_new"))
      .toMap
    assert(fromIndex == direct && fromIndex == Map(10L -> 0, 11L -> 1))
    // first ingest: empty corpus → every batch doc survives
    val first = api.GraftPipelines.incrementalDedup(docs(), batch)
      .collect().map(_.getAs[Int]("is_new"))
    assert(first.length == 2 && first.forall(_ == 1))
  }

  test("llm_simhash: identical docs get identical hashes (hamming 0 pair)") {
    val dir = tempSfDir("documents" ->
      docs((1L, base, "s0"), (2L, base, "s0"), (3L, distinct, "s1")))
    val sims = q("llm_simhash", dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(2L))
    val pairs = q("llm_simhash_pairs", dir).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getAs[Int]("hamming") == 0))
  }

  test("llm_simhash_pairs_wide: widened 16-bit blocks find the exact " +
      "same pair list as the 8-bit scheme (both lossless)") {
    // real corpus, not a micro fixture: sf0.001 has genuine near-dup
    // structure, so the equality is over a non-trivial pair set
    val narrow = q("llm_simhash_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))).toSet
    val wide = q("llm_simhash_pairs_wide").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))).toSet
    assert(narrow.nonEmpty, "fixture corpus must contain simhash pairs")
    assert(wide == narrow,
      s"wide-block pairs must equal 8-bit-block pairs; " +
        s"only-wide=${(wide -- narrow).take(3)} " +
        s"only-narrow=${(narrow -- wide).take(3)}")
  }

  // served-path equality with a useful failure message: print the rows
  // on exactly one side (the likely cause is a stale or corrupt served
  // index, and "false was not true" would force a manual re-run)
  private def assertServedEqualsDirect(servedName: String,
      directName: String): Unit = {
    val direct = q(directName).collect().map(_.toString).toSet
    val served = q(servedName).collect().map(_.toString).toSet
    assert(direct.nonEmpty, s"fixture corpus must contain $directName pairs")
    assert(served == direct,
      s"$servedName diverges from $directName; " +
        s"only-served=${(served -- direct).take(3)} " +
        s"only-direct=${(direct -- served).take(3)}")
  }

  test("llm_neardup_served: the persisted-band-index serve path equals " +
      "the direct pipeline row-for-row") {
    assertServedEqualsDirect("llm_neardup_served", "llm_neardup_verified")
  }

  test("nearDuplicatesFromCandidates: a doc frame holding every row twice " +
      "verifies the same distinct pair set as the frame with each row once") {
    val once = Seq(1L -> base, 2L -> base, 3L -> nearDup, 4L -> distinct,
      5L -> distinct.replace("spark", "flink")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (1L, 5L)).toDF("d1", "d2")
    def verified(docs: DataFrame): Seq[(Long, Long, Double)] =
      api.GraftPipelines.nearDuplicatesFromCandidates(docs, cands, 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
        .toSeq
    val single = verified(once)
    assert(single.map(p => (p._1, p._2)).sorted ==
        Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)),
      s"verified pairs: $single")
    assert(verified(once.union(once)).distinct.sorted == single.sorted)
  }

  test("llm_ppjoin_served: the persisted-index serve path equals the " +
      "direct join row-for-row") {
    assertServedEqualsDirect("llm_ppjoin_served", "llm_ppjoin")
  }

  test("llm_containment_served: the persisted-ranked-index serve path " +
      "equals the direct containment join row-for-row") {
    assertServedEqualsDirect("llm_containment_served", "llm_containment_join")
  }

  test("containmentContainerSlice: drops rows whose token is in no " +
      "τ-prefix (the high-df mass) yet the containment pairs are " +
      "bit-identical to serving from the unfiltered ranked table") {
    val P = graft.api.GraftPipelines
    // a corpus where one 3-gram is shared by EVERY doc (maximal df —
    // ranked last in each doc, so never inside a τ=4/5 prefix of the
    // longer docs) plus per-doc rare tails
    val common = "alpha beta gamma"
    val texts = (1L to 6L).map { i =>
      (i, common + (0 until 8).map(k => s" tail${i}x$k w${i}y$k z$i$k")
        .mkString, "s0")
    }
    val dir = tempSfDir("documents" -> docs(texts: _*))
    val sets = P.ppjoinTokenSets(Tables.documents(spark, dir))
      .localCheckpoint()
    val ranked = P.ppjoinRanked(P.ppjoinTokensOf(sets)).localCheckpoint()
    val slice = P.containmentContainerSlice(ranked, 4, 5).localCheckpoint()
    assert(slice.count() < ranked.count(),
      "the slice must drop the no-prefix-token rows, else it serves " +
        "the same super-linear read-back")
    def pairs(cont: org.apache.spark.sql.DataFrame) =
      P.containmentPairsFromIndex(sets, cont, 4, 5)
        .collect().map(_.toString).toSet
    assert(pairs(slice) == pairs(ranked),
      "pruning non-prefix-token container rows must not change the join")
  }

  test("llm_jaccard_adjacent: identical adjacent docs have jaccard 1.0") {
    val dir = tempSfDir("documents" ->
      docs((1L, base, "s0"), (2L, base, "s0"), (3L, distinct, "s0")))
    val rows = q("llm_jaccard_adjacent", dir).collect()
    val j12 = rows.find(r => r.getAs[Long]("d1") == 1L).get
    assert(j12.getAs[Double]("jaccard") == 1.0)
    val j23 = rows.find(r => r.getAs[Long]("d1") == 2L).get
    assert(j23.getAs[Double]("jaccard") < 0.2)
  }

  test("dedup idempotence: dedup of deduped output finds no new dups") {
    val dir = tempSfDir("documents" ->
      docs((1L, base, "s0"), (2L, base, "s0"), (3L, distinct, "s0")))
    val keepers = q("llm_dedup_exact", dir).collect()
      .map(_.getAs[Long]("keeper")).toSet
    val dir2 = tempSfDir("documents" ->
      docs((1L, base, "s0"), (3L, distinct, "s0")))
    val second = q("llm_dedup_exact", dir2).collect()
    assert(second.forall(_.getAs[Long]("n_copies") == 1))
    assert(second.map(_.getAs[Long]("keeper")).toSet == keepers)
  }

  test("llm_fingerprint: stable across runs, distinct for distinct docs") {
    val dir = tempSfDir("documents" ->
      docs((1L, base, "s0"), (2L, base, "s0"), (3L, distinct, "s0")))
    val fp1 = q("llm_fingerprint", dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fp2 = q("llm_fingerprint", dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp1 == fp2)
    assert(fp1(1L) == fp1(2L))
    assert(fp1(1L) != fp1(3L))
  }

  test("llm_span_dedup: shared 10-word window flags both docs, unique stays clean") {
    val chunkA = (1 to 10).map(i => s"wa$i").mkString(" ")
    val chunkB = (1 to 10).map(i => s"wb$i").mkString(" ")
    val chunkC = (1 to 10).map(i => s"wc$i").mkString(" ")
    val chunkD = (1 to 10).map(i => s"wd$i").mkString(" ")
    val dir = tempSfDir("documents" -> docs(
      (1L, s"$chunkA $chunkB", "s0"), (2L, s"$chunkA $chunkC", "s0"),
      (3L, chunkD, "s0"), (4L, "too short", "s0")))
    val out = q("llm_span_dedup", dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (2L, 1L), 2L -> (2L, 1L), 3L -> (1L, 0L)))
  }

  test("dupClusters: chains collapse transitively, components stay apart") {
    // path graph 1-2-3-4-5 (diameter 4 forces multiple propagation
    // rounds) plus a separate pair {10,11}
    // (20,20) is a self-pair: no connectivity, but the doc appears in a
    // pair, so the contract labels it (as its own singleton cluster)
    val pairs = Seq((2L, 3L), (1L, 2L), (4L, 5L), (3L, 4L), (10L, 11L),
      (20L, 20L)).toDF("d1", "d2")
    val out = api.GraftPipelines.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("dupClusters: adversarial 512-node path converges in O(log n) rounds") {
    // the worst case for round-3's min-label propagation (diameter 511
    // would have cost ~511 scheduled rounds); large-star/small-star must
    // close it in ~log2(512) = 9 rounds (+1 fixed-point detection pass).
    // 511 edges are under the driver-path cap, so cap = 0 forces the
    // star rounds this bound is about
    val n = 512
    val pairs = (0L until n - 1L).map(i => (i, i + 1)).toDF("d1", "d2")
    val (out, rounds) =
      api.GraftPipelines.dupClustersWithRounds(pairs, cap = 0)
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == n)
    assert(labels.forall(_._2 == 0L), "every node must reach the path min")
    assert(rounds >= 1, "cap = 0 must run the star rounds")
    assert(rounds <= 11, s"path-512 took $rounds rounds — not O(log n)")
  }

  test("dupClusters: a small graph is labeled by one driver union-find " +
      "job and schedules no star round, seed or equality job") {
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (20L, 20L))
      .toDF("d1", "d2").repartition(3)
    val (jobs, out) =
      jobDescriptions(api.GraftPipelines.dupClusters(pairs).collect())
    val cc = jobs.filter(_.startsWith("cc:"))
    assert(cc.count(_ == "cc: driver union-find") == 1, s"cc jobs: $cc")
    assert(!cc.exists(d => d.startsWith("cc: round") ||
      d.startsWith("cc: seed") || d.endsWith("equality")), s"cc jobs: $cc")
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
    // the driver path labels integral ids only; string ids keep the
    // star rounds, under the cap too
    val (named, rounds) = api.GraftPipelines.dupClustersWithRounds(
      Seq(("b", "c"), ("a", "b")).toDF("d1", "d2"))
    assert(rounds >= 1)
    assert(named.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("curate policies: pairwise under-deletes on a chain, clusters keep one") {
    // C is near-dup of both A and B (2 word substitutions each, jaccard
    // 12/16 = 0.75), but A vs B differ in 4 words (10/18 ≈ 0.56 < 0.7).
    val c = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november"
    val a = c.replace("alpha", "zulu").replace("bravo", "yankee")
    val b = c.replace("mike", "xray").replace("november", "whiskey")
    val src = docs((1L, a, "s0"), (2L, b, "s0"), (3L, c, "s0"),
      (4L, distinct, "s0")).toDF()
    def ids(clusterKeepers: Boolean): Set[Long] =
      api.GraftPipelines.curate(src, clusterKeepers = clusterKeepers)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    // sanity: the verified pairs form the chain (1,3), (2,3) only
    val pairs = api.GraftPipelines.nearDuplicates(src, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (2L, 3L)))
    assert(ids(clusterKeepers = false) == Set(1L, 2L, 4L)) // drops d2 = 3 only
    assert(ids(clusterKeepers = true) == Set(1L, 4L))      // one keeper per component
  }

  test("curate: drops low-quality, short, exact-dup and near-dup docs") {
    val lowQuality = "aa aa aa aa aa aa" // ttr 1/6, no stopwords, len 2
    val short = "hello world"           // n_words 2 < 5
    val src = docs(
      (1L, base, "s0"), (2L, base, "s0"), (3L, nearDup, "s0"),
      (4L, lowQuality, "s0"), (5L, short, "s0"), (6L, distinct, "s0"))
      .toDF()
    val out = api.GraftPipelines.curate(src)
      .select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 2 = exact dup of 1 (higher id loses); 3 = verified near-dup of 1
    // (jaccard 12/14 >= 0.7); 4 fails the quality gate; 5 the word floor.
    assert(out == Map(1L -> base.split(" ").length,
      6L -> distinct.split(" ").length))
  }

  test("curateClean: planted eval leak is dropped before the quality gates") {
    val spark = this.spark
    import spark.implicits._
    val leak = "alpha beta gamma delta epsilon" // shared 5-gram
    val corpus = Seq(
      (1L, s"the document with $leak inside it and the more padding words", "s0"),
      (2L, base, "s0"))
      .toDF("doc_id", "text", "source")
    val eval = Seq((100L, s"an eval question about $leak here", "ev"))
      .toDF("doc_id", "text", "source")
    val kept = api.GraftPipelines.curateClean(corpus, eval)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 1 passes every quality/dedup gate but leaks an eval 5-gram
    assert(kept == Set(2L))
  }

  test("llm_fuzzy_pairs: blocked ER join stays equi-keyed on the block key") {
    val df = SparkEntry.queries("llm_fuzzy_pairs")(spark, "/root/testdata/sf0.01")
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must ride the block-key equi join")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "canonical a<b ordering")
      assert(r.getInt(2) <= 3)
    }
  }

  test("llm_sorted_neighborhood: window is block-partitioned, never global") {
    val df = SparkEntry.queries("llm_sorted_neighborhood")(
      spark, "/root/testdata/sf0.01")
    // the 100 TB hazard for SNM is an unpartitioned global-sort window —
    // assert every Window node carries a non-empty partition spec.
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected a Window node in the SNM plan")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "SNM window must be block-partitioned, never a global sort")
    assert(df.collect().forall(_.getInt(2) <= 3))
  }

  test("llm_golden_record: survivorship rules pick one deterministic canon per cluster") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "one two three four five six seven eight"
    val docs = Seq(
      // cluster {1,2,3}: longest-chars tie between 2 and 3 → lower id 2
      (1L, a, "en", "s0", 100L),
      (2L, a, "de", "s0", 300L),
      (3L, a, "de", "s1", 300L),
      // cluster {10,11}: full ties everywhere → doc 10, lang 'de' (lexico)
      (10L, b, "en", "s2", 50L),
      (11L, b, "de", "s2", 50L),
      // singleton: in no pair → not part of the golden-record output
      (20L, "unique text with completely different words here now", "fr", "s3", 49L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempSfDir("documents" -> docs)
    val out = q("llm_golden_record", dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 10L))
    val c1 = out(1L)
    assert(c1.getAs[Long]("csize") == 3L)
    assert(c1.getAs[Long]("canon_doc") == 2L)
    assert(c1.getAs[Long]("canon_chars") == 300L)
    assert(c1.getAs[String]("lang_consensus") == "de")
    assert(c1.getAs[Long]("n_sources") == 2L)
    assert(c1.getAs[Long]("total_chars") == 700L)
    val c10 = out(10L)
    assert(c10.getAs[Long]("csize") == 2L)
    assert(c10.getAs[Long]("canon_doc") == 10L)
    assert(c10.getAs[String]("lang_consensus") == "de")
  }

  test("fuzzy ER: the two candidate generators have complementary recall") {
    // SNM catches pairs straddling a length band; the blocked join
    // catches similar names that sort far apart. Neither subsumes the
    // other on this corpus — the union is the production candidate set.
    def pairs(name: String) =
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
        .select("name_a", "name_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val blocked = pairs("llm_fuzzy_pairs")
    val snm = pairs("llm_sorted_neighborhood")
    assert((blocked -- snm).nonEmpty, "blocked join should find sort-distant pairs")
    assert((snm -- blocked).nonEmpty, "SNM should find band-straddling pairs")
  }

  test("llm_minhash_recall: measured against the exact ppjoin truth") {
    val r = q("llm_minhash_recall").collect().head
    val exact = q("llm_ppjoin").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val cands = q("llm_minhash_pairs").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.getLong(0) == exact.size)
    assert(r.getLong(1) == (exact & cands).size)
    assert(r.getLong(2) == 1000L * r.getLong(1) / r.getLong(0))
  }

  test("llm_dup_matrix: rollup agrees with ppjoin pairs joined to sources") {
    val srcOf = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = q("llm_ppjoin").collect()
      .map(r => {
        val (a, b) = (srcOf(r.getLong(0)), srcOf(r.getLong(1)))
        ((if (a <= b) a else b, if (a <= b) b else a), r.getLong(5))
      })
      .groupBy(_._1)
      .map { case (k, vs) => k -> ((vs.length.toLong, vs.map(_._2).max)) }
    val got = q("llm_dup_matrix").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("llm_ppjoin: prefix filter is LOSSLESS — equals brute-force exact Jaccard") {
    val got = q("llm_ppjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" "))
      .collect { case (id, ws) if ws.length >= 3 =>
        id -> ws.sliding(3).map(_.mkString(" ")).toSet }
    val want = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = (sa & sb).size
      if 3 * inter >= sa.size + sb.size
    } yield (a, b, inter.toLong)).toSet
    assert(got == want, "prefix-filtered join must equal the all-pairs truth")
    assert(want.nonEmpty, "fixture corpus should contain θ≥1/2 pairs")
    // every reported similarity is genuinely ≥ 1/2
    for (r <- q("llm_ppjoin").collect())
      assert(r.getLong(5) >= 500L, s"pair below threshold: $r")
  }

  test("llm_dedup_normalized: case/punctuation/spacing variants collapse " +
      "to one canonical keeper that byte-exact dedup keeps apart") {
    val variant1 = base.capitalize + "!"
    val variant2 = "  " + base.replace(" ", "  ") + " ."
    val dir = tempSfDir("documents" ->
      docs((1L, base, "s0"), (2L, variant1, "s0"), (3L, variant2, "s0"),
        (4L, distinct, "s0")))
    val exact = q("llm_dedup_exact", dir).collect()
    assert(exact.length == 4, "byte-exact sees four distinct texts")
    val norm = q("llm_dedup_normalized", dir).collect()
    assert(norm.length == 2)
    val merged = norm.find(_.getAs[Long]("n_copies") == 3L).get
    assert(merged.getAs[Long]("keeper") == 1L)
  }

  test("containmentPairs: prefix-filtered candidates equal the all-pairs " +
      "truth; asymmetry detects the excerpt but not the container") {
    val extra = "meanwhile completely unrelated material continues " +
      "for a while longer in this much bigger container document"
    val container = base + " " + extra
    val dir = tempSfDir("documents" ->
      docs((1L, base, "s0"), (2L, container, "s0"), (3L, distinct, "s0")))
    val got = graft.api.GraftPipelines
      .containmentPairs(Tables.documents(spark, dir), 4, 5)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("inter"), r.getAs[Long]("contain_x1000"))).toSet
    // all-pairs truth over the same 3-gram shingle sets
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val texts = Map(1L -> base, 2L -> container, 3L -> distinct)
    val want = (for {
      (a, ta) <- texts.toSeq; (b, tb) <- texts.toSeq if a != b
      sa = shingles(ta); inter = (sa & shingles(tb)).size
      if 5 * inter >= 4 * sa.size
    } yield (a, b, inter.toLong, (1000L * inter) / sa.size)).toSet
    assert(got == want)
    assert(got.exists { case (a, b, _, c) => a == 1L && b == 2L && c == 1000L },
      "the base doc is fully contained in its container")
    assert(!got.exists { case (a, b, _, _) => a == 2L && b == 1L },
      "containment is asymmetric: the container is not inside the excerpt")
  }

  test("llm_effective_tokens: near-dup cluster tokens counted once, " +
      "singletons fully effective") {
    val dir = tempSfDir("documents" ->
      docs((1L, base, "s0"), (2L, nearDup, "s0"), (3L, distinct, "s1")))
    val out = q("llm_effective_tokens", dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("total_tokens"), r.getAs[Long]("effective_tokens"))))
      .toMap
    val t = Map(1L -> base, 2L -> nearDup, 3L -> distinct)
      .map { case (k, v) => k -> v.split(" ").length.toLong }
    assert(out("s0") == ((t(1L) + t(2L), t(1L))),
      "only the keeper's tokens survive in the near-dup cluster")
    assert(out("s1") == ((t(3L), t(3L))), "singletons keep every token")
  }

  test("bloomDecontaminate: bit-identical to the exact pass; the Bloom " +
      "pre-prune keeps every true hit and actually prunes") {
    import graft.api.GraftPipelines
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"source" =!= "src19")
    val evalSet = docs.filter($"source" === "src19")
    val exact = GraftPipelines.decontaminate(corpus, evalSet, 5)
      .orderBy("doc_id").collect().toSeq
    val bloomed = GraftPipelines.bloomDecontaminate(corpus, evalSet, 5)
      .orderBy("doc_id").collect().toSeq
    assert(bloomed == exact,
      "Bloom pre-prune + exact confirm must reproduce the exact result")
    // the prune contract, measured on the same filter the pipeline builds
    val evalGrams = GraftPipelines.corpusGramIndex(evalSet, 5)
      .select($"g").distinct()
    val bf = evalGrams.stat.bloomFilter("g", 1L << 18, 0.01)
    val os = new java.io.ByteArrayOutputStream()
    bf.writeTo(os)
    val grams = GraftPipelines.corpusGramIndex(corpus, 5)
    val total = grams.count()
    val kept = grams.filter(graft.functions.VectorExpressions
      .bloomMightContainLong($"g", os.toByteArray)).count()
    val trueHits = grams.join(evalGrams, "g").count()
    assert(kept >= trueHits, "a Bloom filter has no false negatives")
    assert(kept < total, "the filter must prune non-matching grams")
  }

  test("llm_dup_clusters_served: the read-back label map reproduces " +
      "the refit entry exactly, and its consumers agree with the chain") {
    val direct = q("llm_dup_clusters").collect().toSeq
    assert(q("llm_dup_clusters_served").collect().toSeq == direct,
      "the serve split is a storage refactor — output must be identical")
    // the consumers now riding the persisted map keep the chain's
    // keeper semantics: every golden-record canonical cluster id is a
    // cluster the label map knows
    val clusterIds = direct.map(_.getLong(1)).toSet
    val canon = q("llm_golden_record").collect().map(_.getLong(0)).toSet
    assert(canon.subsetOf(clusterIds) && canon.nonEmpty)
  }

  test("llm_lsh_tuning: candidate mass shrinks monotonically as rows " +
      "per band grow, hits are bounded both ways, and the 4x2 row " +
      "agrees with llm_minhash_recall") {
    val rows = q("llm_lsh_tuning").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(t => (t._1, t._2)).toSeq ==
      Seq((8, 1), (4, 2), (2, 4)))
    // more rows per band = stricter bucket key = fewer candidates
    assert(rows.map(_._3).sliding(2).forall(w => w(0) >= w(1)),
      s"candidate mass must be monotone in rows_per_band: $rows")
    // hits can never exceed either the truth set or the candidate set
    assert(rows.forall(t => t._5 <= t._4 && t._5 <= t._3))
    // the same truth set anchors every row
    assert(rows.map(_._4).distinct.length == 1)
    // the committed 4x2 scheme's recall must equal the standalone
    // recall entry's figure — one measurement, two presentations
    val recall42 = rows.find(t => t._1 == 4).get._6
    val standalone = q("llm_minhash_recall").collect().head.getLong(2)
    assert(recall42 == standalone)
  }

  test("llm_split_leakage_safe: every verified near-dup cluster lands " +
      "wholly inside ONE split, and singleton docs keep the per-doc rule") {
    import org.apache.spark.sql.functions.col
    val rows = q("llm_split_leakage_safe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // the leakage-safety property itself: a unit never straddles splits
    val byUnit = rows.groupBy(_._2)
    assert(byUnit.values.forall(_.map(_._3).distinct.length == 1),
      "a cluster straddled the train/eval wall")
    val multi = byUnit.filter(_._2.length > 1)
    assert(multi.nonEmpty,
      "fixture degenerate: no multi-doc cluster exercises the property")
    // docs in no verified pair follow llm_split's per-doc hash exactly
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"))
    val perDoc = graft.api.GraftPipelines.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val singletons = rows.filter(t => t._1 == t._2 &&
      byUnit(t._2).length == 1)
    assert(singletons.nonEmpty &&
      singletons.forall(t => t._3 == perDoc(t._1)))
  }

  test("llm_boilerplate_scrub: >=3-doc chunks removed, 2-doc chunks kept, " +
      "clean docs reconstruct bit-exactly") {
    val bp = (1 to 10).map(i => s"b$i").mkString(" ")   // in docs 1,2,3
    val pair = (1 to 10).map(i => s"p$i").mkString(" ") // in docs 4,5 only
    val uniq = (1 to 10).map(i => s"u$i").mkString(" ")
    val dir = tempSfDir("documents" -> docs(
      (1L, s"$bp x1 x2 x3", "s0"),
      (2L, s"$uniq $bp", "s0"),
      (3L, bp, "s0"),
      (4L, s"$pair y1 y2 y3", "s1"),
      (5L, s"$pair z1 z2 z3", "s1")))
    val out = q("llm_boilerplate_scrub", dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 1L, "x1 x2 x3")))
    assert(out(2L) == ((2L, 1L, uniq)))
    // a doc that was ALL boilerplate survives as an empty row, not a drop
    assert(out(3L) == ((1L, 1L, "")))
    // frequency 2 < 3: the pair chunk is NOT boilerplate — both docs
    // reconstruct to their original text exactly
    assert(out(4L) == ((2L, 0L, s"$pair y1 y2 y3")))
    assert(out(5L) == ((2L, 0L, s"$pair z1 z2 z3")))
  }

  test("llm_boilerplate_scrub: the tag join broadcasts at realistic " +
      "boilerplate density — chosen by stats/AQE, not a hard hint") {
    // The builder carries NO broadcast hint (the >=3-doc chunk set is
    // corpus-bounded, so a hard hint would be an OOM risk at scale);
    // this spec pins that the planner still lands on a broadcast tag
    // join when the set is actually small. Assert on the FINAL plan —
    // under AQE the pre-execution plan may be a provisional
    // SortMergeJoin that runtime stats convert.
    val df = q("llm_boilerplate_scrub")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast tag join in the final plan:\n${plan.take(1200)}")
  }

  test("chainStep: deleting a bridge doc splits its component, " +
      "untouched components keep their persisted labels, and the " +
      "maintained map equals a full recompute") {
    // path 1-2-3-4-5 (3 is the only bridge between {1,2} and {4,5})
    // plus a separate pair {10,11} no deletion touches
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("d1", "d2")
    val labels = graft.api.GraftPipelines.dupClusters(pairs)
    val del = Seq(3L).toDF("del_id")
    val noNewPairs = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val out = graft.operators.DedupOps
      .chainStep(spark, pairs, labels, (del, 1L), (noNewPairs, 0L))._2
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the deleted bridge is gone; its component split at the min of
    // each surviving half; the untouched pair kept its old label
    assert(out == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L,
      10L -> 10L, 11L -> 10L))
    // maintained ≡ recompute: CC from scratch over the retracted pairs
    val recomputed = graft.api.GraftPipelines.dupClusters(
        pairs.filter($"d1" =!= 3L && $"d2" =!= 3L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == recomputed)
  }

  test("chainStep: a batch doc bridging two base components merges " +
      "them, batch-only pairs form new components, untouched " +
      "components keep their labels, and the result equals a " +
      "from-scratch recompute") {
    val basePairs = Seq((1L, 2L), (4L, 5L), (10L, 11L)).toDF("d1", "d2")
    val baseLabels = graft.api.GraftPipelines.dupClusters(basePairs)
    // 9 bridges {1,2} and {4,5}; 20-21 is a batch-only pair; {10,11}
    // is untouched
    val newPairs = Seq((2L, 9L), (4L, 9L), (20L, 21L)).toDF("d1", "d2")
    val noDels = Seq.empty[Long].toDF("del_id")
    val out = graft.operators.DedupOps
      .chainStep(spark, basePairs, baseLabels, (noDels, 0L),
        (newPairs, 3L))._2
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 5L -> 1L, 9L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    val recomputed = graft.api.GraftPipelines
      .dupClusters(basePairs.union(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == recomputed)
  }

  test("chainStep: deleting a leaf doc neither splits nor " +
      "relabels the rest of its component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val labels = graft.api.GraftPipelines.dupClusters(pairs)
    val del = Seq(3L).toDF("del_id")
    val noNewPairs = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val out = graft.operators.DedupOps
      .chainStep(spark, pairs, labels, (del, 1L), (noNewPairs, 0L))._2
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
