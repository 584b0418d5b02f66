package graft

import graft.operators.MultimodalOps.StubImageDecoder

/** Text analysis + multimodal plumbing. */
class TextMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("llm_quality_score: hand-computed metrics for a known doc") {
    val text = "the cat sat on the mat" // 6 words, 5 distinct, 17 letters
    val df = Seq((1L, text, "en", "s0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = q("llm_quality_score", tempSfDir("documents" -> df)).collect().head
    assert(r.getAs[Int]("n_words") == 6)
    assert(r.getAs[Int]("n_distinct") == 5)
    assert(math.abs(r.getAs[Double]("avg_word_len") - 17.0 / 6) < 1e-12)
    assert(math.abs(r.getAs[Double]("ttr") - 5.0 / 6) < 1e-12)
    // 'the' twice + 'on'∉markers → stop_ratio = 2/6
    assert(math.abs(r.getAs[Double]("stop_ratio") - 2.0 / 6) < 1e-12)
  }

  test("decontaminate: shared 5-gram flags the corpus doc, others clean") {
    val leak = "alpha beta gamma delta epsilon" // the eval 5-gram
    val corpus = Seq(
      (1L, s"intro words then $leak and more trailing words"),
      (2L, "totally unrelated content with no overlap at all here"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, s"question about $leak indeed")).toDF("doc_id", "text")
    val out = api.GraftPipelines.decontaminate(corpus, eval, 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out(1L)._1 >= 1L && out(1L)._2 == 1)
    assert(out(2L) == (0L, 0))
  }

  test("stratifiedSample: deterministic, rate-0 empty, rate-1000 full") {
    val df = (0L until 50L).map(i => (i, s"src${i % 2}"))
      .toDF("doc_id", "source")
    val none = api.GraftPipelines.stratifiedSample(df,
      Map("src0" -> 0, "src1" -> 0)).count()
    val all = api.GraftPipelines.stratifiedSample(df,
      Map("src0" -> 1000, "src1" -> 1000)).count()
    assert(none == 0L && all == 50L)
    val pick = (1 to 2).map(_ => api.GraftPipelines.stratifiedSample(df,
      Map("src0" -> 500, "src1" -> 200)).collect()
      .map(_.getAs[Long]("doc_id")).toSet)
    assert(pick(0) == pick(1)) // salted hash, not rand(): reruns agree
  }

  test("hashSplit: partitions are exhaustive, disjoint, and rerun-stable") {
    val df = (0L until 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val a = api.GraftPipelines.hashSplit(df).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val b = api.GraftPipelines.hashSplit(df).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(a == b)                                   // deterministic
    assert(a.size == 200)                            // exhaustive
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(a.values.count(_ == "train") > a.values.count(_ == "val"))
    intercept[IllegalArgumentException] {            // weights must sum
      api.GraftPipelines.hashSplit(df, Seq("a" -> 500, "b" -> 400))
    }
  }

  test("packSequences: bins fill greedily in id order per stratum") {
    val df = Seq((1L, "a", 600), (2L, "a", 600), (3L, "a", 600),
      (4L, "a", 600), (5L, "b", 2000), (6L, "b", 100))
      .toDF("doc_id", "source", "n_tokens")
    val out = api.GraftPipelines.packSequences(df, 1000).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
    // stratum a: cum-before = 0,600,1200,1800 -> bins 0,0,1,1
    // stratum b: cum-before = 0,2000 -> bins 0,2
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L, 6L -> 2L))
  }

  test("packSequencesSalted: budget invariants hold in every sub-stratum") {
    import org.apache.spark.sql.functions._
    val salts = 4
    val budget = 1000
    val df = (1L to 200L).map(i =>
      (i, if (i <= 180) "hot" else "cold", (i % 7 * 100 + 100).toInt))
      .toDF("doc_id", "source", "n_tokens")
    val out = api.GraftPipelines.packSequencesSalted(df, budget, salts)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getAs[Int]("n_tokens"), r.getAs[Long]("bin")))
    assert(rows.length == 200)
    // bin -> salt is bin % salts: every bin holds exactly one sub-stratum
    // and, within it, the SAME greedy rule as packSequences — re-derive
    // each sub-stratum's packing with a sequential reference and compare
    val bySub = rows.groupBy { case (_, src, _, bin) => (src, bin % salts) }
    bySub.foreach { case ((_, salt), docs) =>
      var cum = 0L
      docs.sortBy(_._1).foreach { case (_, _, tok, bin) =>
        assert(bin % salts == salt)
        assert(bin / salts == cum / budget, s"greedy rule broken at bin $bin")
        cum += tok
      }
    }
    // determinism: same layout on a rerun
    val again = api.GraftPipelines.packSequencesSalted(df, budget, salts)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
    assert(rows.map(r => r._1 -> r._4).toMap == again)
    // salts = 1 degenerates to exactly packSequences (bin ids included)
    val plain = api.GraftPipelines.packSequences(df, budget)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
    val salted1 = api.GraftPipelines.packSequencesSalted(df, budget, 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
    assert(plain == salted1)
    // the hot stratum actually spreads across all sub-strata
    assert(rows.filter(_._2 == "hot").map(_._4 % salts).distinct.length == salts)
  }

  test("docFeatures: signals join per doc, undefined signals stay null") {
    val longShared = (1 to 12).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, s"the a of $longShared and to in is"),   // all signals defined
      (2L, "solo"),                                  // <2 words: no rep, no sub
      (3L, s"x1 $longShared x2 x3 no-reply@x.io"))   // shares S with doc 1 + pii
      .toDF("doc_id", "text")
    val out = api.GraftPipelines.docFeatures(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L)) // quality defines the universe
    assert(out(1L).getAs[String]("pred_lang") == "en")  // 7 stopwords / 20
    assert(out(2L).getAs[String]("pred_lang") == "und")
    assert(out(2L).isNullAt(out(2L).fieldIndex("rep_ratio")))
    assert(out(2L).isNullAt(out(2L).fieldIndex("frac_shared")))
    assert(out(1L).getAs[Long]("max_dup_words") >= 12L)
    assert(out(3L).getAs[Long]("max_dup_words") >= 12L)
    assert(out(3L).getAs[Int]("n_pii") == 1)
    assert(out(1L).getAs[Int]("n_pii") == 0)
  }

  test("substringOverlap: shared 12-word run found at different offsets") {
    // S is a 12-word passage embedded at word 3 of doc 1 and word 0 of
    // doc 2 — stride-10 span dedup (aligned windows) cannot see it; the
    // stride-1 scrub must report a 3-gram run = 12 duplicated words
    val s12 = (1 to 12).map(i => s"s$i").mkString(" ")
    val doc1 = s"pre1 pre2 pre3 $s12 post1 post2"
    val doc2 = s"$s12 tail1 tail2 tail3 tail4 tail5"
    val doc3 = "entirely distinct words one two three four five six seven eight nine"
    val df = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val out = api.GraftPipelines.substringOverlap(df, 10).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc1: 17 words -> 8 grams; shared = grams fully inside S, i.e.
    // start positions 3..5 (0-based) -> 3 grams; run 3 -> 12 words
    assert(out(1L).getAs[Int]("n_grams") == 8)
    assert(out(1L).getAs[Long]("n_shared") == 3L)
    assert(out(1L).getAs[Long]("max_dup_words") == 12L)
    assert(math.abs(out(1L).getAs[Double]("frac_shared") - 3.0 / 8) < 1e-12)
    assert(out(2L).getAs[Long]("n_shared") == 3L)
    assert(out(2L).getAs[Long]("max_dup_words") == 12L)
    assert(out(3L).getAs[Long]("n_shared") == 0L)
    assert(out(3L).getAs[Long]("max_dup_words") == 0L)
  }

  test("redactPii: planted spans redacted exactly, clean docs untouched") {
    val dirty = "reach me at jane.doe+x@corp.io or 555-123-4567 ssn 987-65-4321 ok"
    val clean = "no sensitive content in this sentence at all"
    val df = Seq((1L, dirty), (2L, clean)).toDF("doc_id", "text")
    val out = api.GraftPipelines.redactPii(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d = out(1L)
    assert(d.getAs[Int]("n_email") == 1)
    assert(d.getAs[Int]("n_phone") == 1)
    assert(d.getAs[Int]("n_ssn") == 1)
    assert(d.getAs[Int]("has_pii") == 1)
    assert(d.getAs[String]("redacted_text") ==
      "reach me at <EMAIL> or <PHONE> ssn <SSN> ok")
    val c = out(2L)
    assert(c.getAs[Int]("has_pii") == 0)
    assert(c.getAs[String]("redacted_text") == clean)
    // idempotence: placeholders contain no digits or '@', so a second
    // pass over redacted text finds nothing and changes nothing
    val again = api.GraftPipelines.redactPii(
      Seq((1L, d.getAs[String]("redacted_text"))).toDF("doc_id", "text"))
      .collect().head
    assert(again.getAs[Int]("has_pii") == 0)
    assert(again.getAs[String]("redacted_text") ==
      d.getAs[String]("redacted_text"))
    // staged counting: a phone-shaped span INSIDE an email local part
    // is consumed by the email replacement and counted zero times —
    // n_<kind> always equals the <KIND> tokens actually emitted
    val nested = api.GraftPipelines.redactPii(
      Seq((1L, "ping 555-123-4567@mail.com ok")).toDF("doc_id", "text"))
      .collect().head
    assert(nested.getAs[Int]("n_email") == 1)
    assert(nested.getAs[Int]("n_phone") == 0, "consumed span must not count")
    assert(nested.getAs[String]("redacted_text") == "ping <EMAIL> ok")
  }

  test("repetitionStats: hand-computed top gram with deterministic tie-break") {
    // 2-grams of "a b a b a c": [a b, b a, a b, b a, a c] — "a b" and
    // "b a" tie at 2; lexicographic order picks "a b". ratio = 2/5.
    val df = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val r = api.GraftPipelines.repetitionStats(df, 2).collect().head
    assert(r.getAs[String]("top_gram") == "a b")
    assert(r.getAs[Long]("top_n") == 2L)
    assert(r.getAs[Long]("n_grams") == 5L)
    assert(math.abs(r.getAs[Double]("rep_ratio") - 0.4) < 1e-12)
    // shorter than n words -> no grams, no row
    assert(api.GraftPipelines.repetitionStats(
      Seq((2L, "solo")).toDF("doc_id", "text"), 2).count() == 0L)
  }

  test("llm_quality_classify: threshold decision, repetition penalized") {
    val clean = "the quick brown fox jumps over a lazy dog in the warm sun"
    val reps = Seq.fill(8)("spam spam").mkString(" ")
    val df = Seq(
      (1L, clean, "en", "s0", clean.length.toLong),
      (2L, reps, "en", "s0", reps.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("llm_quality_classify", tempSfDir("documents" -> df))
      .collect().map(r =>
        r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    // keep IS the threshold decision on the same score
    rows.values.foreach { case (s, k) => assert(k == (if (s > 0.5) 1 else 0)) }
    // the all-repetition doc scores strictly below the clean doc
    assert(rows(2L)._1 < rows(1L)._1)
  }

  test("llm_token_count: whitespace vs regex tokenization diverge on digits") {
    val df = Seq((1L, "abc 123 def9x", "en", "s0", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = q("llm_token_count", tempSfDir("documents" -> df)).collect().head
    assert(r.getAs[Long]("sum_ws_tokens") == 3)  // abc | 123 | def9x
    assert(r.getAs[Long]("sum_re_tokens") == 3)  // abc, def, x
  }

  test("llm_token_bpe: GPT-2-style pre-tokenizer count, hand-traced") {
    // don | 't | " stop" | " 123" | " now" | !! → 6 tokens
    val df = Seq((1L, "don't stop 123 now!!", "en", "s0", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = q("llm_token_bpe", tempSfDir("documents" -> df)).collect().head
    assert(r.getAs[Int]("n_bpe") == 6)
  }

  test("StubImageDecoder: deterministic, byte-driven features") {
    val payload = "abcdef".getBytes("UTF-8")
    val m1 = StubImageDecoder.decode(1L, payload)
    val m2 = StubImageDecoder.decode(1L, payload)
    assert(m1 == m2)
    assert(m1.width == 64 * (1 + 'a'.toInt % 16))
    assert(m1.height == 64 * (1 + 'b'.toInt % 16))
    val expected = "abcdef".map(_.toInt).sum.toDouble / 6
    assert(math.abs(m1.brightness - expected) < 1e-12)
  }

  test("mm_scene_cuts: brightness jumps between crafted frames count as cuts") {
    // 3 frames: 256×'A' (fb=65), 256×'z' (fb=122), 88×'A' (fb=65) —
    // two jumps of 57 > 10 ⇒ 2 cuts, 3 scenes; a flat doc has none
    val jumpy = "A" * 256 + "z" * 256 + "A" * 88
    val flat = "B" * 520
    val df = Seq((1L, jumpy, "en", "s0", jumpy.length.toLong),
      (2L, flat, "en", "s0", flat.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = q("mm_scene_cuts", tempSfDir("documents" -> df)).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Int]("n_frames"), r.getAs[Long]("n_cuts"),
          r.getAs[Long]("n_scenes"))).toMap
    assert(out(1L) == (3, 2L, 3L))
    assert(out(2L) == (3, 0L, 1L))
  }

  test("mm_video_neardup: videos sharing >= 2 sampled keyframe " +
      "fingerprints pair with the set-overlap ratio; a video with no " +
      "shared keyframes forms no pair") {
    val spark = this.spark
    import spark.implicits._
    // 64-byte frames with ONE bright 4-byte block each: fp(kf0)=1,
    // fp(kf2)=2, fp(kf4)=4 (bit b set iff 16*blockSum > totalSum).
    // Sampled positions are 0,2,4 (stride 2), so the odd filler frames
    // never enter a fingerprint set.
    def kf(brightBlock: Int): String =
      "a" * (4 * brightBlock) + "zzzz" + "a" * (60 - 4 * brightBlock)
    val filler = "m" * 64
    val vidA = kf(0) + filler + kf(1) + filler + kf(2) // sets {1,2,4}
    val vidB = kf(0) + filler + kf(1) + "tail"         // sets {1,2}
    val vidC = "q" * 64                                 // set {0}
    val df = Seq((1L, vidA, "en", "s0", vidA.length.toLong),
      (2L, vidB, "en", "s0", vidB.length.toLong),
      (3L, vidC, "en", "s0", vidC.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("mm_video_neardup", tempSfDir("documents" -> df))
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("n_common"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.getAs[Long]("overlap_x1000")))
    assert(rows.toSeq == Seq((1L, 2L, 2L, 3L, 2L, 1000L)),
      s"expected exactly the A-B pair with full overlap of B, got " +
        rows.toSeq)
  }

  test("mm_frame_sample: frame math matches payload sizes") {
    q("mm_frame_sample").collect().take(50).foreach { r =>
      val nf = r.getAs[Int]("n_frames")
      val sampled = r.getAs[Int]("n_sampled")
      assert(sampled == (nf + 3) / 4)
    }
  }

  test("llm_lang_id: english markers drive the prediction") {
    val df = Seq(
      (1L, "the cat and the dog of the house", "en", "s0", 32L),
      (2L, "xyzzy plugh quux frobozz", "zz", "s0", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("llm_lang_id", tempSfDir("documents" -> df)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.contains(("en", "en")))
    assert(rows.contains(("zz", "und")))
  }

  test("mm_perceptual_dedup: byte-different payloads with matching block " +
      "profile collapse; profile-different payloads stay apart") {
    val spark = this.spark
    import spark.implicits._
    // docs 1 and 2 differ AFTER byte 32 (different md5) but share the
    // 32-byte prefix → same phash bucket. doc 3's bright first block
    // flips bit 0 → different bucket. Real pipeline: re-encoded media
    // with identical visual lead collapses, genuinely different stays.
    val base = "aaaabbbbccccddddeeeeffffgggghhhh" // 32 bytes, 8 blocks
    val bright = "zzzz" + base.substring(4)
    val df = Seq(
      (1L, base + " tail one", "en", "s0", 40L),
      (2L, base + " a different tail entirely", "en", "s0", 58L),
      (3L, bright + " tail one", "en", "s0", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("mm_perceptual_dedup", tempSfDir("documents" -> df))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSet == Set((1L, 2L, 2L), (3L, 1L, 1L)),
      s"expected {1,2} collapsed and {3} apart, got ${rows.toSeq}")
  }

  test("llm_quality_winsor: p90 order statistic caps the outlier exactly") {
    // n_chars 1..10 in one source: rank (9·10+9) div 10 = 9 → cap90 = 9;
    // sum_raw = 55, winsorized = 54 (only the 10 clips to 9)
    val docs = (1 to 10).map(i =>
      (i.toLong, s"doc number $i", "en", "s0", i.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = q("llm_quality_winsor", tempSfDir("documents" -> docs)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_docs") == 10L)
    assert(r.getAs[Long]("cap90") == 9L)
    assert(r.getAs[Long]("sum_raw") == 55L)
    assert(r.getAs[Long]("sum_winsor") == 54L)
  }

  test("llm_pmi_bigrams: hand-computed cross-multiplied lift, support gate") {
    // tokens: a×5, b×5, c, d → N_uni = 12; bigrams (11): ab×5, ba×4,
    // bc, cd. Support ≥ 5 keeps only (a,b):
    //   lift_x1000 = (5·12²·1000) div (11·5·5) = 720000 div 275 = 2618
    val docs = Seq((1L, "a b a b a b a b a b c d", "en", "s0", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = q("llm_pmi_bigrams", tempSfDir("documents" -> docs)).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getString(1)) == (("a", "b")))
    assert(r.getAs[Long]("n_ab") == 5L)
    assert(r.getAs[Long]("n_a") == 5L && r.getAs[Long]("n_b") == 5L)
    assert(r.getAs[Long]("lift_x1000") == 2618L)
  }

  test("llm_lm_score: hand-computed bigram fluency, sub-2-word docs excluded") {
    val df = Seq(
      (1L, "a b a b", "en", "s0", 7L),
      (2L, "a b c", "en", "s0", 5L),
      (3L, "x", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("llm_lm_score", tempSfDir("documents" -> df)).collect()
    // LM: n12(a,b)=3 n12(b,a)=1 n12(b,c)=1; n1(a)=3 n1(b)=2
    // r(a,b) = 3e6 div 3 = 1_000_000; r(b,a) = r(b,c) = 500_000
    // doc1: (1e6 + 5e5 + 1e6) div 3 = 833_333; doc2: 1.5e6 div 2 = 750_000
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // doc 3 has no bigram
    val m = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m(1L) == ((3L, 833333L)))
    assert(m(2L) == ((2L, 750000L)))
  }

  test("llm_dsir_weight: add-1 smoothed target/raw ratios, integer mean") {
    val df = Seq(
      (1L, "a b", "en", "s0", 3L),
      (2L, "a b c", "de", "s0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("llm_dsir_weight", tempSfDir("documents" -> df)).collect()
    // (a,b): raw 2, tgt 1 → (2·1e6) div 3 = 666_666
    // (b,c): raw 1, tgt 0 → 1e6 div 2 = 500_000
    // doc1 = 666_666; doc2 = (666_666 + 500_000) div 2 = 583_333
    val m = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m(1L) == ((1L, 666666L)))
    assert(m(2L) == ((2L, 583333L)))
    // in-domain doc scores strictly higher than the out-of-domain one
    assert(m(1L)._2 > m(2L)._2)
  }

  test("llm_ngram_diversity: repeated vs diverse text, hand-computed ratios") {
    val df = Seq(
      (1L, "a a a a", "en", "rep", 7L),
      (2L, "a b c", "en", "div", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("llm_ngram_diversity", tempSfDir("documents" -> df)).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // "a a a a": 4 unigrams 1 distinct; 3 bigrams 1; 2 trigrams 1
    assert(rows(("rep", 1)) == ((4L, 1L, 250L)))
    assert(rows(("rep", 2)) == ((3L, 1L, 333L)))
    assert(rows(("rep", 3)) == ((2L, 1L, 500L)))
    // "a b c": all grams distinct → ratio 1000 at every n
    assert(rows(("div", 1)) == ((3L, 3L, 1000L)))
    assert(rows(("div", 2)) == ((2L, 2L, 1000L)))
    assert(rows(("div", 3)) == ((1L, 1L, 1000L)))
  }

  test("llm_budget_waterfill: level, remainder distribution, exact-budget invariant") {
    // sources 6/50/60 docs → total 116, budget 69; level = (69-6) div 2
    // = 31 with remainder 1 → the LARGEST capped source gets the +1
    val docs = (1 to 6).map(i => (i.toLong, s"t$i", "en", "A", 2L)) ++
      (11 to 60).map(i => (i.toLong, s"t$i", "en", "B", 2L)) ++
      (101 to 160).map(i => (i.toLong, s"t$i", "en", "C", 2L))
    val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("llm_budget_waterfill", tempSfDir("documents" -> df))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    assert(rows("A") == ((6L, 0, 6L)))
    assert(rows("B") == ((50L, 1, 31L)))
    assert(rows("C") == ((60L, 1, 32L)))
    // invariant on the real corpus: allocations sum EXACTLY to budget
    // and never exceed supply
    val real = q("llm_budget_waterfill").collect()
    val n = real.map(_.getLong(1)).sum
    assert(real.map(_.getLong(3)).sum == 6 * n / 10)
    assert(real.forall(r => r.getLong(3) <= r.getLong(1)))
  }

  test("llm_score_calibrate: rank percentiles span 0..1000, ties broken by id") {
    val df = Seq(
      (1L, "the cat sat on the mat", "en", "A", 22L),  // mixed score
      (2L, "zz zz zz zz", "en", "A", 11L),             // repetitive → low
      (3L, "a quick brown fox jumps today", "en", "A", 29L), // distinct → high
      (4L, "solo", "en", "B", 4L))                     // single-doc source
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("llm_score_calibrate", tempSfDir("documents" -> df))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows(2L)._2 == 0L)     // lowest score in A
    assert(rows(3L)._2 == 1000L)  // highest score in A
    assert(rows(1L)._2 == 500L)   // middle of 3
    assert(rows(4L) == ((1L, 500L))) // single-doc source pins to 500
    // real corpus: every multi-doc source spans the full 0..1000 range
    val real = q("llm_score_calibrate").collect()
      .groupBy(_.getString(1)).filter(_._2.length > 1)
    assert(real.values.forall(rs =>
      rs.map(_.getLong(3)).min == 0L && rs.map(_.getLong(3)).max == 1000L))
  }

  test("llm_padding_waste: power-of-two buckets, hand-computed waste") {
    def words(k: Int) = (1 to k).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, words(1), "en", "A", 2L),   // bucket 1
      (2L, words(2), "en", "A", 5L),   // bucket 2
      (3L, words(3), "en", "A", 8L),   // bucket 4
      (4L, words(5), "en", "A", 14L),  // bucket 8
      (5L, words(8), "en", "A", 23L))  // bucket 8 (exact power stays)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = q("llm_padding_waste", tempSfDir("documents" -> df))
      .collect().head
    // tokens 1+2+3+5+8 = 19; padded 1+2+4+8+8 = 23; waste = 4000 div 23
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((5L, 19L, 23L, 4000L / 23L)))
  }

  test("llm_gopher_rules: each rule fails exactly its engineered doc") {
    val fifty = ((1 to 48).map(i => s"word$i") ++ Seq("the", "and"))
      .mkString(" ") // 50 words, 2 distinct stopwords, alpha, len ok
    val df = Seq(
      (1L, fifty, "en", "A", 300L),                       // passes all
      (2L, "the and tiny", "en", "A", 12L),               // fails count
      (3L, ((1 to 48).map(_ => "supercalifragilistic") ++
        Seq("the", "and")).mkString(" "), "en", "A", 0L), // fails wordlen
      (4L, ((1 to 48).map(i => s"$i") ++ Seq("the", "and"))
        .mkString(" "), "en", "A", 0L),                   // fails alpha
      (5L, (1 to 50).map(i => s"word$i").mkString(" "), "en", "A", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = q("llm_gopher_rules", tempSfDir("documents" -> df)).collect()
      .map(r => r.getLong(0) -> ((r.getInt(5), r.getInt(6), r.getInt(7),
        r.getInt(8), r.getInt(9)))).toMap
    assert(rows(1L) == ((1, 1, 1, 1, 1)))
    assert(rows(2L) == ((0, 1, 1, 1, 0)))
    assert(rows(3L)._2 == 0 && rows(3L)._5 == 0) // 20-char words
    assert(rows(4L)._3 == 0 && rows(4L)._5 == 0) // 96% numeric words
    assert(rows(5L) == ((1, 1, 1, 0, 0)))        // no stopwords at all
    // real corpus: the gate actually separates (both verdicts present)
    val kept = q("llm_gopher_rules").collect().map(_.getInt(9)).toSet
    assert(kept == Set(0, 1))
  }

  test("llm_dsir_sample: importance resampling prefers the target domain") {
    val kept = q("llm_dsir_sample").collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val keptIds = kept.map(_.getLong(0)).toSet
    def rate(p: String => Boolean) = {
      val pool = docs.filter(d => p(d._2))
      pool.count(d => keptIds(d._1)).toDouble / pool.length
    }
    // the whole point of DSIR: target-domain (en) docs survive at a
    // strictly higher rate than out-of-domain ones
    assert(rate(_ == "en") > rate(_ != "en"),
      s"en rate ${rate(_ == "en")} vs other ${rate(_ != "en")}")
    // deterministic: a second evaluation picks the identical set
    assert(q("llm_dsir_sample").collect().map(_.getLong(0)).toSet == keptIds)
  }

  test("llm_train_manifest: schedule fields exactly on the train slice") {
    val rows = q("llm_train_manifest").collect()
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length == n && rows.map(_.getLong(0)).distinct.length == n)
    val (train, rest) = rows.partition(_.getString(2) == "train")
    assert(rest.map(_.getString(2)).toSet == Set("val", "test"))
    // train rows carry the full schedule; eval rows carry NONE of it
    assert(train.forall(r => !r.isNullAt(3) && !r.isNullAt(4) &&
      !r.isNullAt(5) && !r.isNullAt(6)))
    assert(rest.forall(r => r.isNullAt(3) && r.isNullAt(4) &&
      r.isNullAt(5) && r.isNullAt(6)))
    // seq is dense 1..k within every (phase, shard) of the train slice
    for ((_, grp) <- train.groupBy(r => (r.getInt(3), r.getInt(4))))
      assert(grp.map(_.getLong(5)).sorted.toSeq == (1L to grp.length).toSeq)
    // split sizes agree with the standalone llm_split aggregation
    val manifestSplits = rows.groupBy(_.getString(2)).map {
      case (s, rs) => s -> rs.length.toLong
    }
    val split = q("llm_split").collect()
      .groupBy(_.getString(1)).map { case (s, rs) =>
        s -> rs.map(_.getLong(2)).sum }
    assert(manifestSplits == split)
  }

  test("llm_curriculum: every doc once, easy phase first, dense sharded seqs") {
    val rows = q("llm_curriculum").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length == n && rows.map(_._4).distinct.length == n)
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 2 && r._2 >= 0 && r._2 < 16))
    // seq is dense 1..k within every (phase, shard)
    for (((_, _), grp) <- rows.groupBy(r => (r._1, r._2)))
      assert(grp.map(_._3).sorted.toSeq == (1L to grp.length).toSeq)
    // phase agrees with the calibrated percentile bands
    val pct = q("llm_score_calibrate").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rows.forall { case (phase, _, _, id) =>
      val p = pct(id)
      phase == (if (p >= 667) 0 else if (p >= 334) 1 else 2)
    })
  }

  test("mm_payload_shard: digest-prefix routing, manifest accounts every object") {
    val rows = q("mm_payload_shard").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    assert(rows.map(_._2).sum == docs.length)
    assert(rows.forall(r => r._1 >= 0 && r._1 < 64 && r._3 <= r._2))
    assert(rows.map(_._4).sum ==
      docs.map(_.getBytes("UTF-8").length.toLong).sum)
    // routing matches a direct digest computation
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = docs.groupBy { t =>
      (md.digest(t.getBytes("UTF-8"))(0) & 0xff) % 64
    }.map { case (s, ts) => s -> ts.length.toLong }
    assert(rows.map(r => r._1 -> r._2).toMap == want)
  }

  test("budgetWaterfill: budget above total supply caps nothing") {
    val counts = Seq(("A", 5L), ("B", 10L)).toDF("source", "n")
    val rows = graft.api.GraftPipelines
      .budgetWaterfill(counts, Seq(100L).toDF("budget")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3))))
      .toMap
    assert(rows == Map("A" -> ((5L, 0, 5L)), "B" -> ((10L, 0, 10L))))
  }

  test("llm_tokenizer_fertility: per-lang sums consistent with llm_bpe_apply") {
    val fert = q("llm_tokenizer_fertility").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // fertility ≥ 1 token/word by construction
    assert(fert.values.forall { case (w, t) => t >= w })
    // per-doc BPE counts grouped by the doc's lang reproduce n_tokens
    val langOf = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byLang = q("llm_bpe_apply").collect()
      .groupBy(r => langOf(r.getLong(0)))
      .map { case (l, rs) => l -> rs.map(_.getLong(1)).sum }
    assert(fert.map { case (l, (_, t)) => l -> t } == byLang)
  }

  test("llm_bpe_vocab / llm_bpe_apply: an empty corpus and an " +
      "all-single-symbol corpus learn no merge and tokenize nothing") {
    def corpus(texts: String*) = tempSfDir("documents" ->
      texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "s0", Option(t).fold(0L)(_.length.toLong))
      }.toDF("doc_id", "text", "lang", "source", "n_chars"))
    for (dir <- Seq(corpus(), corpus("a b a", "c", "", "b  c", null))) {
      assert(q("llm_bpe_vocab", dir).collect().isEmpty)
      assert(q("llm_bpe_apply", dir).collect().isEmpty)
    }
    // the pair-round filter tests for a space instead of splitting:
    // size(split(s, ' ')) is one plus the number of spaces, NULL on NULL
    val segs = Seq("", " ", "a", "a b", "a  b", "ab c d", null).toDF("seg")
    assert(segs.filter("size(split(seg, ' ')) >= 2").collect().toSet ==
      segs.filter("instr(seg, ' ') > 0").collect().toSet)
  }

  test("llm_ccnet_buckets: per-lang terciles are balanced, score ranges " +
      "are ordered head >= middle >= tail, and doc mass is conserved") {
    val rows = q("llm_ccnet_buckets").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    val byLang = rows.groupBy(_._1)
    byLang.foreach { case (lang, rs) =>
      assert(rs.map(_._2).sorted.toSeq == Seq("head", "middle", "tail"),
        s"$lang must have exactly the three CCNet buckets")
      val n = rs.map(t => t._2 -> t._3).toMap
      assert(n.values.max - n.values.min <= 1,
        s"$lang terciles must be balanced: $n")
      // the cut is on (score desc): every head score >= every middle
      // score >= every tail score
      val rng = rs.map(t => t._2 -> ((t._4, t._5))).toMap
      assert(rng("head")._1 >= rng("middle")._2 &&
        rng("middle")._1 >= rng("tail")._2, s"$lang ranges overlap: $rng")
    }
    // every scored doc lands in exactly one bucket
    val scored = q("llm_lm_score").count()
    assert(rows.map(_._3).sum == scored)
  }

  test("llm_k_anonymity: group sizes are true QI counts, verdicts split " +
      "exactly at k, and both classes occur on the corpus") {
    val rows = q("llm_k_anonymity").collect()
    // every document appears exactly once — the audit drops nobody
    assert(rows.map(_.getLong(0)).distinct.length == rows.length &&
      rows.length == spark.read.parquet(s"$sf/documents.parquet").count())
    // group_n is the true count of rows sharing the QI triple
    val counts = rows
      .groupBy(r => (r.getString(1), r.getString(2), r.getLong(3)))
      .view.mapValues(_.length.toLong).toMap
    assert(rows.forall(r =>
      r.getLong(4) == counts((r.getString(1), r.getString(2), r.getLong(3)))))
    // kept ⟺ group_n ≥ k, and the corpus exercises both verdicts
    assert(rows.forall(r => (r.getInt(5) == 1) == (r.getLong(4) >= 5)))
    assert(rows.exists(_.getInt(5) == 1) && rows.exists(_.getInt(5) == 0),
      "fixture degenerate: need both kept and suppressed QI groups")
  }

  test("llm_heavy_hitters: equals the unpruned exact top-20") {
    import org.apache.spark.sql.functions._
    val got = q("llm_heavy_hitters").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(20).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("mgCandidates: every item with freq > N/cap survives partitioned " +
      "summaries; a premise-violating corpus fails LOUDLY") {
    // 3 partitions, cap 4: 'hot' has global freq 30 > N/cap = 90/4,
    // spread so no partition sees it as a local majority
    val words = (Seq.fill(10)("hot") ++ (1 to 20).map(i => s"a$i")) ++
      (Seq.fill(10)("hot") ++ (1 to 20).map(i => s"b$i")) ++
      (Seq.fill(10)("hot") ++ (1 to 20).map(i => s"c$i"))
    val ds = spark.createDataset(words)(
      org.apache.spark.sql.Encoders.STRING).repartition(3)
    val cands = ds.mapPartitions(graft.operators.TextOps.mgCandidates(4))(
      org.apache.spark.sql.Encoders.STRING).collect().toSet
    assert(cands.contains("hot"),
      s"MG summaries dropped the global heavy hitter: $cands")
    // 300 distinct single-occurrence words: rank-20 count 1 fails the
    // kth*cap > N premise -> the entry must refuse, not silently answer
    val flat = (1 to 300).map(i => (i.toLong, s"w$i", "en", "s0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempSfDir("documents" -> flat)
    intercept[IllegalArgumentException] {
      q("llm_heavy_hitters", dir).collect()
    }
  }
}
