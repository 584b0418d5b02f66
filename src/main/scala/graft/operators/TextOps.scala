package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text analysis for training-data pipelines (SURVEY.md §2.11):
  * language-ID heuristic, quality scoring, token counting, and document
  * fingerprinting — all per-document map-side work followed by bounded
  * aggregations, so each scales linearly with no wide shuffle beyond the
  * final group-by.
  */
object TextOps {

  /** Stopword markers for the n-gram/stopword language heuristic (the
    * canonical list lives on the pipeline API). */
  private val EN_MARKERS = graft.api.GraftPipelines.DefaultStopwords
  private val markersInList = EN_MARKERS.map(w => s"'$w'").mkString(", ")

  /** GPT-2-style pre-tokenizer pattern (ASCII form of the public
    * `'s|'t|'re|…| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+` rule): counting
    * its matches approximates BPE token counts without a vocab file —
    * the budget estimator every training-data pipeline runs. Uses only
    * alternation/classes with leftmost-first semantics, identical in
    * Java regex and RE2, so the DuckDB oracle counts the same tokens.
    */
  private val BPE_PAT =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  /** BM25 demo query: two common terms + the rare 'dup' marker (df≈5%
    * of docs), so the idf spread is visible in the ranking. */
  private val BM25_TERMS = Seq("spark", "merge", "dup")

  /** The log-idf BM25 oracle, shared VERBATIM by `llm_bm25_log` (the
    * per-query corpus-scan plan) and `llm_bm25_served` (the same
    * scores served from the write-once postings index) — one SQL text,
    * so the storage refactor is hash-proven output-identical. The ln
    * is [[graft.api.GraftPipelines.lnLayers]]' fixed IEEE-double DAG
    * in DuckDB shift spelling, one CTE per layer over the 1-row
    * (stats × df) frame.
    */
  private lazy val bm25LogOracleSql: String = {
    val terms = BM25_TERMS
    val (k1, b) = (1.2, 0.75)
    val inList = terms.map(t => s"'$t'").mkString(", ")
    def pivotMax(v: String) = terms.map(t =>
      s"coalesce(max(CASE WHEN term = '$t' THEN $v END), 0) AS ${v}_$t")
      .mkString(", ")
    val layers = terms.map { t =>
      graft.api.GraftPipelines.lnLayers(
        s"((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df_$t AS DOUBLE) + 0.5))",
        t, "(1::BIGINT << %s)")
    }
    val lnCtes = layers.head.indices.map { k =>
      val cols = layers.map { l => s"${l(k)._2} AS ${l(k)._1}" }
        .mkString(", ")
      val from = if (k == 0) "base" else s"lnl${k - 1}"
      s"lnl$k AS (SELECT *, $cols FROM $from)"
    }.mkString(",\n")
    val lastLn = s"lnl${layers.head.size - 1}"
    val contribs = terms.map { t =>
      s"""(idf_$t *
         |  ((CAST(coalesce(tf_$t, 0) AS DOUBLE) * ${k1 + 1}) /
         |   (CAST(coalesce(tf_$t, 0) AS DOUBLE) +
         |    $k1 * (${1 - b} + $b * (CAST(dl AS DOUBLE) / avgdl)))))""".stripMargin
    }.mkString(" +\n")
    s"""WITH lens AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM lens),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents)
       |  WHERE term IN ($inList) GROUP BY doc_id, term),
       |dfrow AS (SELECT ${pivotMax("df")} FROM
       |  (SELECT term, count(*) AS df FROM tf GROUP BY term)),
       |base AS (SELECT * FROM stats CROSS JOIN dfrow),
       |$lnCtes,
       |idfrow AS (SELECT * FROM $lastLn),
       |tfrow AS (SELECT doc_id, ${pivotMax("tf")} FROM tf GROUP BY doc_id)
       |SELECT doc_id, dl, score FROM (
       |  SELECT l.doc_id, l.dl,
       |   ($contribs) AS score
       |  FROM lens l LEFT JOIN tfrow t ON l.doc_id = t.doc_id
       |  CROSS JOIN idfrow)
       |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  /** Oracle bodies shared between the standalone signal entries and the
    * composed `llm_doc_features` export (each stays hash-verified on
    * its own; the composition reuses the IDENTICAL SQL as nested CTEs,
    * so a drift between the two is impossible by construction). */
  private lazy val qualitySelectSql: String =
    s"""SELECT doc_id,
       | CAST(n_words AS INTEGER) AS n_words,
       | CAST(n_distinct AS INTEGER) AS n_distinct,
       | avg_word_len, ttr, stop_ratio,
       | (ttr * 0.5) + (stop_ratio * 0.3) +
       |  (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 8.0
       |        THEN 0.2 ELSE 0.0 END) AS score
       |FROM (
       |  SELECT doc_id, n_words, n_distinct,
       |   CAST(sum_len AS DOUBLE) / n_words AS avg_word_len,
       |   CAST(n_distinct AS DOUBLE) / n_words AS ttr,
       |   CAST(n_stop AS DOUBLE) / n_words AS stop_ratio
       |  FROM (
       |    SELECT doc_id, len(w) AS n_words,
       |     len(list_distinct(w)) AS n_distinct,
       |     list_sum(list_transform(w, x -> length(x))) AS sum_len,
       |     len(list_filter(w, x -> x IN ($markersInList))) AS n_stop
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))""".stripMargin

  private lazy val repetitionSelectSql: String =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |           i -> w[i] || ' ' || w[i+1])) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 2),
      |c AS (SELECT doc_id, s, count(*) AS cnt FROM g GROUP BY 1, 2),
      |t AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams
      |      FROM c GROUP BY 1),
      |top AS (
      |  SELECT doc_id, s, cnt FROM (
      |    SELECT doc_id, s, cnt, row_number() OVER (
      |      PARTITION BY doc_id ORDER BY cnt DESC, s) AS rn FROM c)
      |  WHERE rn = 1)
      |SELECT doc_id, s AS top_gram, CAST(cnt AS BIGINT) AS top_n,
      | n_grams, CAST(cnt AS DOUBLE) / n_grams AS rep_ratio
      |FROM top JOIN t USING (doc_id)""".stripMargin

  private lazy val substringSelectSql: String =
    """WITH g0 AS (
      |  SELECT doc_id, w, unnest(range(0, len(w) - 9)) AS idx
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 10),
      |g AS (
      |  SELECT doc_id, idx,
      |   CAST(md5_number_lower(array_to_string(w[idx+1:idx+10], ' '))
      |        % 1152921504606846976 AS BIGINT) AS h
      |  FROM g0),
      |shared AS (
      |  SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) > 1),
      |hits AS (SELECT doc_id, idx FROM g JOIN shared USING (h)),
      |per_doc AS (
      |  SELECT doc_id, count(*) AS n_shared FROM hits GROUP BY doc_id),
      |runs AS (
      |  SELECT doc_id,
      |   idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
      |  FROM hits),
      |mx AS (
      |  SELECT doc_id, max(rl) AS max_run FROM (
      |    SELECT doc_id, count(*) AS rl FROM runs GROUP BY doc_id, grp)
      |  GROUP BY doc_id)
      |SELECT d.doc_id,
      | CAST(len(string_split(text, ' ')) - 9 AS INTEGER) AS n_grams,
      | coalesce(n_shared, 0) AS n_shared,
      | CAST(coalesce(n_shared, 0) AS DOUBLE)
      |   / (len(string_split(text, ' ')) - 9) AS frac_shared,
      | CASE WHEN max_run IS NOT NULL THEN max_run + 9
      |      ELSE 0 END AS max_dup_words
      |FROM documents d
      |LEFT JOIN per_doc USING (doc_id)
      |LEFT JOIN mx USING (doc_id)
      |WHERE len(string_split(text, ' ')) >= 10""".stripMargin

  /** Chained staged-redaction subquery over `srcSelect` (which must
    * yield `doc_id` and `t0`): one nested select per PiiPattern,
    * counting on the text as already redacted by earlier patterns —
    * the exact SQL mirror of `redactPii`'s fold, generated from the
    * SAME PiiPatterns constants in the same order.
    */
  private def piiStagedSql(srcSelect: String): String =
    graft.api.GraftPipelines.PiiPatterns.zipWithIndex.foldLeft(srcSelect) {
      case (inner, ((name, pat, rep), i)) =>
        s"""SELECT *,
           | CAST(len(regexp_extract_all(t$i, '$pat')) AS INTEGER) AS n_$name,
           | regexp_replace(t$i, '$pat', '$rep', 'g') AS t${i + 1}
           |FROM ($inner)""".stripMargin
    }

  private def piiNames: Seq[String] =
    graft.api.GraftPipelines.PiiPatterns.map(p => s"n_${p._1}")

  /** Composed doc-feature SQL (no ORDER BY) — shared between the
    * `llm_doc_features` export and the `llm_quality_classify`
    * application so the classifier provably scores the exact exported
    * features. */
  private lazy val docFeaturesSql: String = {
    val piiSum = piiNames.mkString(" + ")
    s"""WITH q AS ($qualitySelectSql),
       |rep AS ($repetitionSelectSql),
       |sub AS ($substringSelectSql),
       |pii AS (SELECT doc_id, $piiSum AS n_pii
       |  FROM (${piiStagedSql("SELECT doc_id, text AS t0 FROM documents")}))
       |SELECT q.doc_id, q.n_words, q.n_distinct, q.avg_word_len,
       | q.ttr, q.stop_ratio, q.score,
       | CASE WHEN q.stop_ratio >= 0.05 THEN 'en' ELSE 'und' END
       |   AS pred_lang,
       | rep.rep_ratio, sub.frac_shared, sub.max_dup_words, pii.n_pii
       |FROM q
       |LEFT JOIN rep USING (doc_id)
       |LEFT JOIN sub USING (doc_id)
       |LEFT JOIN pii USING (doc_id)""".stripMargin
  }

  /** The trained linear model: literal weights over the feature vector,
    * left-associated exactly as the Spark column builds it.
    * Linear-score-plus-threshold only — no sigmoid: exp() is not
    * guaranteed bit-identical across libms, and the decision is a
    * monotone threshold on the linear score anyway.
    *
    * Provenance: these are the OUTPUT of [[graft.DevFit]] — a
    * deterministic, seed-free closed-form ridge fit (normal equations,
    * lambda 1e-3, Gaussian elimination) of a clean-vs-corrupted label
    * on the same five `docFeatures` signals, over the sf0.01 English
    * docs with doc_id-deterministic corruptions as negatives (the
    * public CCNet/fasttext quality-gate recipe). Re-running
    * `graft.DevFit` reproduces them bit-for-bit (train acc 1.0000,
    * 218/218 per class); the 4-decimal rounding is what ships, and the
    * decision sits at the 0.5 label midpoint. */
  private lazy val clfScoreSql: String =
    "0.1605 + 1.8673 * score - 0.4244 * stop_ratio" +
      " - 1.6532 * COALESCE(rep_ratio, 0.0)" +
      " + 0.01 * COALESCE(frac_shared, 0.0)" +
      " - 0.1434 * COALESCE(n_pii, 0)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Language-ID heuristic: stopword-ratio → 'en' / 'und'; confusion
    // counts against the labeled lang column.
    "llm_lang_id" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .withColumn("w", split($"text", " "))
        .withColumn("n_stop", expr(
          s"size(filter(w, x -> x IN ($markersInList)))"))
        .withColumn("ratio", $"n_stop".cast("double") / size($"w"))
        .withColumn("pred_lang", when($"ratio" >= 0.05, "en").otherwise("und"))
        .groupBy($"lang", $"pred_lang").agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"pred_lang")
    }),

    // Quality scoring: length stats, type-token ratio, stopword ratio,
    // and a fixed-weight composite score per document.
    "llm_quality_score" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .qualityScores(Tables.documents(s, dir), EN_MARKERS)
        .orderBy($"doc_id")
    }),

    // Corpus health report: the per-source dashboard panel a curation
    // run ends with — volume (docs/tokens), exact-dup rate, and the
    // quality-score distribution, in one bounded aggregation. Score
    // stats are min/median/max (order-independent, bit-exact in both
    // engines) — never avg() over raw doubles, whose summation order
    // is partition-dependent.
    "llm_corpus_report" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = graft.api.GraftPipelines
        .qualityScores(docs, EN_MARKERS)
        .join(docs.select($"doc_id", $"source", $"text"), "doc_id")
      scored.groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum($"n_words".cast("long")).as("sum_tokens"),
          countDistinct(md5($"text")).as("n_unique_texts"),
          (lit(1.0) - countDistinct(md5($"text")).cast("double")
            / count(lit(1))).as("dup_rate"),
          min($"score").as("min_score"),
          expr("percentile(score, 0.5)").as("median_score"),
          max($"score").as("max_score"))
        .orderBy($"source")
    }),

    // Relative quality gate: keep docs strictly above their source's
    // median composite score — the rank-based sibling of curate()'s
    // absolute threshold (robust to per-source score-scale drift).
    // groupedPercentiles(exact = true) is safe here because groups =
    // sources (bounded); the 100 TB path flips the same call to the
    // approx_percentile sketch.
    "llm_quality_filter" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scores = graft.api.GraftPipelines
        .qualityScores(docs, EN_MARKERS)
        .join(docs.select($"doc_id", $"source"), "doc_id")
      val med = graft.api.GraftPipelines.groupedPercentiles(
          scores, "source", "score", Seq(0.5), exact = true)
        .withColumnRenamed("p50", "src_median")
      scores.join(med, "source")
        .filter($"score" > $"src_median")
        .select($"doc_id", $"source", $"score", $"src_median")
        .orderBy($"doc_id")
    }),

    // Token counting: whitespace tokens and regex word tokens, per source.
    "llm_token_count" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .withColumn("n_ws", size(split($"text", " ")))
        .withColumn("n_re", size(regexp_extract_all($"text", lit("[a-z]+"), lit(0))))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_ws").as("sum_ws_tokens"),
          sum($"n_re").as("sum_re_tokens"))
        .orderBy($"source")
    }),

    // BPE-ish token budget: per-doc GPT-2-style pre-tokenizer match
    // count plus the per-source total a data-mix planner consumes.
    "llm_token_bpe" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .withColumn("n_bpe",
          size(regexp_extract_all($"text", lit(BPE_PAT), lit(0))))
        .select($"doc_id", $"source", $"n_bpe")
        .orderBy($"doc_id")
    }),

    // Repeated-phrase quality signal: most frequent 2-gram per doc and
    // its share of all 2-grams (boilerplate/spam scores high) — the
    // repetition filter of Gopher-style quality pipelines.
    "llm_repetition" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .repetitionStats(Tables.documents(s, dir), 2)
        .orderBy($"doc_id")
    }),

    // Deterministic stratified sampling for data mixing: per-source
    // keep rates (100‰/300‰/500‰/700‰ cycling by source index) decided
    // by a salted doc-id hash, never rand() — reruns and the oracle
    // select identical rows.
    "llm_sample_stratified" -> ((s, dir) => {
      import s.implicits._
      val rates = (0 until 20)
        .map(i => s"src$i" -> ((i % 4) * 200 + 100)).toMap
      graft.api.GraftPipelines
        .stratifiedSample(Tables.documents(s, dir), rates)
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    }),

    // Deterministic train/val/test split (80/10/10 by salted doc-id
    // hash): per source × split counts — stable across reruns and
    // engines, so no doc ever migrates between train and eval.
    "llm_split" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.hashSplit(Tables.documents(s, dir))
        .groupBy($"source", $"split").agg(count(lit(1)).as("n"))
        .orderBy($"source", $"split")
    }),

    // Deterministic global shuffle into 8 training shards: per doc its
    // shard and exact position — the byte-reproducible permutation a
    // training run's data-order audit needs. One hash-partition
    // exchange, per-shard window sorts only that shard (see
    // GraftPipelines.globalShuffle's 100 TB note).
    "llm_global_shuffle" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.globalShuffle(Tables.documents(s, dir), 8)
        .select($"doc_id", $"shard", $"pos")
        .orderBy($"shard", $"pos")
    }),

    // Greedy contiguous sequence packing: docs in id order fill
    // 2048-token bins per source — the batch-shaping step between
    // curation and tokenization.
    "llm_pack_sequences" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.packSequences(
          Tables.documents(s, dir)
            .withColumn("n_tokens", size(split($"text", " "))),
          2048)
        .select($"doc_id", $"source", $"n_tokens", $"bin")
        .orderBy($"doc_id")
    }),

    // Per-doc feature vector: every curation signal in one wide row —
    // the classifier-training export (quality, language, repetition,
    // substring overlap, PII). Composed from independently-verified
    // pieces with doc-keyed left joins.
    "llm_doc_features" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .docFeatures(Tables.documents(s, dir), EN_MARKERS)
        .orderBy($"doc_id")
    }),

    // Classifier application: the inference half of the doc_features
    // training export — an offline-trained linear model applied
    // map-side over the SAME feature pipeline. Weights are codegen'd
    // literals (no broadcast, no UDF) produced by the deterministic
    // ridge fit in graft.DevFit (see clfScoreSql's provenance note);
    // the score repeats the oracle's literal order term-for-term (IEEE
    // doubles, left-associated), and the keep decision is a threshold
    // on the linear score — the shape a fasttext-style quality gate
    // runs over 100 TB.
    "llm_quality_classify" -> ((s, dir) => {
      import s.implicits._
      val f = graft.api.GraftPipelines
        .docFeatures(Tables.documents(s, dir), EN_MARKERS)
      val clfScore =
        lit(0.1605) + lit(1.8673) * $"score" -
          lit(0.4244) * $"stop_ratio" -
          lit(1.6532) * coalesce($"rep_ratio", lit(0.0)) +
          lit(0.01) * coalesce($"frac_shared", lit(0.0)) -
          lit(0.1434) * coalesce($"n_pii", lit(0))
      f.select($"doc_id", clfScore.as("clf_score"),
          when(clfScore > 0.5, 1).otherwise(0).as("keep"))
        .orderBy($"doc_id")
    }),

    // Salted two-level packing: the hot-stratum escape hatch, with the
    // whole bin arithmetic (salted sub-strata, interleaved bin ids)
    // hash-checked against the oracle's mirror of the same md5 salt.
    "llm_pack_salted" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.packSequencesSalted(
          Tables.documents(s, dir)
            .withColumn("n_tokens", size(split($"text", " "))),
          2048, 4)
        .select($"doc_id", $"source", $"n_tokens", $"bin")
        .orderBy($"doc_id")
    }),

    // Exact-substring overlap, stride 1 (Lee et al. 2021): per doc the
    // shared-gram fraction and the longest exactly-duplicated substring
    // length in words — the offset-free signal the stride-10 span scrub
    // misses. Only 60-bit gram hashes and positions shuffle.
    "llm_substring_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .substringOverlap(Tables.documents(s, dir), 10)
        .orderBy($"doc_id")
    }),

    // PII scrub: the privacy pass before corpus release. The synthetic
    // corpus carries no PII by construction, so deterministic spans are
    // planted in-query (both engines construct the identical text —
    // the ev_nested_props pattern) and the scrub must find and redact
    // exactly those. Conservative character-class regexes only — the
    // Java-regex/RE2 common subset — so the redacted text hash-matches
    // byte-for-byte. Pure map-side projection: scan-speed at 100 TB.
    "llm_pii_redact" -> ((s, dir) => {
      import s.implicits._
      val planted = Tables.documents(s, dir)
        .withColumn("text", concat($"text",
          when($"doc_id" % 5 === 0, concat(lit(" contact user"),
            $"doc_id", lit("@example.com"))).otherwise(lit("")),
          when($"doc_id" % 7 === 0, lit(" id 123-45-6789"))
            .otherwise(lit("")),
          when($"doc_id" % 11 === 0, lit(" call 555-123-4567"))
            .otherwise(lit(""))))
      graft.api.GraftPipelines.redactPii(planted)
        .orderBy($"doc_id")
    }),

    // k-anonymity audit + suppression gate (Sweeney 2002, public
    // formulation): the privacy pass AFTER the PII scrub — with direct
    // identifiers redacted, a row is still re-identifiable when its
    // quasi-identifier combination (lang × source × length bucket) is
    // shared by fewer than k rows. Emits every doc with its QI-group
    // size and the k=5 keep/suppress verdict; a release pipeline
    // filters on `kept` (the l-diversity refinement would swap
    // count(*) for a distinct count over a sensitive column through
    // the identical plan). Scale shape: the QI-group table is bounded
    // by the QI DOMAIN (langs × sources × length-policy buckets — a
    // policy constant, not a corpus count), so group sizes aggregate
    // map-side and BROADCAST back onto the corpus — document rows
    // never shuffle, the llm_mix_temperature discipline.
    "llm_k_anonymity" -> ((s, dir) => {
      import s.implicits._
      val q = Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"source",
          expr("n_chars DIV 100").as("len_bucket"))
      val g = q.groupBy($"lang", $"source", $"len_bucket")
        .agg(count(lit(1)).as("group_n"))
      q.join(broadcast(g), Seq("lang", "source", "len_bucket"))
        .select($"doc_id", $"lang", $"source", $"len_bucket", $"group_n",
          ($"group_n" >= 5).cast("int").as("kept"))
        .orderBy($"doc_id")
    }),

    // Array/higher-order function surface over the tokenized documents
    // (slice/sort/reverse/contains/element_at; string-joined outputs so
    // the oracle compare is scalar).
    "llm_array_funcs" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .orderBy($"doc_id").limit(200)
        .select(
          $"doc_id",
          concat_ws(" ", slice(split($"text", " "), 1, 3)).as("first3"),
          concat_ws(" ", reverse(slice(split($"text", " "), 1, 3)))
            .as("first3_rev"),
          element_at(split($"text", " "), -1).as("last_word"),
          array_contains(split($"text", " "), "the").cast("int").as("has_the"),
          concat_ws(" ", slice(array_sort(array_distinct(split($"text", " "))), 1, 5))
            .as("sorted5"))
    }),

    // TF-IDF-style term salience: top-5 terms per source by
    // tf × (N / document-frequency). The score is a ratio of exact
    // integers (no log) so both engines compute identical doubles.
    "llm_tfidf" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val words = docs
        .select($"source", $"doc_id", explode_outer(split($"text", " ")).as("word"))
        // null-text guard (GraftPipelines.postingsOf note)
        .filter($"word".isNotNull)
      val tf = words.groupBy($"source", $"word").agg(count(lit(1)).as("tf"))
      val dfq = words.select($"word", $"doc_id").distinct()
        .groupBy($"word").agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy($"source").orderBy($"score".desc, $"word")
      tf.join(dfq, "word").crossJoin(total)
        .withColumn("score", ($"tf" * $"n_docs").cast("double") / $"df")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"source", $"rn", $"word", $"tf", $"df", $"score")
        .orderBy($"source", $"rn")
    }),

    // Document fingerprint: winnowing-style — min md5 over word-2-gram
    // shingles for 4 seeds, digested into one stable fingerprint.
    "llm_fingerprint" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.fingerprints(Tables.documents(s, dir))
        .orderBy($"doc_id")
    }),

    // Inverted index: term → document frequency + sorted posting list —
    // the serving artifact of the keyword-search layer.
    "llm_inverted_index" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.invertedIndex(Tables.documents(s, dir), minDf = 2)
        .orderBy($"term")
    }),

    // BM25 keyword retrieval (rational-idf variant — see the pipeline
    // scaladoc): top 10 docs for a 3-term query mixing common terms
    // with the rare 'dup' marker (high idf dominates).
    "llm_bm25" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.bm25RationalIdf(Tables.documents(s, dir), BM25_TERMS)
    }),

    // Textbook-parity BM25 twin: log idf via the fixed IEEE-double
    // ln DAG (GraftPipelines.lnLayers — hash-checkable, unlike libm
    // log), so MULTI-term rankings match standard BM25 where the
    // rational twin's linear idf over-weights rare terms.
    "llm_bm25_log" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.bm25LogIdf(Tables.documents(s, dir), BM25_TERMS)
    }),

    // BM25 SERVED from the write-once postings index — per-query work
    // is the query terms' postings + the 1-row stats, never a corpus
    // scan (the scale path for keyword retrieval; llm_bm25_log is the
    // corpus-scan twin whose oracle this shares verbatim).
    "llm_bm25_served" -> ((s, dir) => {
      import s.implicits._
      val idx = graft.sources.GraftIO.buildFixture(dir, "documents.parquet",
          "bm25idx", "tok=ws-unigram") { tmp =>
        graft.api.GraftPipelines.bm25IndexOnce(Tables.documents(s, dir), tmp)
      }
      graft.api.GraftPipelines.bm25LogServed(s, idx, BM25_TERMS)
    }),

    // Temperature-flattened source mixing (α=0.5): per-source keep
    // rate sqrt(n_min/n_s) at ppm resolution + realized kept counts —
    // the standard rebalance that stops the biggest source from
    // drowning the tail.
    "llm_mix_temperature" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.temperatureMix(Tables.documents(s, dir))
        .orderBy($"source")
    }),

    // Quality-weighted sampling: keep probability = the composite
    // quality score (soft alternative to a hard threshold; junk still
    // contributes occasionally). Deterministic salted hash — reruns and
    // the oracle keep identical rows.
    "llm_sample_weighted" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = docs.join(
        graft.api.GraftPipelines.qualityScores(docs, EN_MARKERS)
          .select($"doc_id", $"score"),
        "doc_id")
      graft.api.GraftPipelines.weightedSample(scored, $"score")
        .select($"doc_id", $"source", $"score")
        .orderBy($"doc_id")
    }),

    // Bigram LM table: P(w2 | w1) = count(w1 w2) / count(w1 ·), top-3
    // continuations per word — the n-gram language-model statistics a
    // KenLM-style filter or synthetic-data detector builds. Counts are
    // exact ints; the probability is one int/int division, identical in
    // both engines. Explode + two aggs + per-group top-k — all
    // shuffle-bounded, no driver state.
    "llm_bigram_lm" -> ((s, dir) => {
      import s.implicits._
      val bi = Tables.documents(s, dir)
        .select(split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select(explode_outer(expr(
          "transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
          .as("b"))
        .select($"b.w1", $"b.w2")
      val n12 = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("n12"))
      val n1 = bi.groupBy($"w1").agg(count(lit(1)).as("n1"))
      val w = Window.partitionBy($"w1")
        .orderBy($"n12".desc, $"w2".asc)
      n12.join(n1, "w1")
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter($"rn" <= 3)
        .select($"w1", $"rn", $"w2", $"n12", $"n1",
          ($"n12".cast("double") / $"n1".cast("double")).as("p"))
        .orderBy($"w1", $"rn")
    }),

    // Winsorized length budget per source: clip each doc's char count at
    // its source's p90 ORDER STATISTIC (percentile_disc — an actual data
    // value, rank ceil(0.9·n) = (9n+9) div 10, so the whole computation
    // stays exact-integer; interpolating percentiles would re-introduce
    // float division). The outlier-robust corpus-budget accounting that
    // sits before token-budget curation: one source-partitioned rank
    // window + one broadcast-joined cap per source. The sketch path for
    // skewed/huge sources is rel_percentile_approx's KLL twin; this is
    // the exact, oracle-checkable form.
    "llm_quality_winsor" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
      val ranked = Tables.documents(s, dir)
        .select($"source", $"doc_id", $"n_chars")
        .withColumn("rn", row_number().over(w))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy($"source")))
      val caps = ranked.filter($"rn" === expr("(9 * nd + 9) div 10"))
        .select($"source", $"n_chars".as("cap90"))
      ranked.join(broadcast(caps), "source")
        .groupBy($"source", $"cap90")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_raw"),
          sum(least($"n_chars", $"cap90")).as("sum_winsor"))
        .select($"source", $"n_docs", $"cap90", $"sum_raw", $"sum_winsor")
        .orderBy($"source")
    }),

    // PMI collocations (Church & Hanks 1990): the top-20 adjacent word
    // pairs by pointwise-mutual-information lift — the phrase-mining /
    // tokenizer-vocab signal ("how much more often than chance do these
    // words co-occur"). The lift p(ab)/(p(a)p(b)) is cross-multiplied
    // to ONE exact integer, lift_x1000 = (n_ab·N_uni²·1000) div
    // (N_bi·n_a·n_b), computed in DECIMAL(38,0)/HUGEINT so no log or
    // float division can diverge between engines. min-support n_ab ≥ 5
    // prunes the long tail BEFORE the unigram joins; the global top-20
    // is an ORDER BY + LIMIT → TakeOrderedAndProject, never a full
    // sort. Both count aggregations are plain token-keyed shuffles.
    "llm_pmi_bigrams" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val toks = docs.select(explode_outer(split($"text", " ")).as("wd"))
        // null-text guard (GraftPipelines.postingsOf note)
        .filter($"wd".isNotNull)
      val uni = toks.groupBy($"wd").agg(count(lit(1)).as("n_w"))
      val bi = docs
        .select(split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select(explode_outer(expr(
          "transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
          .as("b"))
        .select($"b.w1", $"b.w2")
      val nUni = toks.agg(count(lit(1)).as("n_uni"))
      val nBi = bi.agg(count(lit(1)).as("n_bi"))
      bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 5)
        .join(uni.select($"wd", $"n_w".as("n_a")), $"w1" === $"wd").drop("wd")
        .join(uni.select($"wd", $"n_w".as("n_b")), $"w2" === $"wd").drop("wd")
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
        .withColumn("lift_x1000", expr(
          "(CAST(n_ab AS DECIMAL(38,0)) * n_uni * n_uni * 1000) div " +
            "(CAST(n_bi AS DECIMAL(38,0)) * n_a * n_b)"))
        .select($"w1", $"w2", $"n_ab", $"n_a", $"n_b", $"lift_x1000")
        .orderBy($"lift_x1000".desc, $"w1", $"w2").limit(20)
    }),

    // Per-doc bigram-LM fluency score — the KenLM/CCNet-style language-
    // model quality filter shape: score each document by how probable
    // its adjacent word pairs are under an n-gram LM (here the LM is the
    // corpus's own bigram table; production fits it on a trusted
    // reference corpus and the doc side is unchanged). Every quantity is
    // EXACT integer: each pair contributes floor(R·n12/n1) (R = 10^6,
    // Spark `div` ≡ DuckDB `//`), the doc score is the integer mean of
    // its pair contributions, and low `lm_x` = disfluent/synthetic text
    // — no log-prob float ever forms, which is what makes the oracle a
    // hash compare instead of a tolerance. Scale shape: the LM is a
    // vocabulary²-bounded table; the corpus pays one bigram explode +
    // one (w1,w2)-keyed join + one doc_id-keyed agg — all equi-keyed
    // shuffles with map-side partials, no window, no driver state.
    "llm_lm_score" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.api.GraftPipelines
        .lmScore(docs, graft.api.GraftPipelines.bigramLmRatios(docs))
        .orderBy($"doc_id")
    }),

    // CCNet-style head/middle/tail quality terciles (Wenzek et al.,
    // LREC 2020): per language, rank docs by LM fluency and cut into
    // three equal buckets — the standard pretraining treatment where
    // "head" trains, "middle" is kept conditionally and "tail" is
    // dropped or down-weighted. Rides llm_lm_score's exact-integer
    // fluency (high lm_x = fluent = head; CCNet uses low perplexity,
    // the same ordering), cut by ntile(3) over a TOTALLY ordered
    // per-lang window (score desc, doc_id) so the bucket boundary is
    // deterministic in both engines. Output is the per-(lang, bucket)
    // audit a mixing decision reads: doc/token mass + the score range
    // each bucket spans. Scale: the window partitions by lang over
    // score-sized rows (doc_id + two ints — never text), and the
    // aggregate is map-side partial; at 100 TB the per-lang sort is
    // the one genuinely ranked step, bounded by the largest language.
    "llm_ccnet_buckets" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = graft.api.GraftPipelines
        .lmScore(docs, graft.api.GraftPipelines.bigramLmRatios(docs))
        .join(docs.select($"doc_id", $"lang",
          size(split($"text", " ")).as("n_toks")), "doc_id")
      val w = Window.partitionBy($"lang")
        .orderBy($"lm_x".desc, $"doc_id")
      scored.withColumn("t", ntile(3).over(w))
        .withColumn("bucket",
          when($"t" === 1, "head").when($"t" === 2, "middle")
            .otherwise("tail"))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_toks".cast("long")).as("n_tokens"),
          min($"lm_x").as("min_lm"), max($"lm_x").as("max_lm"))
        .orderBy($"lang", $"bucket")
    }),

    // DSIR-style importance weight (Xie et al., NeurIPS 2023 "Data
    // Selection for Language Models via Importance Resampling"): weight
    // every corpus doc by how much its n-gram distribution looks like a
    // TARGET domain (here lang='en' — the raw side is the whole corpus).
    // Each bigram occurrence g contributes the add-1-smoothed frequency
    // ratio floor(R·(1+c_target(g)) / (1+c_raw(g))); the doc weight is
    // the integer mean over its bigrams. Docs whose phrasing matches the
    // target domain get weight near R·|target|/|raw|; out-of-domain
    // phrasing decays toward R/(1+c_raw) — the resampling weight DSIR
    // feeds to sampling (our salted-hash weightedSample is the
    // downstream consumer). Exact-integer end to end, same scale shape
    // as llm_lm_score: vocabulary-bounded ratio table, corpus pays one
    // explode + one gram-keyed join + one doc-keyed agg.
    "llm_dsir_weight" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .dsirWeights(Tables.documents(s, dir), col("lang") === "en")
        .orderBy($"doc_id")
    }),

    // N-gram diversity panel (the self-repetition / synthetic-data
    // health check, Gopher-style): per source and n ∈ {1,2,3}, total
    // vs distinct gram counts and their exact ratio — collapsing
    // distinct/total signals template-generated or looped text before
    // it trains. Exact integers + one truncating division. The
    // distinct is TWO-STAGE by hand (gram counts, then a per-group
    // rollup of the count table) instead of count+countDistinct in one
    // agg: the combined form Expands every exploded gram row ×2 before
    // the exchange, while the staged form shuffles each map-side-
    // deduped gram once and the second exchange is distinct-gram-sized
    // — on repetitive corpora (the thing this panel detects) that is
    // the difference between shuffling the corpus and shuffling the
    // vocabulary.
    "llm_ngram_diversity" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"source", split($"text", " ").as("w"))
      val grams = (1 to 3).map { n =>
        val gram = (0 until n).map(j => s"w[i+$j]")
          .mkString("concat_ws(' ', ", ", ", ")")
        docs.filter(size($"w") >= n)
          .select($"source", lit(n).as("n"), explode(
            expr(s"transform(sequence(0, size(w)-$n), i -> $gram)")).as("g"))
      }.reduce(_ unionByName _)
      grams.groupBy($"source", $"n", $"g")
        .agg(count(lit(1)).as("cnt"))
        .groupBy($"source", $"n")
        .agg(sum($"cnt").as("total"), count(lit(1)).as("n_distinct"))
        .withColumn("ratio_x1000", expr("(1000 * n_distinct) div total"))
        .orderBy($"source", $"n")
    }),

    // Budget water-filling (max-min fair allocation, Bertsekas &
    // Gallager's classic): split a global doc budget B = 60% of the
    // corpus across sources by capping the large ones at a common
    // level c — the source-balancing step a mixing pipeline runs when
    // one crawl dwarfs the rest. The level is found on the
    // |sources|-bounded count table: sort ascending, prefix sums, and
    // the unique boundary i where c = (B − prefix_i) div (S − i)
    // clears n_i but not n_{i+1}; the integer remainder r goes +1 to
    // the r largest capped sources (rank-deterministic), so
    // Σ alloc = B EXACTLY — the invariant the spec checks. Every
    // window runs over the bounded source table, never the corpus;
    // the corpus pays one source-keyed count.
    "llm_budget_waterfill" -> ((s, dir) => {
      import s.implicits._
      val cnt = Tables.documents(s, dir)
        .groupBy($"source").agg(count(lit(1)).as("n"))
      val budget = cnt.agg(expr("(6 * sum(n)) div 10").as("budget"))
      graft.api.GraftPipelines.budgetWaterfill(cnt, budget)
        .orderBy($"source")
    }),

    // Tokenizer fertility (tokens per word, per language) under the
    // corpus-fitted 3-round BPE vocabulary — the tokenizer-equity
    // audit (a language with high fertility pays more sequence length
    // per word, the multilingual-tokenizer design signal). Reuses the
    // dictionary-first segmented-word join of llm_bpe_apply; both
    // sums are exact integers and the fertility is one truncating
    // division. Corpus cost: one word explode + one dictionary join +
    // one lang-keyed agg.
    "llm_tokenizer_fertility" -> ((s, dir) => {
      import s.implicits._
      val docWords = Tables.documents(s, dir)
        .select($"lang", explode_outer(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
      val words = docWords.groupBy($"word").agg(count(lit(1)).as("cnt"))
      val toks = graft.api.GraftPipelines
        .bpeSegmentations(words, "word", "cnt", 3)
        .select($"word".as("tw"),
          size(split($"seg", " ")).cast("long").as("n_sym"))
      docWords.join(toks, $"word" === $"tw")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_words"), sum($"n_sym").as("n_tokens"))
        .withColumn("fertility_x1000",
          expr("(1000 * n_tokens) div n_words"))
        .orderBy($"lang")
    }),

    // Per-source quantile normalization of the quality score (rank →
    // per-mille percentile): makes scores COMPARABLE across sources
    // whose raw scales drift (one crawl's 0.6 is another's 0.9) —
    // the calibration step before any cross-source gate or budget
    // uses "quality" globally. Ranks are exact integers with doc_id
    // tie-breaks, the percentile is one truncating division
    // ((rk−1)·1000 div (nd−1); single-doc sources pin to 500), so the
    // float score never enters the output — rank-based statistics are
    // how a hash-compared oracle survives a double-valued signal. One
    // source-partitioned window, never global.
    "llm_score_calibrate" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = graft.api.GraftPipelines
        .qualityScores(docs, EN_MARKERS)
        .join(docs.select($"doc_id", $"source"), "doc_id")
      val w = Window.partitionBy($"source").orderBy($"score", $"doc_id")
      scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy($"source")))
        .withColumn("pct_x1000", when($"nd" === 1, 500L)
          .otherwise(expr("((rk - 1) * 1000) div (nd - 1)")))
        .select($"doc_id", $"source", $"rk", $"pct_x1000")
        .orderBy($"doc_id")
    }),

    // Padding-waste audit: if sequences are padded to power-of-two
    // length buckets (the static-shape batching every accelerator
    // compiler wants), how many token slots are wasted per source?
    // bucket = smallest 2^k ≥ n_tokens computed MAP-SIDE with integer
    // bit arithmetic (shiftleft(1, length(bin(n−1))) — no log2 float,
    // no lookup join), then one source-keyed aggregation. The signal
    // that decides between plain bucketing and packSequences at
    // training time.
    "llm_padding_waste" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"source", size(split($"text", " ")).cast("long").as("n"))
        .withColumn("bucket", when($"n" === 1, 1L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), length(bin(n - 1)))")))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n").as("sum_tokens"),
          sum($"bucket").as("sum_padded"))
        .withColumn("waste_x1000",
          expr("(1000 * (sum_padded - sum_tokens)) div sum_padded"))
        .orderBy($"source")
    }),

    // The Gopher rule set (Rae et al. 2021 §A1.1, the published
    // heuristic filter battery most production corpora still run
    // before any model-based gate), with every rule evaluated in
    // EXACT integer arithmetic via cross-multiplication — no ratio
    // ever forms: word count in [50, 100k], mean word length in
    // [3, 10] chars (3n ≤ chars ≤ 10n), ≥80% of words contain an
    // alphabetic character (5·n_alpha ≥ 4·n), and ≥2 distinct
    // stopwords present. Per-doc verdict + per-rule flags (the audit
    // trail — a production run reports WHY documents died, not just
    // how many). Pure map-side scan; one row per doc.
    "llm_gopher_rules" -> ((s, dir) => {
      import s.implicits._
      val stopArr = EN_MARKERS.map(w => s"'$w'").mkString("array(", ", ", ")")
      Tables.documents(s, dir)
        .select($"doc_id", split($"text", " ").as("w"))
        .withColumn("n_words", size($"w").cast("long"))
        .withColumn("n_chars", expr(
          "CAST(aggregate(w, 0L, (a, x) -> a + length(x)) AS BIGINT)"))
        .withColumn("n_alpha", expr(
          "CAST(size(filter(w, x -> x rlike '[a-zA-Z]')) AS BIGINT)"))
        .withColumn("n_stop_distinct", expr(
          s"CAST(size(array_intersect(array_distinct(w), $stopArr)) AS BIGINT)"))
        .withColumn("ok_count",
          ($"n_words" >= 50 && $"n_words" <= 100000).cast("int"))
        .withColumn("ok_wordlen",
          (lit(3) * $"n_words" <= $"n_chars" &&
            $"n_chars" <= lit(10) * $"n_words").cast("int"))
        .withColumn("ok_alpha",
          (lit(5) * $"n_alpha" >= lit(4) * $"n_words").cast("int"))
        .withColumn("ok_stop", ($"n_stop_distinct" >= 2).cast("int"))
        .withColumn("kept",
          ($"ok_count" + $"ok_wordlen" + $"ok_alpha" + $"ok_stop" === 4)
            .cast("int"))
        .select($"doc_id", $"n_words", $"n_chars", $"n_alpha",
          $"n_stop_distinct", $"ok_count", $"ok_wordlen", $"ok_alpha",
          $"ok_stop", $"kept")
        .orderBy($"doc_id")
    }),

    // Curriculum ordering: the easy→hard training schedule (Bengio et
    // al. 2009) materialized as a deterministic total order — phases
    // are quality-percentile bands (easy = highest-quality tercile
    // first), docs SHUFFLE within a phase via the salted id hash (no
    // rand(); reruns and the oracle agree), and the order is sharded
    // so it can be written in parallel: seq is ranked within (phase,
    // shard), global order = (phase, shard, seq). All ranks are exact
    // integers; the windows partition by (phase, shard) — 3×16 here,
    // thousands in production — never one global sort of the corpus.
    "llm_curriculum" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = graft.api.GraftPipelines
        .qualityScores(docs, EN_MARKERS)
        .join(docs.select($"doc_id", $"source"), "doc_id")
      val wSrc = Window.partitionBy($"source").orderBy($"score", $"doc_id")
      val pct = scored
        .withColumn("rk", row_number().over(wSrc).cast("long"))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy($"source")))
        .withColumn("pct", when($"nd" === 1, 500L)
          .otherwise(expr("((rk - 1) * 1000) div (nd - 1)")))
      val sharded = pct
        .withColumn("phase", // easy = high percentile → phase 0 first
          when($"pct" >= 667, 0).when($"pct" >= 334, 1).otherwise(2))
        .withColumn("h", graft.functions.VectorExpressions.md5Half60(
          concat(lit("curr|"), $"doc_id".cast("string")), upperHalf = false))
        .withColumn("shard", ($"h" % 16).cast("int"))
      val wShard = Window.partitionBy($"phase", $"shard")
        .orderBy($"h", $"doc_id")
      sharded
        .withColumn("seq", row_number().over(wShard).cast("long"))
        .select($"phase", $"shard", $"seq", $"doc_id")
        .orderBy($"phase", $"shard", $"seq")
    }),

    // The training-run MANIFEST: one row per document carrying every
    // assignment the trainer consumes — split (salted-hash, stable
    // across reruns/cluster sizes), curriculum phase/shard/seq
    // (computed over the TRAIN slice only, the split the schedule
    // applies to), and the token-budget pack bin (greedy per source
    // over train docs). Val/test rows carry NULL schedule fields —
    // they are never trained on, and the NULLs make that auditable.
    // The closing composition of the preparation pipeline: split →
    // curriculum → packing, each reusing its standalone verified
    // machinery, joined doc_id-keyed; the oracle nests the standalone
    // entries' SQL verbatim so drift between the manifest and its
    // parts is impossible by construction.
    "llm_train_manifest" -> ((s, dir) => {
      import s.implicits._
      val withSplit = graft.api.GraftPipelines
        .hashSplit(Tables.documents(s, dir))
      val train = withSplit.filter($"split" === "train")
      val scored = graft.api.GraftPipelines
        .qualityScores(train, EN_MARKERS)
        .join(train.select($"doc_id", $"source"), "doc_id")
      val wSrc = Window.partitionBy($"source").orderBy($"score", $"doc_id")
      val sh = scored
        .withColumn("rk", row_number().over(wSrc).cast("long"))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy($"source")))
        .withColumn("pct", when($"nd" === 1, 500L)
          .otherwise(expr("((rk - 1) * 1000) div (nd - 1)")))
        .withColumn("phase",
          when($"pct" >= 667, 0).when($"pct" >= 334, 1).otherwise(2))
        .withColumn("h", graft.functions.VectorExpressions.md5Half60(
          concat(lit("curr|"), $"doc_id".cast("string")), upperHalf = false))
        .withColumn("shard", ($"h" % 16).cast("int"))
      val wShard = Window.partitionBy($"phase", $"shard")
        .orderBy($"h", $"doc_id")
      val curr = sh
        .withColumn("seq", row_number().over(wShard).cast("long"))
        .select($"doc_id", $"phase", $"shard", $"seq")
      val packed = graft.api.GraftPipelines.packSequences(
          train.withColumn("n_tokens", size(split($"text", " "))), 2048)
        .select($"doc_id", $"bin")
      withSplit.select($"doc_id", $"source", $"split")
        .join(curr, Seq("doc_id"), "left")
        .join(packed, Seq("doc_id"), "left")
        .orderBy($"doc_id")
    }),

    // DSIR importance RESAMPLING — the loop llm_dsir_weight's weights
    // exist for (Xie et al. 2023 step 2): keep each doc with
    // probability proportional to its target-domain importance ratio,
    // via the same salted-hash ppm gate as weightedSample (no rand();
    // reruns, cluster sizes, and the oracle all pick identical rows).
    // The weight is the integer ratio scaled back to [0, 1] and capped
    // at 1 — both engines evaluate the identical double expression, and
    // the gate compares integers. Map-side end to end after the weight
    // join.
    "llm_dsir_sample" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val wts = graft.api.GraftPipelines
        .dsirWeights(docs, col("lang") === "en")
        .select($"doc_id", $"dsir_x")
      graft.api.GraftPipelines.weightedSample(
          docs.join(wts, "doc_id"),
          least(lit(1.0), $"dsir_x".cast("double") / 1000000.0),
          salt = "dsmp")
        .select($"doc_id", $"source", $"lang", $"dsir_x")
        .orderBy($"doc_id")
    }),

    // Sliding-window chunking (20-word chunks, stride 15): the RAG /
    // long-doc-embedding preprocessing step; (doc_id, chunk_idx) is the
    // stable chunk key.
    "llm_chunk" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .chunkDocuments(Tables.documents(s, dir), 20, 15)
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Exact-budget deterministic sampling: the 5 docs per source with
    // the smallest salted id hash — rank-based sibling of the rate-based
    // stratified sample.
    "llm_sample_topk" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .sampleTopKPerStratum(Tables.documents(s, dir), 5)
        .select($"source", $"sample_rank", $"doc_id")
        .orderBy($"source", $"sample_rank")
    }),

    // BPE vocabulary induction (Sennrich ACL'16), 3 merge rounds —
    // tokenizer FITTING as a distributed pipeline (llm_token_count
    // applies a trained tokenizer; this trains one). DICTIONARY-FIRST:
    // the corpus collapses to (word, count) once — every later round
    // touches only the dictionary, so corpus size never re-enters.
    // Each round: adjacent-symbol pair counts weighted by word
    // frequency (explode + map-side-combined sum), deterministic argmax
    // (count DESC, pair ASC), then the merge applied via a LEFT FOLD
    // over each word's symbols (SQL aggregate(); init = first symbol) —
    // textbook greedy leftmost non-overlapping, and the SAME fold runs
    // in the DuckDB oracle (list_reduce), so segmentation semantics are
    // engine-identical by construction (a string replace() is NOT:
    // boundary-space sharing diverges on symbol runs). The 1-row best
    // pair broadcasts (audited bounded-scalar pattern). At 100 TB the
    // word dictionary is the only state — millions of rows against a
    // trillion-token corpus — and rounds are dictionary-local.
    "llm_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode_outer(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"word").agg(count(lit(1)).as("cnt"))
      graft.api.GraftPipelines.bpeMerges(words, "word", "cnt", 3)
        .orderBy($"round")
    }),

    // Tokenizer APPLICATION: segment the corpus with the 3 merges
    // llm_bpe_vocab learned — per-document token counts under the
    // trained (not heuristic) tokenizer, the train→apply loop closed
    // the same way DevFit→llm_quality_classify closed the classifier's.
    // The segmented dictionary is the tokenizer artifact: per-doc
    // counts come from one explode + one dictionary join + one sum —
    // at scale the dictionary persists (like the band/ANN indexes) and
    // broadcasts, so tokenization is map-side.
    "llm_bpe_apply" -> ((s, dir) => {
      import s.implicits._
      val docWords = Tables.documents(s, dir)
        .select($"doc_id", explode_outer(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
      val words = docWords.groupBy($"word").agg(count(lit(1)).as("cnt"))
      val toks = graft.api.GraftPipelines
        .bpeSegmentations(words, "word", "cnt", 3)
        .select($"word".as("tw"), size(split($"seg", " ")).as("n_sym"))
      docWords.join(toks, $"word" === $"tw")
        .groupBy($"doc_id")
        .agg(sum($"n_sym").cast("long").as("n_tokens_bpe"))
        .orderBy($"doc_id")
    }),

    // EXACT top-K frequent words under a bounded-memory candidate pass
    // — the two-pass heavy-hitter discipline (Misra & Gries 1982):
    // pass 1 runs an O(cap)-state summary PER PARTITION, whose
    // guarantee is that any word with global frequency > N/cap
    // survives in at least one partition's summary (pigeonhole over
    // partition totals); pass 2 recounts ONLY the broadcast candidate
    // set exactly. The naive exact groupBy's shuffle carries up to
    // |vocab|·partitions partial rows — on heavy-tailed natural text
    // the tail IS the vocabulary, so the MG prune cuts the shuffle to
    // ≤ cap·partitions rows while returning bit-identical top-K. The
    // frequency premise (Kth count > N/cap, or a sub-K vocabulary
    // fully enumerated) is CHECKED, not assumed: a corpus that
    // violates it fails loudly instead of silently dropping a true
    // heavy hitter — the knnMaintenanceLoop scheme-refusal discipline.
    // The N tally is FUSED into pass 1 ([[mgCandidatesCounted]]: each
    // partition emits one tally row alongside its summary — exact, and
    // retry-safe unlike an accumulator), so the premise check adds no
    // extra corpus scan and the entry is honestly benchable: the timed
    // figure IS the two-pass algorithm.
    "llm_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode_outer(split($"text", " ")).as("w"))
        .filter($"w" =!= "").as[String]
      val pass1 = words.mapPartitions(mgCandidatesCounted(MgCap))
        .toDF("w", "np").localCheckpoint()
      val cands = pass1.filter($"np" === 0L).select($"w").distinct()
      val total = pass1.filter($"np" > 0L)
        .agg(coalesce(sum($"np"), lit(0L))).head().getLong(0)
      val counts = words.toDF().join(broadcast(cands), Seq("w"))
        .groupBy($"w").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val top = counts.orderBy($"n".desc, $"w").limit(HhK)
      val rows = top.collect()
      if (rows.length == HhK) {
        val kth = rows.last.getAs[Long]("n")
        require(kth * MgCap > total,
          s"llm_heavy_hitters: MG premise violated (rank-$HhK count $kth" +
            s" <= N/cap = $total/$MgCap) - raise MgCap; a silent result" +
            " could miss a true heavy hitter")
      } else {
        // sub-K vocabulary: exactness requires the candidate set to BE
        // the vocabulary (degenerate corpora only — the extra distinct
        // never runs at corpus scale)
        require(counts.count() == words.distinct().count(),
          "llm_heavy_hitters: candidate set lost words of a sub-K vocabulary")
      }
      top
    })
  )

  /** Misra–Gries frequency summary over one partition: at most `cap`
    * counters; every item with partition-local frequency > n_p/cap is
    * guaranteed to survive. Public so the spec can drive the
    * superset property on crafted partitions directly.
    */
  def mgCandidates(cap: Int)(it: Iterator[String]): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { w =>
      m.get(w) match {
        case Some(c) => m.update(w, c + 1L)
        case None if m.size < cap => m.update(w, 1L)
        case None =>
          // decrement-all eviction; removals deferred off the live map
          val ks = m.keys.toArray
          ks.foreach { k =>
            val c = m(k)
            if (c == 1L) m.remove(k) else m.update(k, c - 1L)
          }
      }
    }
    m.keysIterator
  }

  /** [[mgCandidates]] fused with the partition item tally: candidate
    * rows carry np = 0, and one trailing (null, n_p) row records the
    * partition's item count — so the global N the premise check needs
    * rides the same pass-1 scan instead of a second corpus count.
    * In-plan rows, not an accumulator: a task retry recomputes its
    * partition's rows instead of double-adding to a shared counter,
    * so N is exact under any retry schedule.
    */
  def mgCandidatesCounted(cap: Int)(
      it: Iterator[String]): Iterator[(String, Long)] = {
    var n = 0L
    val counted = it.map { w => n += 1L; w }
    val cands = mgCandidates(cap)(counted).map(w => (w, 0L)).toArray
    cands.iterator ++ Iterator((null: String, n))
  }

  private val MgCap = 256
  private val HhK = 20

  /** One BPE oracle round: pair counts over the previous dictionary,
    * deterministic argmax, fold-applied merge — the exact mirror of the
    * Spark round above (list_reduce == aggregate-with-first-element
    * init; both are textbook greedy left folds). */
  private def bpeRoundSql(r: Int): String = {
    val prev = s"dict${r - 1}"
    s"""pairs$r AS (
       |  SELECT arr[i] || ' ' || arr[i+1] AS pair, sum(cnt) AS pcnt
       |  FROM (SELECT string_split(seg, ' ') AS arr, cnt FROM $prev),
       |       UNNEST(range(1, len(arr))) AS t(i)
       |  GROUP BY 1),
       |best$r AS (
       |  SELECT $r AS round,
       |   string_split(pair, ' ')[1] AS sym_a,
       |   string_split(pair, ' ')[2] AS sym_b,
       |   replace(pair, ' ', '') AS merged,
       |   CAST(pcnt AS BIGINT) AS pair_count
       |  FROM pairs$r ORDER BY pcnt DESC, pair ASC LIMIT 1),
       |dict$r AS (
       |  SELECT word, list_reduce(string_split(seg, ' '),
       |    (acc, x) -> CASE WHEN (acc = b.sym_a
       |                       OR ends_with(acc, ' ' || b.sym_a))
       |                      AND x = b.sym_b
       |                THEN left(acc, length(acc) - length(b.sym_a)) || b.merged
       |                ELSE acc || ' ' || x END) AS seg, cnt
       |  FROM $prev, best$r b)""".stripMargin
  }

  /** Shared CTE prefix for the two BPE entries (fit to dict3). */
  private def bpeCtePrefix: String =
    s"""WITH words AS (
       |  SELECT word, count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY 1),
       |dict0 AS (
       |  SELECT word,
       |         array_to_string(regexp_split_to_array(word, ''), ' ') AS seg,
       |         cnt
       |  FROM words),
       |${(1 to 3).map(bpeRoundSql).mkString(",\n")}""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_lang_id" ->
      s"""SELECT lang, pred_lang, count(*) AS n FROM (
         |  SELECT lang,
         |   CASE WHEN CAST(len(list_filter(w, x -> x IN ($markersInList))) AS DOUBLE)
         |             / len(w) >= 0.05
         |        THEN 'en' ELSE 'und' END AS pred_lang
         |  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,

    "llm_quality_score" -> s"$qualitySelectSql\nORDER BY doc_id",

    "llm_corpus_report" ->
      s"""WITH q AS (
         |  SELECT doc_id, len(w) AS n_words,
         |   (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.5 +
         |   (CAST(len(list_filter(w, x -> x IN ($markersInList))) AS DOUBLE)
         |      / len(w)) * 0.3 +
         |   (CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) >= 3.0
         |          AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) <= 8.0
         |         THEN 0.2 ELSE 0.0 END) AS score
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
         |SELECT d.source, count(*) AS n_docs,
         | CAST(sum(q.n_words) AS BIGINT) AS sum_tokens,
         | count(DISTINCT md5(d.text)) AS n_unique_texts,
         | 1.0 - CAST(count(DISTINCT md5(d.text)) AS DOUBLE) / count(*)
         |   AS dup_rate,
         | min(q.score) AS min_score,
         | quantile_cont(q.score, 0.5) AS median_score,
         | max(q.score) AS max_score
         |FROM documents d JOIN q USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "llm_quality_filter" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |   (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.5 +
         |   (CAST(len(list_filter(w, x -> x IN ($markersInList))) AS DOUBLE)
         |      / len(w)) * 0.3 +
         |   (CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) >= 3.0
         |          AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) <= 8.0
         |         THEN 0.2 ELSE 0.0 END) AS score
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         |scored AS (
         |  SELECT q.doc_id, d.source, q.score
         |  FROM q JOIN documents d ON q.doc_id = d.doc_id),
         |med AS (
         |  SELECT source, quantile_cont(score, 0.5) AS src_median
         |  FROM scored GROUP BY source)
         |SELECT doc_id, source, score, src_median
         |FROM scored JOIN med USING (source)
         |WHERE score > src_median
         |ORDER BY doc_id""".stripMargin,

    "llm_token_count" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
        | CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS sum_re_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "llm_token_bpe" -> {
      val pat = BPE_PAT.replace("'", "''")
      s"""SELECT doc_id, source,
         | CAST(len(regexp_extract_all(text, '$pat')) AS INTEGER) AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "llm_repetition" -> s"$repetitionSelectSql\nORDER BY doc_id",

    "llm_sample_stratified" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST(md5_number_lower('smp|' || CAST(doc_id AS VARCHAR))
        |           % 1152921504606846976 AS BIGINT) % 1000
        |      < (CAST(substr(source, 4) AS INTEGER) % 4) * 200 + 100
        |ORDER BY doc_id""".stripMargin,

    "llm_split" ->
      """SELECT source,
        | CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
        |      ELSE 'test' END AS split,
        | count(*) AS n
        |FROM (SELECT source,
        |       CAST(md5_number_lower('spl|' || CAST(doc_id AS VARCHAR))
        |            % 1152921504606846976 AS BIGINT) % 1000 AS b
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY source, split""".stripMargin,

    "llm_global_shuffle" ->
      """SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard
        |   ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos
        |FROM (SELECT doc_id, skey,
        |       CAST(skey % 8 AS INTEGER) AS shard
        |      FROM (SELECT doc_id,
        |             CAST(md5_number_lower('shuf|' || CAST(doc_id AS VARCHAR))
        |                  % 1152921504606846976 AS BIGINT) AS skey
        |            FROM documents))
        |ORDER BY shard, pos""".stripMargin,

    "llm_pack_sequences" ->
      """SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
        | CAST(floor(cum / 2048.0) AS BIGINT) AS bin
        |FROM (
        |  SELECT doc_id, source, n_tokens,
        |   sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
        |     - n_tokens AS cum
        |  FROM (SELECT doc_id, source,
        |         len(string_split(text, ' ')) AS n_tokens FROM documents))
        |ORDER BY doc_id""".stripMargin,

    // the composition reuses the standalone entries' SQL bodies as
    // nested CTEs verbatim — drift between the export and its signals
    // is impossible by construction
    "llm_doc_features" -> s"$docFeaturesSql\nORDER BY doc_id",

    // the classifier applies on the SAME composed feature SQL; the
    // linear score repeats the Spark expression's literal order exactly
    // (IEEE doubles, left-associated — no exp/log, so the decision
    // threshold is hash-comparable across engines)
    "llm_quality_classify" ->
      s"""WITH f AS ($docFeaturesSql)
         |SELECT doc_id,
         | $clfScoreSql AS clf_score,
         | CASE WHEN $clfScoreSql > 0.5 THEN 1 ELSE 0 END AS keep
         |FROM f
         |ORDER BY doc_id""".stripMargin,

    // same salted hash, same per-substratum running sum, same bin
    // interleave as packSequencesSalted
    "llm_pack_salted" ->
      """SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
        | CAST(floor(cum / 2048.0) AS BIGINT) * 4 + salt AS bin
        |FROM (
        |  SELECT doc_id, source, n_tokens, salt,
        |   sum(n_tokens) OVER (PARTITION BY source, salt ORDER BY doc_id)
        |     - n_tokens AS cum
        |  FROM (SELECT doc_id, source,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         CAST(md5_number_lower('pck|' || CAST(doc_id AS VARCHAR))
        |              % 1152921504606846976 % 4 AS BIGINT) AS salt
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,

    // stride-1 grams with positions; shared = distinct-doc count > 1 on
    // the 60-bit gram hash; longest run via gaps-and-islands
    "llm_substring_dedup" -> s"$substringSelectSql\nORDER BY doc_id",

    // staged mirror of redactPii: each pattern counts on the already-
    // redacted text, generated from the SAME PiiPatterns constants
    "llm_pii_redact" -> {
      val n = graft.api.GraftPipelines.PiiPatterns.size
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |   (CASE WHEN doc_id % 5 = 0 THEN ' contact user' ||
         |     CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END) ||
         |   (CASE WHEN doc_id % 7 = 0 THEN ' id 123-45-6789' ELSE '' END) ||
         |   (CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END)
         |     AS t0
         |  FROM documents)
         |SELECT doc_id, ${piiNames.mkString(", ")},
         | t$n AS redacted_text,
         | CAST((${piiNames.mkString(" + ")}) > 0 AS INTEGER) AS has_pii
         |FROM (${piiStagedSql("SELECT doc_id, t0 FROM aug")})
         |ORDER BY doc_id""".stripMargin
    },

    // same QI bucketing + group sizes; kept = group_n >= k
    "llm_k_anonymity" ->
      """WITH q AS (
        |  SELECT doc_id, lang, source, n_chars // 100 AS len_bucket
        |  FROM documents),
        |g AS (
        |  SELECT lang, source, len_bucket, count(*) AS group_n
        |  FROM q GROUP BY 1, 2, 3)
        |SELECT q.doc_id, q.lang, q.source, q.len_bucket, g.group_n,
        | CAST(g.group_n >= 5 AS INTEGER) AS kept
        |FROM q JOIN g USING (lang, source, len_bucket)
        |ORDER BY q.doc_id""".stripMargin,

    "llm_array_funcs" ->
      """SELECT doc_id,
        | array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
        | array_to_string(list_reverse(string_split(text, ' ')[1:3]), ' ') AS first3_rev,
        | string_split(text, ' ')[-1] AS last_word,
        | CAST(list_contains(string_split(text, ' '), 'the') AS INTEGER) AS has_the,
        | array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ' ') AS sorted5
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin,

    "llm_tfidf" ->
      """WITH words AS (
        |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT source, word, count(*) AS tf FROM words GROUP BY 1, 2),
        |dfq AS (SELECT word, count(*) AS df
        |        FROM (SELECT DISTINCT word, doc_id FROM words) GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT source, CAST(rn AS INTEGER) AS rn, word, tf, df, score FROM (
        |  SELECT source, word, tf, df,
        |   CAST(tf * n_docs AS DOUBLE) / df AS score,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC, word) AS rn
        |  FROM tf JOIN dfq USING (word) CROSS JOIN tot)
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    "llm_fingerprint" ->
      """SELECT doc_id,
        | md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR) || ',' ||
        |     CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) AS fingerprint
        |FROM (
        |  SELECT doc_id,
        |   min(CAST((u + 0 * v) % 1152921504606846976 AS BIGINT)) AS m0,
        |   min(CAST((u + 1 * v) % 1152921504606846976 AS BIGINT)) AS m1,
        |   min(CAST((u + 2 * v) % 1152921504606846976 AS BIGINT)) AS m2,
        |   min(CAST((u + 3 * v) % 1152921504606846976 AS BIGINT)) AS m3
        |  FROM (
        |   SELECT doc_id,
        |    CAST(md5_number_lower(s) % 1152921504606846976 AS BIGINT) AS u,
        |    CAST(md5_number_upper(s) % 1152921504606846976 AS BIGINT) AS v
        |   FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |             i -> w[i] || ' ' || w[i+1])) AS s
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |    WHERE len(w) >= 2))
        |  GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,

    "llm_inverted_index" ->
      """SELECT term, count(*) AS df,
        | string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM (SELECT doc_id,
        |        unnest(list_distinct(string_split(text, ' '))) AS term
        |      FROM documents)
        |GROUP BY term HAVING count(*) >= 2 ORDER BY term""".stripMargin,

    "llm_bm25" -> {
      val terms = BM25_TERMS
      val (k1, b) = (1.2, 0.75)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      def pivotMax(v: String) = terms.map(t =>
        s"coalesce(max(CASE WHEN term = '$t' THEN $v END), 0) AS ${v}_$t")
        .mkString(", ")
      val contribs = terms.map { t =>
        s"""(((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5) /
           |   (CAST(df_$t AS DOUBLE) + 0.5)) *
           |  ((CAST(coalesce(tf_$t, 0) AS DOUBLE) * ${k1 + 1}) /
           |   (CAST(coalesce(tf_$t, 0) AS DOUBLE) +
           |    $k1 * (${1 - b} + $b * (CAST(dl AS DOUBLE) / avgdl)))))""".stripMargin
      }.mkString(" +\n")
      s"""WITH lens AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |  FROM documents),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM lens),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents)
         |  WHERE term IN ($inList) GROUP BY doc_id, term),
         |dfrow AS (SELECT ${pivotMax("df")} FROM
         |  (SELECT term, count(*) AS df FROM tf GROUP BY term)),
         |tfrow AS (SELECT doc_id, ${pivotMax("tf")} FROM tf GROUP BY doc_id)
         |SELECT doc_id, dl, score FROM (
         |  SELECT l.doc_id, l.dl,
         |   ($contribs) AS score
         |  FROM lens l LEFT JOIN tfrow t ON l.doc_id = t.doc_id
         |  CROSS JOIN stats CROSS JOIN dfrow)
         |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    },

    "llm_bm25_log" -> bm25LogOracleSql,

    // the served twin is a storage refactor — IDENTICAL output, so the
    // oracle is shared verbatim (the dupClustersServed discipline)
    "llm_bm25_served" -> bm25LogOracleSql,

    "llm_mix_temperature" ->
      """WITH counts AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |rates AS (
        |  SELECT source, n_docs,
        |   CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |              * 1000000) AS BIGINT) AS rate_ppm
        |  FROM counts CROSS JOIN (SELECT min(n_docs) AS n_min FROM counts)),
        |kept AS (
        |  SELECT source, count(*) AS n_kept FROM documents
        |  WHERE CAST(md5_number_lower('tmix|' || CAST(doc_id AS VARCHAR))
        |             % 1152921504606846976 AS BIGINT) % 1000000
        |        < (SELECT rate_ppm FROM rates r WHERE r.source = documents.source)
        |  GROUP BY source)
        |SELECT r.source, r.n_docs, r.rate_ppm,
        | coalesce(k.n_kept, 0) AS n_kept
        |FROM rates r LEFT JOIN kept k ON r.source = k.source
        |ORDER BY r.source""".stripMargin,

    "llm_sample_weighted" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |   ((CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.5) +
         |   ((CAST(len(list_filter(w, x -> x IN ($markersInList))) AS DOUBLE)
         |      / len(w)) * 0.3) +
         |   (CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) >= 3.0
         |          AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) <= 8.0
         |         THEN 0.2 ELSE 0.0 END) AS score
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
         |SELECT d.doc_id, d.source, s.score
         |FROM documents d JOIN scored s ON d.doc_id = s.doc_id
         |WHERE CAST(md5_number_lower('wsmp|' || CAST(d.doc_id AS VARCHAR))
         |           % 1152921504606846976 AS BIGINT) % 1000000
         |      < CAST(floor(s.score * 1000000) AS BIGINT)
         |ORDER BY d.doc_id""".stripMargin,

    "llm_bigram_lm" ->
      """WITH bi AS (
        |  SELECT b['w1'] AS w1, b['w2'] AS w2 FROM (
        |    SELECT unnest(list_transform(range(1, len(w)),
        |             i -> {'w1': w[i], 'w2': w[i+1]})) AS b
        |    FROM (SELECT string_split(text, ' ') AS w FROM documents)
        |    WHERE len(w) >= 2)),
        |n12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY w1, w2),
        |n1 AS (SELECT w1, count(*) AS n1 FROM bi GROUP BY w1)
        |SELECT w1, CAST(rn AS INTEGER) AS rn, w2, n12, n1,
        | CAST(n12 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p
        |FROM (
        |  SELECT n12.w1, w2, n12, n1,
        |   row_number() OVER (PARTITION BY n12.w1
        |     ORDER BY n12 DESC, w2) AS rn
        |  FROM n12 JOIN n1 ON n12.w1 = n1.w1)
        |WHERE rn <= 3 ORDER BY w1, rn""".stripMargin,

    "llm_lm_score" ->
      """WITH bi AS (
        |  SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |             i -> {'w1': w[i], 'w2': w[i+1]})) AS b
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |    WHERE len(w) >= 2)),
        |n12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY w1, w2),
        |n1 AS (SELECT w1, count(*) AS n1 FROM bi GROUP BY w1),
        |lm AS (
        |  SELECT n12.w1, w2, (n12 * 1000000) // n1 AS r
        |  FROM n12 JOIN n1 ON n12.w1 = n1.w1)
        |SELECT doc_id, count(*) AS n_pairs,
        | CAST(CAST(sum(r) AS BIGINT) // count(*) AS BIGINT) AS lm_x
        |FROM bi JOIN lm ON bi.w1 = lm.w1 AND bi.w2 = lm.w2
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // lm_x CTEs mirror llm_lm_score; the tercile cut shares the exact
    // (score desc, doc_id) total order in both engines
    "llm_ccnet_buckets" ->
      """WITH bi AS (
        |  SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |             i -> {'w1': w[i], 'w2': w[i+1]})) AS b
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |    WHERE len(w) >= 2)),
        |n12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY w1, w2),
        |n1 AS (SELECT w1, count(*) AS n1 FROM bi GROUP BY w1),
        |lm AS (
        |  SELECT n12.w1, w2, (n12 * 1000000) // n1 AS r
        |  FROM n12 JOIN n1 ON n12.w1 = n1.w1),
        |scored AS (
        |  SELECT doc_id, CAST(CAST(sum(r) AS BIGINT) // count(*) AS BIGINT)
        |     AS lm_x
        |  FROM bi JOIN lm ON bi.w1 = lm.w1 AND bi.w2 = lm.w2
        |  GROUP BY doc_id),
        |cut AS (
        |  SELECT s.doc_id, d.lang, len(string_split(d.text, ' ')) AS n_toks,
        |   s.lm_x,
        |   ntile(3) OVER (PARTITION BY d.lang
        |                  ORDER BY s.lm_x DESC, s.doc_id) AS t
        |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id)
        |SELECT lang,
        | CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |   AS bucket,
        | count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        | min(lm_x) AS min_lm, max(lm_x) AS max_lm
        |FROM cut GROUP BY lang, t ORDER BY lang, bucket""".stripMargin,

    "llm_dsir_weight" ->
      """WITH bi AS (
        |  SELECT doc_id, lang, b['w1'] AS w1, b['w2'] AS w2 FROM (
        |    SELECT doc_id, lang, unnest(list_transform(range(1, len(w)),
        |             i -> {'w1': w[i], 'w2': w[i+1]})) AS b
        |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
        |          FROM documents)
        |    WHERE len(w) >= 2)),
        |ratio AS (
        |  SELECT w1, w2,
        |   ((1 + sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) * 1000000)
        |     // (1 + count(*)) AS r
        |  FROM bi GROUP BY w1, w2)
        |SELECT doc_id, count(*) AS n_grams,
        | CAST(CAST(sum(r) AS BIGINT) // count(*) AS BIGINT) AS dsir_x
        |FROM bi JOIN ratio ON bi.w1 = ratio.w1 AND bi.w2 = ratio.w2
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_dsir_sample" ->
      """WITH bi AS (
        |  SELECT doc_id, lang, b['w1'] AS w1, b['w2'] AS w2 FROM (
        |    SELECT doc_id, lang, unnest(list_transform(range(1, len(w)),
        |             i -> {'w1': w[i], 'w2': w[i+1]})) AS b
        |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
        |          FROM documents)
        |    WHERE len(w) >= 2)),
        |ratio AS (
        |  SELECT w1, w2,
        |   ((1 + sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) * 1000000)
        |     // (1 + count(*)) AS r
        |  FROM bi GROUP BY w1, w2),
        |wts AS (
        |  SELECT doc_id,
        |   CAST(CAST(sum(r) AS BIGINT) // count(*) AS BIGINT) AS dsir_x
        |  FROM bi JOIN ratio ON bi.w1 = ratio.w1 AND bi.w2 = ratio.w2
        |  GROUP BY doc_id)
        |SELECT d.doc_id, d.source, d.lang, w.dsir_x
        |FROM documents d JOIN wts w ON d.doc_id = w.doc_id
        |WHERE CAST(md5_number_lower('dsmp|' || CAST(d.doc_id AS VARCHAR))
        |           % 1152921504606846976 AS BIGINT) % 1000000
        |      < CAST(floor(least(1.0, CAST(w.dsir_x AS DOUBLE) / 1000000.0)
        |                   * 1000000) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin,

    "llm_quality_winsor" ->
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY n_chars, doc_id) AS rn,
        |   count(*) OVER (PARTITION BY source) AS nd
        |  FROM documents),
        |caps AS (
        |  SELECT source, n_chars AS cap90 FROM ranked
        |  WHERE rn = (9 * nd + 9) // 10)
        |SELECT source, count(*) AS n_docs, cap90,
        | CAST(sum(n_chars) AS BIGINT) AS sum_raw,
        | CAST(sum(least(n_chars, cap90)) AS BIGINT) AS sum_winsor
        |FROM ranked JOIN caps USING (source)
        |GROUP BY source, cap90 ORDER BY source""".stripMargin,

    "llm_pmi_bigrams" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
        |uni AS (SELECT wd, count(*) AS n_w FROM toks GROUP BY 1),
        |nu AS (SELECT count(*) AS n_uni FROM toks),
        |bi AS (
        |  SELECT b['w1'] AS w1, b['w2'] AS w2 FROM (
        |    SELECT unnest(list_transform(range(1, len(w)),
        |             i -> {'w1': w[i], 'w2': w[i+1]})) AS b
        |    FROM (SELECT string_split(text, ' ') AS w FROM documents)
        |    WHERE len(w) >= 2)),
        |nb AS (SELECT count(*) AS n_bi FROM bi),
        |nab AS (SELECT w1, w2, count(*) AS n_ab FROM bi GROUP BY 1, 2)
        |SELECT w1, w2,
        | CAST(n_ab AS BIGINT) AS n_ab,
        | CAST(a.n_w AS BIGINT) AS n_a,
        | CAST(b.n_w AS BIGINT) AS n_b,
        | CAST((CAST(n_ab AS HUGEINT) * n_uni * n_uni * 1000)
        |   // (CAST(n_bi AS HUGEINT) * a.n_w * b.n_w) AS BIGINT) AS lift_x1000
        |FROM nab
        |JOIN uni a ON w1 = a.wd JOIN uni b ON w2 = b.wd
        |CROSS JOIN nu CROSS JOIN nb
        |WHERE n_ab >= 5
        |ORDER BY lift_x1000 DESC, w1, w2 LIMIT 20""".stripMargin,

    "llm_chunk" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        | CAST(len(w[(i * 15 + 1):(i * 15 + 20)]) AS INTEGER) AS chunk_words,
        | array_to_string(w[(i * 15 + 1):(i * 15 + 20)], ' ') AS chunk_text
        |FROM (
        |  SELECT doc_id, w,
        |   unnest(range(0, 1 + CAST(ceil(CAST(greatest(len(w) - 20, 0)
        |     AS DOUBLE) / 15) AS INTEGER))) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "llm_sample_topk" ->
      """SELECT source, CAST(rn AS INTEGER) AS sample_rank, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(md5_number_lower('topk|' || CAST(doc_id AS VARCHAR))
        |             % 1152921504606846976 AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    "llm_bpe_vocab" ->
      s"""$bpeCtePrefix
         |SELECT * FROM best1 UNION ALL SELECT * FROM best2
         |UNION ALL SELECT * FROM best3 ORDER BY round""".stripMargin,

    "llm_score_calibrate" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |   (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.5 +
         |   (CAST(len(list_filter(w, x -> x IN ($markersInList))) AS DOUBLE)
         |      / len(w)) * 0.3 +
         |   (CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) >= 3.0
         |          AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) <= 8.0
         |         THEN 0.2 ELSE 0.0 END) AS score
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         |scored AS (
         |  SELECT q.doc_id, d.source, q.score
         |  FROM q JOIN documents d ON q.doc_id = d.doc_id),
         |ranked AS (
         |  SELECT doc_id, source,
         |   CAST(row_number() OVER (PARTITION BY source
         |     ORDER BY score, doc_id) AS BIGINT) AS rk,
         |   count(*) OVER (PARTITION BY source) AS nd
         |  FROM scored)
         |SELECT doc_id, source, rk,
         | CASE WHEN nd = 1 THEN 500
         |      ELSE ((rk - 1) * 1000) // (nd - 1) END AS pct_x1000
         |FROM ranked ORDER BY doc_id""".stripMargin,

    "llm_train_manifest" ->
      s"""WITH spl AS (
         |  SELECT doc_id, source, text,
         |   CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
         |        ELSE 'test' END AS split
         |  FROM (SELECT doc_id, source, text,
         |         CAST(md5_number_lower('spl|' || CAST(doc_id AS VARCHAR))
         |              % 1152921504606846976 AS BIGINT) % 1000 AS b
         |        FROM documents)),
         |train AS (SELECT * FROM spl WHERE split = 'train'),
         |q AS (
         |  SELECT doc_id,
         |   (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.5 +
         |   (CAST(len(list_filter(w, x -> x IN ($markersInList))) AS DOUBLE)
         |      / len(w)) * 0.3 +
         |   (CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) >= 3.0
         |          AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) <= 8.0
         |         THEN 0.2 ELSE 0.0 END) AS score
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train)),
         |scored AS (
         |  SELECT q.doc_id, t.source, q.score
         |  FROM q JOIN train t ON q.doc_id = t.doc_id),
         |ranked AS (
         |  SELECT doc_id,
         |   CAST(row_number() OVER (PARTITION BY source
         |     ORDER BY score, doc_id) AS BIGINT) AS rk,
         |   count(*) OVER (PARTITION BY source) AS nd
         |  FROM scored),
         |sh AS (
         |  SELECT doc_id,
         |   CAST(CASE WHEN pct >= 667 THEN 0 WHEN pct >= 334 THEN 1
         |        ELSE 2 END AS INTEGER) AS phase,
         |   CAST(md5_number_lower('curr|' || CAST(doc_id AS VARCHAR))
         |        % 1152921504606846976 AS BIGINT) AS h
         |  FROM (SELECT doc_id,
         |         CASE WHEN nd = 1 THEN 500
         |              ELSE ((rk - 1) * 1000) // (nd - 1) END AS pct
         |        FROM ranked)),
         |curr AS (
         |  SELECT doc_id, phase, CAST(h % 16 AS INTEGER) AS shard,
         |   CAST(row_number() OVER (PARTITION BY phase, h % 16
         |     ORDER BY h, doc_id) AS BIGINT) AS seq
         |  FROM sh),
         |packed AS (
         |  SELECT doc_id, CAST(floor(cum / 2048.0) AS BIGINT) AS bin
         |  FROM (
         |    SELECT doc_id,
         |     sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
         |       - n_tokens AS cum
         |    FROM (SELECT doc_id, source,
         |           len(string_split(text, ' ')) AS n_tokens FROM train)))
         |SELECT s.doc_id, s.source, s.split, c.phase, c.shard, c.seq, p.bin
         |FROM spl s LEFT JOIN curr c ON s.doc_id = c.doc_id
         |LEFT JOIN packed p ON s.doc_id = p.doc_id
         |ORDER BY s.doc_id""".stripMargin,

    "llm_gopher_rules" ->
      s"""WITH m AS (
         |  SELECT doc_id, w,
         |   CAST(len(w) AS BIGINT) AS n_words,
         |   CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
         |     AS n_chars,
         |   CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
         |        AS BIGINT) AS n_alpha,
         |   CAST(len(list_intersect(list_distinct(w), [$markersInList]))
         |        AS BIGINT) AS n_stop_distinct
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |f AS (
         |  SELECT doc_id, n_words, n_chars, n_alpha, n_stop_distinct,
         |   CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
         |        THEN 1 ELSE 0 END AS INTEGER) AS ok_count,
         |   CAST(CASE WHEN 3 * n_words <= n_chars
         |         AND n_chars <= 10 * n_words
         |        THEN 1 ELSE 0 END AS INTEGER) AS ok_wordlen,
         |   CAST(CASE WHEN 5 * n_alpha >= 4 * n_words
         |        THEN 1 ELSE 0 END AS INTEGER) AS ok_alpha,
         |   CAST(CASE WHEN n_stop_distinct >= 2
         |        THEN 1 ELSE 0 END AS INTEGER) AS ok_stop
         |  FROM m)
         |SELECT doc_id, n_words, n_chars, n_alpha, n_stop_distinct,
         | ok_count, ok_wordlen, ok_alpha, ok_stop,
         | CAST(CASE WHEN ok_count + ok_wordlen + ok_alpha + ok_stop = 4
         |      THEN 1 ELSE 0 END AS INTEGER) AS kept
         |FROM f ORDER BY doc_id""".stripMargin,

    "llm_curriculum" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |   (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.5 +
         |   (CAST(len(list_filter(w, x -> x IN ($markersInList))) AS DOUBLE)
         |      / len(w)) * 0.3 +
         |   (CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) >= 3.0
         |          AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) <= 8.0
         |         THEN 0.2 ELSE 0.0 END) AS score
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         |scored AS (
         |  SELECT q.doc_id, d.source, q.score
         |  FROM q JOIN documents d ON q.doc_id = d.doc_id),
         |ranked AS (
         |  SELECT doc_id,
         |   CAST(row_number() OVER (PARTITION BY source
         |     ORDER BY score, doc_id) AS BIGINT) AS rk,
         |   count(*) OVER (PARTITION BY source) AS nd
         |  FROM scored),
         |pct AS (
         |  SELECT doc_id,
         |   CASE WHEN nd = 1 THEN 500
         |        ELSE ((rk - 1) * 1000) // (nd - 1) END AS pct
         |  FROM ranked),
         |sh AS (
         |  SELECT doc_id,
         |   CAST(CASE WHEN pct >= 667 THEN 0 WHEN pct >= 334 THEN 1
         |        ELSE 2 END AS INTEGER) AS phase,
         |   CAST(md5_number_lower('curr|' || CAST(doc_id AS VARCHAR))
         |        % 1152921504606846976 AS BIGINT) AS h
         |  FROM pct)
         |SELECT phase, CAST(h % 16 AS INTEGER) AS shard,
         | CAST(row_number() OVER (PARTITION BY phase, h % 16
         |   ORDER BY h, doc_id) AS BIGINT) AS seq,
         | doc_id
         |FROM sh ORDER BY phase, shard, seq""".stripMargin,

    "llm_padding_waste" ->
      """WITH b AS (
        |  SELECT source, len(string_split(text, ' ')) AS n,
        |   CASE WHEN len(string_split(text, ' ')) = 1 THEN 1
        |        ELSE (CAST(1 AS BIGINT)
        |              << length(bin(len(string_split(text, ' ')) - 1)))
        |   END AS bucket
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n) AS BIGINT) AS sum_tokens,
        | CAST(sum(bucket) AS BIGINT) AS sum_padded,
        | (1000 * (CAST(sum(bucket) AS BIGINT) - CAST(sum(n) AS BIGINT)))
        |   // CAST(sum(bucket) AS BIGINT) AS waste_x1000
        |FROM b GROUP BY source ORDER BY source""".stripMargin,

    "llm_ngram_diversity" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (
        |  SELECT source, 1 AS n, unnest(w) AS g FROM w
        |  UNION ALL
        |  SELECT source, 2, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) FROM w WHERE len(w) >= 2
        |  UNION ALL
        |  SELECT source, 3, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |  FROM w WHERE len(w) >= 3)
        |SELECT source, n, count(*) AS total,
        | count(DISTINCT g) AS n_distinct,
        | (1000 * count(DISTINCT g)) // count(*) AS ratio_x1000
        |FROM g GROUP BY source, n ORDER BY source, n""".stripMargin,

    "llm_budget_waterfill" ->
      """WITH cnt AS (SELECT source, count(*) AS n FROM documents
        |             GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |         count(*) AS s_cnt,
        |         (6 * CAST(sum(n) AS BIGINT)) // 10 AS budget FROM cnt),
        |ranked AS (
        |  SELECT source, n, total, s_cnt, budget,
        |   CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS i,
        |   CAST(sum(n) OVER (ORDER BY n, source
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx,
        |   lead(n) OVER (ORDER BY n, source) AS nxt
        |  FROM cnt CROSS JOIN tot),
        |cands AS (
        |  SELECT (budget - pfx) // (s_cnt - i) AS level, i AS bi,
        |   budget - pfx - ((budget - pfx) // (s_cnt - i)) * (s_cnt - i)
        |     AS rem
        |  FROM ranked
        |  WHERE i < s_cnt AND n <= (budget - pfx) // (s_cnt - i)
        |    AND (nxt IS NULL OR (budget - pfx) // (s_cnt - i) < nxt)
        |  UNION ALL
        |  SELECT budget // s_cnt, 0, budget - (budget // s_cnt) * s_cnt
        |  FROM ranked WHERE i = 1 AND budget // s_cnt < n),
        |lvl AS (SELECT min(level) AS level, min(bi) AS bi,
        |         min(rem) AS rem FROM cands)
        |SELECT source, n AS n_docs,
        | CAST(CASE WHEN level IS NOT NULL AND i > bi THEN 1 ELSE 0 END
        |      AS INTEGER) AS capped,
        | CAST(CASE WHEN level IS NULL OR i <= bi THEN n
        |       ELSE level + (CASE WHEN i >= s_cnt - rem + 1 THEN 1
        |                     ELSE 0 END) END AS BIGINT) AS alloc
        |FROM ranked CROSS JOIN lvl ORDER BY source""".stripMargin,

    "llm_tokenizer_fertility" ->
      s"""$bpeCtePrefix,
         |toks AS (
         |  SELECT word AS tw,
         |   CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_sym
         |  FROM dict3)
         |SELECT lang, count(*) AS n_words,
         | CAST(sum(n_sym) AS BIGINT) AS n_tokens,
         | (1000 * CAST(sum(n_sym) AS BIGINT)) // count(*)
         |   AS fertility_x1000
         |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
         |      FROM documents) d
         |JOIN toks ON d.word = toks.tw
         |WHERE d.word <> ''
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_bpe_apply" ->
      s"""$bpeCtePrefix,
         |toks AS (
         |  SELECT word AS tw,
         |   CAST(len(string_split(seg, ' ')) AS INTEGER) AS n_sym
         |  FROM dict3)
         |SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tokens_bpe
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |      FROM documents) d
         |JOIN toks ON d.word = toks.tw
         |WHERE d.word <> ''
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_heavy_hitters" ->
      """SELECT w, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> ''
        |GROUP BY w ORDER BY n DESC, w LIMIT 20""".stripMargin
  )
}
