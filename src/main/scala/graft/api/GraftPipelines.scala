package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType, StructField, StructType}

import graft.functions.VectorExpressions

/** User-facing, table-agnostic pipeline API.
  *
  * Every transform is DataFrame-in → DataFrame-out so it composes with any
  * source the caller reads (the `SparkEntry.queries` entries are these
  * transforms applied to the test corpus). Column-name parameters default
  * to the corpus schema (`doc_id`/`text`, `vec_id`/`embedding`).
  *
  * All transforms are shuffle-conscious: candidate generation goes through
  * bucketed self-joins (never crossJoin), aggregations are map-side
  * partial, and per-row feature extraction is pure projection.
  */
object GraftPipelines {

  /** Label every job the expression tree's ACTIONS schedule while `f`
    * runs (guide: "label your jobs") — nesting-safe: the previous
    * description is restored, so an inner phase label does not erase
    * its caller's. Thread-local, pure observability, no plan change.
    */
  private[graft] def labeled[T](spark: SparkSession, desc: String)
      (f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** Row-count cap for counted broadcasts: a side whose observed row
    * count is at or under it broadcasts, a larger one (a seed-scale
    * bootstrap batch, a dup-heavy candidate set) shuffles.
    */
  private[graft] val BroadcastRowCap = 1L << 20

  /** `df` hinted to broadcast when its counted `rows` are at or under
    * [[BroadcastRowCap]]; a larger side is left to the planner.
    */
  private[graft] def broadcastCounted(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastRowCap) broadcast(df) else df

  /** `df` projected to `cols` (all of them when empty) and
    * materialized, with its row count observed while the checkpoint
    * materializes (`Dataset.observe`, no job of its own). A frame that
    * already IS a checkpoint ([[Bridge.checkpointRdd]]) is only
    * projected, and counted off its stored RDD in one single-stage job:
    * copying every block again would schedule a whole job for nothing,
    * and `Dataset.count()` would take two.
    */
  private[graft] def ckptCounted(df: DataFrame,
      cols: String*): (DataFrame, Long) = {
    val sel =
      if (cols.isEmpty || df.columns.toSeq == cols) df
      else df.select(cols.map(col): _*)
    Bridge.checkpointRdd(df) match {
      case Some(stored) => (sel, stored.count())
      case None =>
        val rows = org.apache.spark.sql.Observation()
        val ckpt = sel.observe(rows, count(lit(1)).as("n")).localCheckpoint()
        (ckpt, rows.get("n").asInstanceOf[Long])
    }
  }

  // ---------------- dedup ----------------

  /** Exact dedup groups: content digest → keeper id + copy count. */
  def dedupExact(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    docs.groupBy(md5(col(text)).as("h"))
      .agg(min(col(id)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles (id, s); docs shorter than n yield none.
    * No repartition before the explode: it preserves row locality, so
    * map-side partial aggregation reduces each doc to its minhash minima
    * in place (docs/PLANS.md "Pre-explode repartition").
    */
  def shingle(docs: DataFrame, n: Int, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val gram = (0 until n).map(j => s"w[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    docs.select(col(id), split(col(text), " ").as("w"))
      .filter(size(col("w")) >= n)
      // explode_outer: plain explode's implicit non-empty/non-null
      // filter gets pushed below the projection and re-evaluates the
      // transform(...) chain twice per doc in an interpreted Filter
      // (see ppjoinTokensOf); size(w) >= n already guarantees at least
      // one gram, so outer semantics are identical
      .select(col(id),
        explode_outer(expr(s"transform(sequence(0, size(w)-$n), i -> $gram)")).as("s"))
  }

  /** MinHash signature: `seeds` long-typed min-hash columns from ONE MD5
    * digest per shingle. The digest's two 60-bit halves (u, v) seed a
    * Kirsch–Mitzenmacher family `h_i = (u + i·v) mod 2^60`
    * ([[graft.functions.VectorExpressions.Md5Km]]) — KM hashes preserve
    * sketch quality with any number of derived functions, so the per-seed
    * digest family (seeds/2 digests per shingle) collapses to one digest
    * plus long arithmetic. At 100 TB the digest IS the MinHash CPU
    * bottleneck; this is a seeds/2× cut. Long mins aggregate in
    * HashAggregate (string mins would fall back to SortAggregate), and
    * the DuckDB oracle reproduces every value exactly with
    * `md5_number_lower/upper(s) % 2^60` + BIGINT arithmetic.
    *
    * The KM array is projected ONCE below the aggregate (`hs`); the
    * optimizer keeps it there because duplicating a non-cheap expression
    * into 8 aggregate children fails `CollapseProject`'s cost check — so
    * the plan digests each shingle exactly once.
    */
  def minhashSignature(shingles: DataFrame, seeds: Int,
      id: String = "doc_id"): DataFrame = {
    val hashed = shingles.select(col(id),
      VectorExpressions.md5Km(col("s"), seeds).as("hs"))
    val aggs = (0 until seeds).map(i => min(col("hs")(i)).as(s"h$i"))
    hashed.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band table (id, b) from a minhash signature. */
  def lshBands(signature: DataFrame, bands: Int, rowsPerBand: Int,
      id: String = "doc_id"): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).flatMap(r =>
        Seq(lit(","), col(s"h${b * rowsPerBand + r}").cast("string"))).tail
      md5(concat(lit(s"b$b|") +: parts: _*))
    }
    signature.select(col(id), explode(array(bandCols: _*)).as("b"))
  }

  /** Candidate near-dup pairs: docs sharing any LSH band bucket.
    * Self-join keyed on the band hash — scales as the bucket sizes, not
    * O(n²).
    */
  def minhashCandidates(docs: DataFrame, shingleN: Int = 3, seeds: Int = 8,
      bands: Int = 4, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    // Both sides of the self-join shuffle on the band hash with an
    // identical child plan, so ReuseExchange computes the expensive
    // lineage (shingle explode + seeds× md5 mins) once and feeds the
    // second side from the first's shuffle files — no persist barrier,
    // no extra materialization job, and nothing held in executor memory.
    // The shuffle_hash hint pins that shape: a stats-driven broadcast
    // here would BOTH broadcast a data-scaled table (the band table
    // grows with the corpus) AND defeat the exchange reuse (the
    // broadcast side plans a different exchange, recomputing the
    // signature lineage twice).
    bandCandidates(lshBands(minhashSignature(
      shingle(docs, shingleN, id, text), seeds, id), bands, seeds / bands,
      id), id)
  }

  /** Candidate pairs from ANY band table (id, b) — freshly derived or
    * read back from a persisted [[bandIndex]]: the self-join keyed on
    * the band hash, distinct (d1 < d2) pairs. The shuffle_hash hint
    * pins the exchange-reusing shape (see [[minhashCandidates]]); when
    * the input is a parquet read, both sides scan the same files and
    * the join is the entire per-run cost — the serve half of the
    * build/serve split.
    */
  def bandCandidates(bandTable: DataFrame,
      id: String = "doc_id"): DataFrame = {
    val b = bandTable.hint("shuffle_hash")
    b.as("l").join(b.as("r"),
        col("l.b") === col("r.b") && col(s"l.$id") < col(s"r.$id"))
      .select(col(s"l.$id").as("d1"), col(s"r.$id").as("d2"))
      .distinct()
  }

  /** The one batch×store band probe of every near-dup ingest path:
    * materialized batch band rows (`doc_id, b`, `batchRows` counted)
    * against a band store of that shape, as raw `(bid, doc_id)`
    * matches, never a doc with itself; each caller shapes them.
    * `exclude` (counted ids) cuts store rows first: tombstones, or a
    * batch's own ids. The one plan choice is [[BroadcastRowCap]]: a
    * side under it broadcasts, so the store streams through
    * unshuffled (a repeated row only repeats a match); a larger batch
    * shuffle-hashes both sides, where a store bucketed on `b` reads in
    * place — a compile-time broadcast of an unbounded side is the
    * driver-OOM cliff.
    */
  private[graft] def bandProbe(store: DataFrame, batchBands: DataFrame,
      batchRows: Long,
      exclude: Option[(DataFrame, Long)] = None): DataFrame = {
    val live = exclude.fold(store) { case (ids, rows) =>
      store.join(broadcastCounted(ids.toDF("ex_id"), rows),
        col("doc_id") === col("ex_id"), "left_anti")
    }
    val bb = batchBands.select(col("doc_id").as("bid"), col("b"))
    val joined =
      if (batchRows <= BroadcastRowCap) live.join(broadcast(bb), "b")
      else bb.hint("shuffle_hash").join(live.hint("shuffle_hash"), "b")
    joined.filter(col("bid") =!= col("doc_id"))
      .select(col("bid"), col("doc_id"))
  }

  /** [[bandProbe]] matches as `d1 < d2` candidate pairs. */
  private[graft] def probePairs(matches: DataFrame): DataFrame =
    matches.select(least(col("bid"), col("doc_id")).as("d1"),
      greatest(col("bid"), col("doc_id")).as("d2"))

  /** Incremental (corpus-vs-batch) near-dup flagging: every batch doc
    * with its count of LSH candidate matches in the existing corpus and
    * a survivor flag — the shape every recurring ingest pipeline needs.
    *
    * Corpus↔corpus and batch↔batch pairs never form: the band join is
    * corpus-bands ⋈ batch-bands only, so per-ingest work is
    * O(batch + matched buckets), not O(corpus²). At production scale the
    * corpus band table is the persisted index a pipeline maintains
    * between ingests; only the batch is hashed, counted and
    * materialized per run, then [[bandProbe]]s the index, which a
    * batch under the cap never shuffles.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      shingleN: Int = 3, seeds: Int = 8, bands: Int = 4,
      id: String = "doc_id", text: String = "text"): DataFrame =
    incrementalDedupWithIndex(
      bandIndex(corpus, shingleN, seeds, bands, id, text),
      batch, shingleN, seeds, bands, id, text)

  /** Corpus band index (id, b): the persistable artifact recurring
    * ingests join against. Write it once with
    * [[graft.sources.GraftIO.writeParquet]] (or bucketed by `b`), read
    * it back each ingest, and only the batch side re-hashes — the
    * corpus text is never re-scanned.
    */
  def bandIndex(docs: DataFrame, shingleN: Int = 3, seeds: Int = 8,
      bands: Int = 4, id: String = "doc_id",
      text: String = "text"): DataFrame =
    lshBands(minhashSignature(shingle(docs, shingleN, id, text), seeds, id),
      bands, seeds / bands, id)

  /** [[incrementalDedup]] against a precomputed (possibly
    * parquet-persisted) corpus band index. The probe excludes index
    * rows of batch ids, so the flags hold even when the index already
    * has the batch's bands (a streaming replay after the append).
    */
  def incrementalDedupWithIndex(corpusIndex: DataFrame, batch: DataFrame,
      shingleN: Int = 3, seeds: Int = 8, bands: Int = 4,
      id: String = "doc_id", text: String = "text"): DataFrame =
    incrementalDedupWithBands(corpusIndex, batch, shingleN, seeds, bands,
      id, text)._1

  /** [[incrementalDedupWithIndex]] and the batch's band rows
    * `(doc_id, b)`, the counted checkpoint its probe ran on: a caller
    * that grows the index by the batch's new docs appends these rows
    * instead of shingling and min-hashing the batch a second time.
    */
  private[graft] def incrementalDedupWithBands(corpusIndex: DataFrame,
      batch: DataFrame, shingleN: Int, seeds: Int, bands: Int, id: String,
      text: String): (DataFrame, DataFrame) = {
    val (bb, rows) = ckptCounted(
      bandIndex(batch, shingleN, seeds, bands, id, text).toDF("doc_id", "b"))
    val counts = bandProbe(corpusIndex.select(col(id).as("doc_id"), col("b")),
        bb, rows, Some((bb.select(col("doc_id")), rows)))
      .distinct()
      .groupBy(col("bid").as("batch_id"))
      .agg(count(lit(1)).as("n_corpus_dups"))
    (batch.select(col(id).as("batch_id"))
      .join(counts, Seq("batch_id"), "left")
      .withColumn("n_corpus_dups", coalesce(col("n_corpus_dups"), lit(0L)))
      .withColumn("is_new",
        (col("n_corpus_dups") === 0).cast("int")), bb)
  }

  // ---------------- similarity ----------------

  /** Codegen'd cosine similarity over two array<float> columns. */
  def cosine(a: Column, b: Column): Column =
    VectorExpressions.cosineSimilarity(a, b)

  /** Brute-force cosine top-k: broadcast the (small) query set against the
    * candidate table; per-query top-k via window (executes with partial
    * top-k per partition — WindowGroupLimit).
    */
  def cosineTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val q = queries.select(col(id).as("qid"), col(vec).as("qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col(id))
    candidates.join(broadcast(q), col(id) =!= col("qid"))
      .withColumn("cosine", cosine(col("qv"), col(vec)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col(id), col("cosine"))
  }

  /** Sign-LSH bucket id from `bits` vector components starting after
    * `offset` (offset 0 = components 1..bits). Distinct offsets give
    * independent hash tables over disjoint component sets — the
    * multi-table form trades one extra candidate join for recall, the
    * standard LSH answer to single-table bucket skew at scale.
    */
  def signLshBucket(vec: Column, bits: Int, offset: Int = 0): Column =
    (1 to bits).map { i =>
      when(element_at(vec, offset + i) >= 0f, lit(1 << (i - 1))).otherwise(lit(0))
    }.reduce(_ + _)

  /** Embedding preprocessing: L2 norm + symmetric int8 quantization —
    * the storage/serving step between embedding generation and ANN
    * indexing (4× smaller vectors, dot products in integer SIMD on a
    * real serving stack). Per vector: `l2norm = sqrt(Σ x_i²)` (the
    * codegen'd [[VectorExpressions.DotProduct]] of the vector with
    * itself — left-associated, bit-identical to the oracle's unrolled
    * chain), `scale = max |x_i|`, and quantized components
    * `floor((x_i / scale) · 127) ∈ [-127, 127]` (floor, not round —
    * round-half semantics differ across engines; floor is exact).
    * Quantized vectors are emitted as a comma-joined string: portable
    * and hash-safe. Pure map-side projection — no shuffle at all.
    */
  def quantizeEmbeddings(emb: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val xd = transform(col(vec), x => abs(x.cast("double")))
    val scale = array_max(xd)
    val q = transform(col(vec), x =>
      floor((x.cast("double") / col("__scale")) * lit(127.0)).cast("long"))
    emb.select(col(id), col(vec),
        sqrt(VectorExpressions.dotProduct(col(vec), col(vec))).as("l2norm"),
        scale.as("__scale"))
      .select(col(id), col("l2norm"),
        when(col("__scale") === 0d, lit(""))
          .otherwise(array_join(q, ",")).as("q8"))
  }

  /** Deterministic Lloyd's k-means over an `array<float>` embedding
    * column: `iters` assign→update rounds, then a final assignment.
    * Returns one row per vector: (id, `cluster`, `ccos` = cosine to its
    * final centroid). The cluster column is the coarse partitioner
    * SemDeDup-style semantic dedup needs (self-join WITHIN clusters,
    * never across — candidate pairs scale as Σ cluster², not O(n²)).
    *
    * Engine-parity design (every step bit-identical to an unrolled SQL
    * mirror, no RNG):
    *  - init = the first k vectors (like the IVF coarse quantizer);
    *  - assignment = argmax cosine, ties to the lower cluster id;
    *  - update = per-dimension mean over an EXACT fixed-point sum:
    *    each component is scaled by 2^28 (a power-of-two multiply of a
    *    float-widened double is EXACT — no rounding step exists for an
    *    oracle to disagree on) and FLOORED to an integer before the
    *    decimal sum. Floor replaces the earlier decimal(28,14) cast
    *    because rounding a double to decimal HITS TIES on real float
    *    data (measured: 18 exact half-ties in the sf0.1 embeddings) and
    *    Spark rounds HALF_UP where DuckDB rounds half-even — floor has
    *    no tie to disagree on. The sum is order-independent (integers),
    *    and the mean (sum/n/2^28, one IEEE division then an exact
    *    power-of-two division) reconverts to float identically in both
    *    engines while n·max|x|·2^28 < 2^53 (~10^7 rows per cluster per
    *    unit magnitude — far beyond any oracle SF; at 100 TB only the
    *    final double conversion can differ in the last ulp, and nothing
    *    cross-checks there). OUT of that contract the long partial
    *    sums wrap silently to a plausible-looking wrong centroid
    *    (two's-complement overflow — the pre-r14 decimal sums at least
    *    surfaced overflow as an error); a deployment whose clusters
    *    can exceed ~10^7 rows per unit magnitude must re-widen the
    *    partial sums, not trust the fit. Clusters that lose every
    *    member drop out (both engines agree: no group row →
    *    no centroid).
    *
    * 100 TB shape: centroids are k rows — bounded by construction, so
    * the assignment crossJoin broadcasts them (map-side, no shuffle of
    * the big table); the update is one hash aggregation with 64 partial
    * sums per cluster (map-side combine, n rows shuffled — the explode
    * form would shuffle n·dim). Iteration count is a constant, so the
    * whole fit is O(iters) passes over the data.
    */
  def kmeans(emb: DataFrame, k: Int, iters: Int, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    kmeansFit(emb, k, iters, dim, id, vec)._2

  /** [[kmeans]] exposing BOTH the fitted centroid table (cluster,
    * c: array<float>) and the final assignment — the fit artifact PQ
    * codebook training ([[pqTopK]]) and any centroid-reusing caller
    * need. Same arithmetic, same determinism contract.
    */
  def kmeansFit(emb: DataFrame, k: Int, iters: Int, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding")
      : (DataFrame, DataFrame) = {
    val init = emb.filter(col(id) < k)
      .select(col(id).cast("int").as("cluster"), col(vec).as("c"))
    lloydFrom(emb, init, iters, dim, id, vec)
  }

  /** Simplified (centroid-based) silhouette over a [[kmeansFit]]
    * clustering — the clustering-quality gate a curation pipeline runs
    * before trusting cluster-level decisions (SemDeDup keep-lists,
    * cluster-stratified sampling). Cosine distance d = 1 − cos, so with
    * cos1 = cosine to the own (best) centroid and cos2 = cosine to the
    * best OTHER centroid: a = 1−cos1 ≤ b = 1−cos2 and
    * s = (b−a)/max(a,b) = (cos1−cos2)/(1−cos2). Exact parity: cos1/cos2
    * are the same left-assoc double cosines the assignment computes, and
    * s is one division of two identical doubles. Unlike full silhouette
    * (O(n²) pairwise), the centroid form is linear: one broadcast of k
    * centroids, one map-side cosine pass, one k-row-per-point aggregate
    * (collect_list is bounded at k) — the only shuffle is the per-id
    * combine, so the shape survives any corpus scale with bounded k.
    */
  def clusterSilhouette(emb: DataFrame, k: Int, iters: Int, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    clusterSilhouetteFrom(emb, kmeansFit(emb, k, iters, dim, id, vec)._1,
      id, vec)

  /** [[clusterSilhouette]] over an ALREADY-FITTED centroid table
    * (cluster, c: array<float>) — the serve half of the k-means fit's
    * build/serve split: the fit is persisted once per corpus+params
    * and every centroid-reusing consumer reads it back instead of
    * re-running the Lloyd iterations. Same arithmetic, same output.
    */
  def clusterSilhouetteFrom(emb: DataFrame, cent: DataFrame,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    // With a single surviving centroid cos2 has no source row: the
    // engine would emit null cos2/sil while the SQL oracle's crn = 2
    // join drops the rows entirely — fail loudly instead of silently
    // diverging (review finding; centroids are a k-row table, the
    // count is a trivial job on the already-eager fit).
    val nCent = cent.count()
    require(nCent >= 2,
      s"clusterSilhouette needs >= 2 surviving centroids, got $nCent " +
        "(clusters that lose every member drop out of the fit)")
    emb.select(col(id), col(vec))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", cosine(col(vec), col("c")))
      .groupBy(col(id))
      .agg(slice(sort_array(collect_list(struct(col("ccos"),
        (-col("cluster")).as("nc"))), asc = false), 1, 2).as("t"))
      .select(col(id),
        (-col("t")(0)("nc")).cast("int").as("cluster"),
        col("t")(0)("ccos").as("cos1"),
        col("t")(1)("ccos").as("cos2"))
      .withColumn("sil",
        (col("cos1") - col("cos2")) / (lit(1.0d) - col("cos2")))
  }

  /** Directed k-NN edges (src → its top-k cosine neighbors) inside
    * sign-LSH buckets — the shared candidate generator under the
    * symmetrized graph (`llm_knn_graph`), graph centrality, and
    * mutual-kNN components. Bucketed self-join (Σ bucket² candidates,
    * never all-pairs); the per-src top-k is WindowGroupLimit-pruned
    * map-side before the exchange. The join is unhinted on purpose:
    * both sides are the corpus, so size-based planning broadcasts at
    * test SF and shuffle-hash-joins at scale.
    */
  def knnEdges(emb: DataFrame, k: Int, lshBits: Int = 8,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val e = emb.withColumn("bucket", signLshBucket(col(vec), lshBits, 0))
    val a = e.select(col(id).as("src"), col(vec).as("sv"), col("bucket"))
    val b = e.select(col(id).as("dst"), col(vec).as("dv"), col("bucket"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    a.join(b, "bucket").filter(col("src") =!= col("dst"))
      .withColumn("cosine", cosine(col("sv"), col("dv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cosine"))
  }

  /** Damped stationary rank over a weighted directed graph in EXACT
    * integer mass arithmetic — the generic form of the event-transition
    * rank: rank0 = mass div |V|; each round distributes
    * floor(r·n/outn) along edges, then
    * r' = 15%·mass/|V| + 85%·(contrib + dangling/|V|), every division
    * truncating (Spark `div` ≡ DuckDB `//`), so both engines agree to
    * the last unit of mass. Per round: one edge-keyed join against the
    * rank table + two bounded aggregates; rank state is node-sized and
    * localCheckpoint'd (superseded blocks released eagerly). Nodes
    * without out-edges contribute their mass as dangling, so isolated
    * nodes are first-class.
    */
  def integerPagerank(edges: DataFrame, nodes: DataFrame, iters: Int,
      mass: Long): DataFrame = {
    val vcnt = nodes.agg(count(lit(1)).as("vcnt"))
    val outw = edges.groupBy(col("src")).agg(sum(col("n")).as("outn"))
      .localCheckpoint()
    var rank = nodes.crossJoin(broadcast(vcnt))
      .select(col("node"), expr(s"${mass}L div vcnt").as("r"))
    for (_ <- 1 to iters) {
      val contrib = edges.join(rank, col("src") === col("node"))
        .join(outw, "src")
        .select(col("dst"), expr("(r * n) div outn").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      val dang = rank.join(outw, col("node") === col("src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dmass"))
      val prev = rank
      rank = nodes.join(contrib, col("node") === col("dst"), "left_outer")
        .crossJoin(broadcast(vcnt)).crossJoin(broadcast(dang))
        .select(col("node"),
          (expr(s"(${mass}L * 15) div (vcnt * 100)") +
            expr("(85 * coalesce(csum, 0L)) div 100") +
            expr("(85 * (dmass div vcnt)) div 100")).as("r"))
        .localCheckpoint()
      Bridge.unpersistCheckpointBlocks(prev)
    }
    rank
  }

  /** The bucket-locality maintenance core shared by `llm_knn_incremental`
    * and DevGraph's cost probe (the streaming
    * `EventStreaming.knnMaintenanceLoop` applies the same identity
    * through partition-directory arithmetic instead): keep the
    * persisted base edges of every bucket the delta does NOT touch,
    * recompute touched buckets over their full membership. `all` must
    * carry a `bucket` column computed with the SAME `lshBits` the base
    * edges were built with — edges never cross buckets, so the union
    * equals the full rebuild exactly (hash-checked by the shared
    * oracle).
    */
  def knnIncrementalEdges(all: DataFrame, touched: DataFrame,
      baseEdges: DataFrame, k: Int, lshBits: Int,
      id: String = "vec_id"): DataFrame = {
    val srcBucket = all.select(col(id).as("src"), col("bucket"))
    val untouched = baseEdges.join(srcBucket, "src")
      .join(touched, Seq("bucket"), "left_anti").drop("bucket")
    val recomputed = knnEdges(
      all.join(touched, Seq("bucket"), "left_semi").drop("bucket"),
      k, lshBits, id)
    untouched.unionByName(recomputed)
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani, CMU-CALD-02-107;
    * the hard majority-vote form of Raghavan et al. 2007) over an
    * undirected edge list `(u, v)`, exact and deterministic: each round
    * every non-seed node adopts the plurality label among its LABELED
    * neighbors (ties broken toward the smaller label), keeping its
    * previous label when no neighbor is labeled; seeds never change;
    * `-1` means unlabeled. All-integer — no scores, no damping — so the
    * oracle's unrolled-CTE twin agrees row-for-row. `seeds` carries
    * `(node, lab, seed)` with seed ∈ {0,1}.
    *
    * 100 TB: state per round is one node-sized table (localCheckpoint'd,
    * prior round's blocks released via [[Bridge.unpersistCheckpointBlocks]]);
    * each round is one edge-keyed shuffle plus a per-node window over
    * ≤ deg vote rows — nothing quadratic, nothing driver-side.
    */
  def labelPropagate(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val dirE = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(edges.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    var state = seeds.select(col("node"), col("lab"), col("seed"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val votes = dirE
        .join(state.filter(col("lab") =!= -1), col("src") === col("node"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("c").desc, col("lab"))
      val win = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("dst"), col("lab").as("wlab"))
      val prev = state
      state = prev.join(win, prev("node") === win("dst"), "left_outer")
        .select(col("node"),
          when(col("seed") === 1, col("lab"))
            .otherwise(coalesce(col("wlab"), col("lab"))).as("lab"),
          col("seed"))
        .localCheckpoint()
      Bridge.unpersistCheckpointBlocks(prev)
    }
    state
  }

  /** Iterative k-core peel (Seidman 1983; the Batagelj–Zaveršnik peel
    * truncated at a FIXED round count so the SQL oracle can unroll it —
    * per-round degree aggregation is not expressible in a recursive
    * CTE): each round drops every surviving node whose degree among
    * survivors is < `kMin`. After `rounds` rounds, reports membership
    * and the surviving-subgraph degree. A chain peels one layer per
    * round, so truncation can leave a supergraph of the true core —
    * both engines run the IDENTICAL rounds, so the hash check is exact
    * regardless; callers wanting the fixpoint raise `rounds`.
    *
    * 100 TB: per round one edge-keyed join against the (shrinking)
    * survivor set + one degree aggregate; survivor state is node-sized,
    * checkpointed, prior round freed.
    */
  def kcorePeel(edges: DataFrame, nodes: DataFrame, kMin: Int,
      rounds: Int): DataFrame = {
    val dirE = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint()
    var alive = nodes.select(col("node")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val deg = dirE
        .join(alive, dirE("a") === alive("node")).select(col("a"), col("b"))
        .join(alive.select(col("node").as("nb")), col("b") === col("nb"))
        .groupBy(col("a")).agg(count(lit(1)).as("deg"))
      val prev = alive
      alive = deg.filter(col("deg") >= kMin)
        .select(col("a").as("node")).localCheckpoint()
      Bridge.unpersistCheckpointBlocks(prev)
    }
    val coreDeg = dirE
      .join(alive, dirE("a") === alive("node")).select(col("a"), col("b"))
      .join(alive.select(col("node").as("nb")), col("b") === col("nb"))
      .groupBy(col("a")).agg(count(lit(1)).as("core_deg"))
    nodes
      .join(alive.withColumn("in_core", lit(1)), Seq("node"), "left_outer")
      .join(coreDeg.withColumnRenamed("a", "node"), Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("in_core"), lit(0)).cast("int").as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected `(u < v)` edge list, by the oriented wedge join
    * (Schank & Wagner 2005: a<b<c ⇒ edge(a,b) ⋈ edge(b,c) ⋈ edge(a,c)),
    * so each triangle materializes exactly once. Candidates are bounded
    * by Σ deg² of the input graph — on a k-NN graph deg ≤ 2k, so the
    * wedge join is linear in edges, never all-pairs. The coefficient is
    * exact fixed-point: `(2·tri·10^6) div (deg·(deg−1))`, 0 when
    * deg < 2 — both engines truncate identically.
    */
  def triangleStats(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    val deg = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val wedges = e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("b"), col("v").as("c")), "b")
    val tris = wedges
      .join(e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
    val perNode = tris.select(col("a").as("node"))
      .unionByName(tris.select(col("b").as("node")))
      .unionByName(tris.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    nodes.join(deg, Seq("node"), "left_outer")
      .join(perNode, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("clust_scaled",
        when(col("deg") >= 2,
          expr("(2 * tri * 1000000) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
  }

  /** [[kmeans]] with the cluster count scaled to the corpus instead of
    * fixed: k = ceil(n / targetClusterSize), computed DECLARATIVELY (a
    * 1-row count aggregate joined into the init filter — no driver
    * round-trip, the plan stays lazy). This is the production SemDeDup
    * recipe (Abbas et al. 2023): cluster COUNT tracks corpus size so
    * cluster SIZE — and with it the within-cluster candidate-pair
    * count — stays constant as the corpus grows; the fixed-k form goes
    * quadratic per cluster at 10× data (measured: pairs 95× at fixed
    * k=8 vs 1.41× wall at k scaled 10×, see BASELINE.md / DevSemScale).
    * Same init rule (first-k vectors as centroids), same tie-free
    * fixed-point arithmetic, so the whole fit stays oracle-hashable
    * with `k` a scalar subquery on the SQL side.
    *
    * 100 TB note: centroids stay broadcast here, so k must fit a
    * broadcast table (k = n/target ≈ 10^7 per 10^9 docs at the default
    * target — beyond ~10^6 centroids switch to a two-level fit:
    * [[kmeansScaled]] over a per-cell slice of an IVF routing, which
    * is exactly the [[pqTopK]]+IVF composition pattern).
    */
  def kmeansScaled(emb: DataFrame, targetClusterSize: Long, iters: Int,
      dim: Int = 64, id: String = "vec_id", vec: String = "embedding")
      : DataFrame =
    kmeansScaledFit(emb, targetClusterSize, iters, dim, id, vec)._2

  /** [[kmeansScaled]] exposing BOTH the fitted centroid table and the
    * final assignment — the [[kmeansFit]] analog for the corpus-scaled
    * k, so the scaled fit can be persisted and served like the fixed-k
    * one. Same arithmetic, same determinism contract.
    */
  def kmeansScaledFit(emb: DataFrame, targetClusterSize: Long, iters: Int,
      dim: Int = 64, id: String = "vec_id", vec: String = "embedding")
      : (DataFrame, DataFrame) = {
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    val kf = emb.agg(count(lit(1)).as("n_vec"))
      .select(expr(s"(n_vec + ${targetClusterSize - 1}) div $targetClusterSize")
        .as("kk"))
    val init = emb.crossJoin(broadcast(kf)).filter(col(id) < col("kk"))
      .select(col(id).cast("int").as("cluster"), col(vec).as("c"))
    lloydFrom(emb, init, iters, dim, id, vec)
  }

  /** argmax-cosine assignment of each vector to its closest centroid
    * (ties to the LOWER cluster id, the exact rule the Lloyd fit's
    * assignment step uses — this IS that step, factored out so a
    * frozen fit can classify NEW vectors without refitting: the serve
    * half of clustering at scale, one k-row broadcast and one map-side
    * cosine pass over the input, no shuffle of anything corpus-sized).
    * Output: (id, vec, cluster, ccos). The argmax is ONE hash
    * aggregate (max_by over the lexicographic (ccos, -cluster) key),
    * not a window — partials combine map-side.
    */
  def assignToCentroids(emb: DataFrame, cent: DataFrame,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    emb.select(col(id), col(vec))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", cosine(col(vec), col("c")))
      .groupBy(col(id))
      .agg(max_by(struct(col(vec).as("v"), col("cluster"), col("ccos")),
        struct(col("ccos"), (-col("cluster")).as("nc"))).as("best"))
      .select(col(id), col("best.v").as(vec),
        col("best.cluster").as("cluster"), col("best.ccos").as("ccos"))

  /** Shared Lloyd core: `iters` assign→update rounds from `init`
    * (cluster, c: array<float>), then a final assignment. The round
    * bodies never reference k — only the init does — which is what
    * lets [[kmeansScaled]] derive k from the data without changing a
    * single arithmetic step.
    */
  private def lloydFrom(emb: DataFrame, init: DataFrame, iters: Int,
      dim: Int, id: String, vec: String): (DataFrame, DataFrame) = {
    // argmax as ONE hash aggregate (max_by over the lexicographic
    // (ccos, -cluster) key — identical tie semantics to a
    // row_number-over-(ccos DESC, cluster) window, which is what the
    // unrolled oracle computes), not a window: the window form sorts
    // the k×n joined rows per partition, the aggregate combines them
    // map-side. Same result, strictly better plan at scale.
    def assign(cent: DataFrame): DataFrame =
      assignToCentroids(emb, cent, id, vec)
    def update(assigned: DataFrame): DataFrame = {
      val scale = 268435456.0 // 2^28: exact multiply, see scaladoc
      // LONG partial sums, not decimal(28,0): the floored fixed-point
      // components are ≤ 2^28·max|x|, so the per-cluster sum stays
      // inside a long far beyond the point where the scaladoc's own
      // double-conversion bound (n·max|x|·2^28 < 2^53) already caps
      // the exactness contract — identical integers, and the 64-sum
      // HashAggregate drops the Decimal128 update path (measured
      // 0.55 → 0.40 s per round at sf0.1, plus a visibly smaller
      // codegen unit).
      val sums = (1 to dim).map(d =>
        sum(floor(element_at(col(vec), d).cast("double") * lit(scale))
          .cast("long")).as(s"s$d"))
      val g = assigned.groupBy(col("cluster"))
        .agg(sums.head, sums.tail :+ count(lit(1)).as("n"): _*)
      g.select(col("cluster"), array((1 to dim).map(d =>
        (col(s"s$d").cast("double") / col("n") / lit(scale)).cast("float")): _*)
        .as("c"))
    }
    // Each round's k-row centroid table is materialized
    // (localCheckpoint — identical float values, k rows): the composed
    // lazy fold nests round r's whole subtree inside round r+1's
    // broadcast, so the final plan re-planned/compiled per AQE stage
    // grows with the round count — measured steady-state 1.8-2.0 s for
    // KM_ITERS=2 over 2000 sf0.1 vectors, pure plan overhead (the
    // arithmetic is milliseconds). Flat per-round plans keep
    // planning + codegen O(1) per round; the per-round job the
    // checkpoint adds replaces the broadcast-subquery job the nesting
    // ran anyway. At scale nothing changes: every round already
    // materialized its k rows as a broadcast.
    val fitted = (1 to iters).foldLeft(init)((c, _) =>
      update(assign(c)).localCheckpoint())
    (fitted, assign(fitted).select(col(id), col("cluster"), col("ccos")))
  }

  /** Product-quantization ANN with asymmetric-distance scoring (Jégou,
    * Douze & Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011) — the memory-bound scale path for embedding
    * search: vectors live as `m` small codes (one byte-ish each), and a
    * query scans codes against a per-query lookup table instead of
    * touching float vectors.
    *
    *  - Codebooks: the vector splits into `m` contiguous sub-blocks of
    *    `dim/m` components; each block gets its own [[kmeansFit]]
    *    (`kSub` centroids, same tie-free fixed-point arithmetic — the
    *    whole fit stays oracle-hash-comparable).
    *  - Encoding: a vector's code for block b = its assigned cluster in
    *    block b's fit (the final-assignment table, so codes are exactly
    *    the fit's argmax — no re-derivation that could disagree).
    *  - ADC: per query, dot(query_block, codebook centroid) for every
    *    (block, centroid) — an m×kSub lookup table, broadcast — then
    *    score(v) = Σ_b lut_b[code_b(v)] in FIXED block order (float
    *    determinism), top-k per query by (score DESC, id).
    *
    * 100 TB shape: the code table is the only corpus-scaled relation in
    * the scoring join — m joins against broadcast LUTs of
    * |queries|·kSub rows, then one per-query window. Codebook training
    * reuses the bounded-k kmeans contract (centroids broadcast). IVF
    * composition (route queries to cells first, scan only probed cells'
    * codes) is [[pqTopK]] over the per-cell slice — the cell gate is
    * `llm_embed_ivf`'s, unchanged.
    */
  def pqTopK(emb: DataFrame, queries: DataFrame, m: Int, kSub: Int,
      iters: Int, k: Int, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val (codebooks, codes) = pqIndex(emb, m, kSub, iters, dim, id, vec)
    pqTopKServe(codebooks, codes, queries, m, k, dim, id, vec)
  }

  /** PQ index artifact — the BUILD half of the build/serve split
    * (the offline job; [[pqTopKServe]] is what queries run against the
    * stored result, the same split [[bandIndex]] models for minhash).
    * Returns (codebooks, codes):
    *  - codebooks: (b, cluster, c array<float>) — m·kSub rows, the
    *    per-block fitted centroids, tiny by construction;
    *  - codes: one row per vector with its m cluster ids (k0..k{m-1})
    *    — the PQ-compressed corpus, the only corpus-scaled output.
    * Persist both as parquet ([[graft.sources.GraftIO.writeParquet]]);
    * ints and floats round-trip parquet exactly, so a served query is
    * bit-identical to an in-query refit.
    */
  def pqIndex(emb: DataFrame, m: Int, kSub: Int, iters: Int,
      dim: Int = 64, id: String = "vec_id", vec: String = "embedding")
      : (DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim $dim must split into $m even blocks")
    val subDim = dim / m
    val blocks = (0 until m).map { b =>
      val sliced = emb.select(col(id),
        slice(col(vec), b * subDim + 1, subDim).as(vec))
      val (books, codes) = kmeansFit(sliced, kSub, iters, subDim, id, vec)
      (b, books, codes)
    }
    val codebooks = blocks.map { case (b, books, _) =>
      books.select(lit(b).as("b"), col("cluster"), col("c"))
    }.reduce(_ unionByName _)
    // one row per vector carrying its m codes — the PQ-compressed corpus
    val codes = blocks.map { case (b, _, c) =>
      c.select(col(id), col("cluster").as(s"k$b"))
    }.reduce(_.join(_, Seq(id)))
    (codebooks, codes)
  }

  /** PQ SERVE half: ADC scoring against a prebuilt (possibly
    * parquet-persisted) index. The corpus side of every join is the
    * code table — it is scanned but never shuffled: per-query LUTs
    * (|queries|·kSub rows per block) and the codebooks are broadcast,
    * so the only exchange is the final per-query top-k window. This is
    * the production shape: codebooks are refit offline on drift, not
    * per query.
    */
  def pqTopKServe(codebooks: DataFrame, codes: DataFrame,
      queries: DataFrame, m: Int, k: Int, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m even blocks")
    val subDim = dim / m
    // per-query LUTs: |queries| x kSub rows per block, broadcast by
    // construction (kSub is bounded; the query set is the caller's
    // bounded probe set, same contract as cosineTopK)
    val luts = (0 until m).map { b =>
      queries.select(col(id).as("qid"),
          slice(col(vec), b * subDim + 1, subDim).as("qb"))
        .crossJoin(broadcast(codebooks.filter(col("b") === b)
          .select(col("cluster").as(s"k$b"), col("c"))))
        .select(col("qid"), col(s"k$b"),
          VectorExpressions.dotProduct(col("qb"), col("c")).as(s"d$b"))
    }
    val joined = luts.zipWithIndex.foldLeft(codes) {
      case (acc, (lut, 0)) => acc.join(broadcast(lut), Seq("k0"))
      case (acc, (lut, b)) => acc.join(broadcast(lut), Seq("qid", s"k$b"))
    }
    val score = (1 until m).foldLeft(col("d0"))((s, b) => s + col(s"d$b"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(id))
    joined.filter(col(id) =!= col("qid"))
      .withColumn("score", score)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col(id), col("score"))
  }

  /** IVF-PQ two-stage retrieval (the FAISS IVFPQ serve shape,
    * by_residual=false): the coarse quantizer prunes the corpus to the
    * probed cells' posting lists, PQ ADC scores ONLY those candidates
    * from their m codes (corpus vectors never load), the ADC shortlist
    * is exact-cosine re-ranked to the final k. Composes [[ivfIndex]] +
    * [[pqIndex]] artifacts — both halves are the persisted build
    * outputs, so this is the production per-query path: one posting
    * join + broadcast LUT joins + two bounded per-query windows;
    * nothing corpus-sized shuffles.
    */
  def ivfPqTopK(centroids: DataFrame, assignments: DataFrame,
      codebooks: DataFrame, codes: DataFrame, emb: DataFrame,
      queries: DataFrame, nprobe: Int, shortlist: Int, k: Int, m: Int,
      dim: Int = 64, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m even blocks")
    val subDim = dim / m
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("centroid"))
    val probes = queries.select(col(id).as("qid"), col(vec).as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col("qv"), col("cv")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("qid"), col("centroid"))
    val cands = assignments.join(broadcast(probes), "centroid")
      .filter(col(id) =!= col("qid"))
      .select(col("qid"), col(id)).distinct()
    val luts = (0 until m).map { b =>
      queries.select(col(id).as("qid"),
          slice(col(vec), b * subDim + 1, subDim).as("qb"))
        .crossJoin(broadcast(codebooks.filter(col("b") === b)
          .select(col("cluster").as(s"k$b"), col("c"))))
        .select(col("qid"), col(s"k$b"),
          VectorExpressions.dotProduct(col("qb"), col("c")).as(s"d$b"))
    }
    val coded = cands.join(codes, id)
    val joined = luts.zipWithIndex.foldLeft(coded) { case (acc, (lut, b)) =>
      acc.join(broadcast(lut), Seq("qid", s"k$b"))
    }
    val score = (1 until m).foldLeft(col("d0"))((s, b) => s + col(s"d$b"))
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(id))
    val short = joined.withColumn("score", score)
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= shortlist)
      .select(col("qid"), col(id))
    val wFinal = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col(id))
    short.join(emb, id)
      .join(broadcast(queries.select(col(id).as("qid"), col(vec).as("qv"))),
        "qid")
      .withColumn("cosine", cosine(col("qv"), col(vec)))
      .withColumn("rn", row_number().over(wFinal))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col(id), col("cosine"))
  }

  /** Encode NEW vectors against a prebuilt PQ codebook set — the
    * incremental-ingest half of the index lifecycle (build offline →
    * serve queries → APPEND arriving vectors without a refit). Pure
    * map-side: each block's codebook (kSub rows) broadcasts and the
    * argmax is one hash aggregate; the batch never joins the corpus.
    * Encoding the original corpus against its own stored codebooks
    * reproduces the stored code table bit-for-bit (same cosine chain,
    * same (ccos, -cluster) tie key as the fit's final assignment —
    * pinned in SimilarityOpsSpec), so appended codes are
    * indistinguishable from built ones.
    */
  def pqEncode(codebooks: DataFrame, vectors: DataFrame, m: Int,
      dim: Int = 64, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m even blocks")
    val subDim = dim / m
    (0 until m).map { b =>
      vectors.select(col(id),
          slice(col(vec), b * subDim + 1, subDim).as("vb"))
        .crossJoin(broadcast(codebooks.filter(col("b") === b)
          .select(col("cluster"), col("c"))))
        .withColumn("ccos", cosine(col("vb"), col("c")))
        .groupBy(col(id))
        .agg(max_by(col("cluster"),
          struct(col("ccos"), (-col("cluster")).as("nc"))).as(s"k$b"))
    }.reduce(_.join(_, Seq(id)))
  }

  /** Assign NEW vectors to a prebuilt IVF coarse quantizer — the
    * incremental-ingest twin of [[pqEncode]] for the posting table:
    * arriving vectors take their inverted-list id map-side against the
    * broadcast centroids and append to the persisted assignments.
    * Same argmax/tie contract as [[ivfIndex]]'s build assignment.
    */
  def ivfAssign(centroids: DataFrame, vectors: DataFrame,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    vectors.select(col(id), col(vec))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col(vec), col("cv")))
      .groupBy(col(id))
      .agg(max_by(col("centroid"),
        struct(col("ccos"), (-col("centroid")).as("nc"))).as("centroid"))
      .select(col(id), col("centroid"))

  /** IVF index artifact — BUILD half (see [[pqIndex]] for the split
    * rationale). Returns (centroids, assignments):
    *  - centroids: (centroid, cv array<float>) — the nc-row coarse
    *    quantizer (deterministic: the first nc vectors, no RNG);
    *  - assignments: (id, centroid) — every vector's inverted-list id,
    *    the corpus-scaled posting table (persist partitioned/bucketed
    *    by centroid so a probe reads only its lists' files).
    * The assignment argmax is ONE hash aggregate over a broadcast of
    * nc rows — map-side, no shuffle of the corpus beyond the combine.
    */
  def ivfIndex(emb: DataFrame, nc: Int, id: String = "vec_id",
      vec: String = "embedding"): (DataFrame, DataFrame) = {
    val cent = emb.filter(col(id) < nc)
      .select(col(id).as("centroid"), col(vec).as("cv"))
    (cent, ivfAssign(cent, emb, id, vec))
  }

  /** IVF SERVE half: probe nprobe lists per query against a prebuilt
    * (possibly parquet-persisted) index, then re-rank candidates by
    * exact cosine (IVF-Flat: postings gate the search; full vectors are
    * read only for the surviving candidates). The bounded probe set is
    * broadcast against the posting table, so the corpus-scaled
    * assignments stream map-side — the serve path shuffles only
    * query-derived rows (the candidate re-rank window).
    */
  def ivfTopKServe(centroids: DataFrame, assignments: DataFrame,
      emb: DataFrame, queries: DataFrame, nprobe: Int, k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("centroid"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col("qv"), col("cv")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("qid"), col("centroid"))
    val cands = assignments.join(broadcast(probes), "centroid")
      .filter(col(id) =!= col("qid"))
      .select(col("qid"), col(id)).distinct()
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col(id))
    cands.join(emb, id)
      .join(broadcast(queries), "qid")
      .withColumn("cosine", cosine(col("qv"), col(vec)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col(id), col("cosine"))
  }

  // ---------------- data profiling ----------------

  /** Per-column data profile — row count, null count, distinct count,
    * min/max (numeric columns as double, string columns lexically) —
    * the table-observability panel a pipeline runs before trusting a
    * new source (Deequ-style). ONE pass over the table: every metric
    * for every column lives in a single aggregate, and the per-column
    * rows are unstacked from the 1-row result with a bounded explode —
    * never one scan per column.
    *
    * `exactDistinct` is the same exact↔sketch switch as
    * [[groupedPercentiles]]: exact `countDistinct` is what the
    * hash-compared oracle needs, but Spark plans k exact DISTINCTs via
    * one Expand that multiplies every input row (k+1)× through the
    * aggregate — a real cost at 100 TB. The production default is a
    * DataSketches HLL (`hll_sketch_agg` at lgK=14, ~0.8% error — NOT
    * the legacy `approx_count_distinct`, whose per-word buffer layout
    * collapses the codegen'd path; see the in-body comment), which
    * keeps the pass Expand-free with one binary buffer per column.
    */
  def profile(df: DataFrame, numericCols: Seq[String],
      stringCols: Seq[String], exactDistinct: Boolean = true): DataFrame = {
    def dist(c: String) =
      (if (exactDistinct) countDistinct(col(c))
       // DataSketches HLL at lgConfigK=14 (~0.8% standard error — the
       // profile's accuracy contract is ±2%, RelationalOpsSpec pins
       // it), NOT approx_count_distinct(rsd=0.01): Spark's legacy
       // HyperLogLogPlusPlus models its sketch as one LONG agg-buffer
       // attribute PER WORD (rsd 0.01 → ~1.5k columns per sketch; a
       // 5-column profile → a 7.7k-column aggregation buffer), which
       // poisons the codegen'd update path — measured 56 s steady for
       // 150k rows on the 32-file corpus vs 4.7 s with codegen off
       // (DevHll; driver round 8). hll_sketch_agg keeps the sketch in
       // ONE binary buffer per column (ObjectHashAggregate), scales
       // with input parallelism, and is the same sketch family the
       // mergeable incremental path (rel_distinct_incremental)
       // already persists.
       else {
         // the sketch accepts int/bigint/string/binary; other types
         // (double prices, dates) go through their canonical string
         // form — injective per distinct value (floats add +0 first:
         // grouping treats -0.0 == 0.0 but their strings differ, so
         // the IEEE identity x + 0 = x, which maps -0.0 → 0.0 and
         // changes nothing else incl. NaN, restores injectivity),
         // null-preserving, so the distinct count is unchanged
         val in = df.schema(c).dataType match {
           case org.apache.spark.sql.types.IntegerType |
                org.apache.spark.sql.types.LongType |
                org.apache.spark.sql.types.StringType |
                org.apache.spark.sql.types.BinaryType => col(c)
           case org.apache.spark.sql.types.DoubleType |
                org.apache.spark.sql.types.FloatType =>
             (col(c) + lit(0)).cast("string")
           case _ => col(c).cast("string")
         }
         hll_sketch_estimate(hll_sketch_agg(in, lit(14)))
       }).as(s"__dist_$c")
    val aggs = Seq(count(lit(1)).as("__n")) ++
      (numericCols ++ stringCols).flatMap { c =>
        Seq(sum(col(c).isNull.cast("long")).as(s"__null_$c"), dist(c))
      } ++
      numericCols.flatMap { c =>
        Seq(min(col(c)).cast("double").as(s"__min_$c"),
          max(col(c)).cast("double").as(s"__max_$c"))
      } ++
      stringCols.flatMap { c =>
        Seq(min(col(c)).as(s"__smin_$c"), max(col(c)).as(s"__smax_$c"))
      }
    val rows = numericCols.map { c =>
      struct(lit(c).as("column"), col("__n").as("n"),
        col(s"__null_$c").as("n_null"), col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_num"), col(s"__max_$c").as("max_num"),
        lit(null).cast("string").as("min_str"),
        lit(null).cast("string").as("max_str"))
    } ++ stringCols.map { c =>
      struct(lit(c).as("column"), col("__n").as("n"),
        col(s"__null_$c").as("n_null"), col(s"__dist_$c").as("n_distinct"),
        lit(null).cast("double").as("min_num"),
        lit(null).cast("double").as("max_num"),
        col(s"__smin_$c").as("min_str"), col(s"__smax_$c").as("max_str"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
  }

  // ---------------- percentiles ----------------

  /** Grouped percentiles with an explicit exact/approx switch.
    *
    * `exact = true` uses `percentile()`, which buffers EVERY value of a
    * group in executor memory — the right tool for oracle-parity checks
    * and bounded group counts (`rel_percentile` groups by order priority:
    * 5 groups), and a memory cliff on high-cardinality groups at 100 TB.
    * `exact = false` is the scale default: `approx_percentile` keeps a
    * fixed-size sketch per group (bounded state, mergeable map-side), at
    * `1/accuracy` relative rank error. Same output shape either way, so
    * a pipeline can flip the switch by data volume.
    */
  def groupedPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], exact: Boolean, accuracy: Int = 10000,
      extraAggs: Seq[Column] = Nil): DataFrame = {
    val aggs = ps.map { p =>
      val f =
        if (exact) s"percentile($valueCol, $p)"
        else s"approx_percentile($valueCol, $p, $accuracy)"
      expr(f).as(s"p${(p * 100).toInt}")
    } ++ extraAggs
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  // ---------------- skew tools ----------------

  /** Skew-safe equi-join of a skewed big side against a small-ish side.
    *
    * Hot keys overwhelm single reducers in a plain shuffle join; salting
    * splits each big-side key into `salts` deterministic sub-keys (hash of
    * a discriminator column — no RNG, so plans stay reproducible) and
    * replicates the small side across all salts. AQE's skew handling
    * covers moderate skew at runtime; explicit salting is the tool for
    * the pathological keys a 100 TB log always has.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      discriminator: String, salts: Int): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(xxhash64(col(discriminator)), lit(salts)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(lit((0 until salts).toArray)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  // ---------------- text ----------------

  /** Canonical English stopword markers used by the quality/lang-id
    * heuristics and the curation defaults. */
  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** Per-document quality metrics (word/char stats + composite score). */
  def qualityScores(docs: DataFrame, stopwords: Seq[String],
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    docs.withColumn("w", split(col(text), " "))
      .withColumn("n_words", size(col("w")))
      .withColumn("n_distinct", size(array_distinct(col("w"))))
      .withColumn("sum_len",
        expr("aggregate(transform(w, x -> length(x)), 0, (a, x) -> a + x)"))
      .withColumn("n_stop", expr(s"size(filter(w, x -> x IN ($stopList)))"))
      .withColumn("avg_word_len", col("sum_len").cast("double") / col("n_words"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_words"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_words"))
      .withColumn("score",
        (col("ttr") * 0.5) + (col("stop_ratio") * 0.3) +
          (when(col("avg_word_len") >= 3.0 && col("avg_word_len") <= 8.0, 0.2)
            .otherwise(0.0)))
      .select(col(id), col("n_words"), col("n_distinct"), col("avg_word_len"),
        col("ttr"), col("stop_ratio"), col("score"))
  }

  /** Per-document n-gram repetition stats — the "repeated phrase"
    * quality signal (most-frequent n-gram, its count, and its share of
    * all n-grams); boilerplate and spam score high. Deterministic
    * tie-break: highest count, then lexicographically-first gram.
    * Explode + two bounded aggs + one per-doc window — shuffle-friendly
    * at any scale. Docs shorter than `n` words emit no row (no grams).
    */
  def repetitionStats(docs: DataFrame, n: Int = 2, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val counts = shingle(docs, n, id, text)
      .groupBy(col(id), col("s")).agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col(id)).agg(sum(col("cnt")).as("n_grams"))
    val w = Window.partitionBy(col(id))
      .orderBy(col("cnt").desc, col("s").asc)
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(totals, Seq(id))
      .select(col(id), col("s").as("top_gram"), col("cnt").as("top_n"),
        col("n_grams"),
        (col("cnt").cast("double") / col("n_grams")).as("rep_ratio"))
  }

  /** Exact-substring overlap spans, stride 1 — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * public arXiv) signal that fixed-window span dedup misses: a
    * duplicated passage at ANY word offset. Per doc: total `n`-gram
    * count, how many of those grams also appear in ANOTHER doc, the
    * shared fraction, and the longest run of consecutive shared grams
    * converted back to words (`run + n - 1`) — the length of the
    * longest exactly-duplicated substring. Docs shorter than `n` words
    * emit no row (no grams).
    *
    * Shape: ONE scan, one shingle explode (~wordcount rows per doc —
    * the price of offset-free detection, 10× the stride-10 span
    * scrub), and only a 60-bit gram hash and a position ever shuffle,
    * never gram text. Everything downstream is windows/aggs over that
    * single stream: "shared" is `min(doc) ≠ max(doc)` over the
    * hash-partitioned window (no groupBy + join-back, which re-planned
    * the shingle lineage per consumer — the first cut of this operator
    * read the corpus FIVE times); per-doc totals, shared counts, and
    * the gaps-and-islands longest run all fold into one doc-keyed pass
    * (`grp = idx − running-shared-rank`, null for unshared rows, so
    * zero-overlap docs survive to the output with 0s).
    */
  def substringOverlap(docs: DataFrame, n: Int = 10,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val src = docs.select(col(id), split(col(text), " ").as("w"))
      .filter(size(col("w")) >= n)
    val grams = src.select(col(id), posexplode_outer(expr(
        s"transform(sequence(0, size(w)-$n), i -> concat_ws(' ', slice(w, i+1, $n)))")))
      .select(col(id), col("pos").as("idx"),
        VectorExpressions.md5Half60(col("col"), upperHalf = false).as("h"))
    val wH = Window.partitionBy(col("h"))
    val wDocOrd = Window.partitionBy(col(id)).orderBy(col("idx"))
    // n_grams needs no window of its own: every gram row lands in
    // exactly one (id, grp) group, so summing the group sizes at the
    // per-doc level reproduces the total — one fewer pass over the
    // stream's largest intermediate
    grams
      .withColumn("shared",
        (min(col(id)).over(wH) =!= max(col(id)).over(wH)).cast("long"))
      .withColumn("srn", sum(col("shared")).over(wDocOrd))
      .withColumn("grp", when(col("shared") === 1, col("idx") - col("srn")))
      .groupBy(col(id), col("grp"))
      .agg(sum(col("shared")).as("rl"), count(lit(1)).as("sz"))
      .groupBy(col(id))
      .agg(sum(col("sz")).as("n_grams"), sum(col("rl")).as("n_shared"),
        max(col("rl")).as("max_run"))
      .select(col(id), col("n_grams").cast("int").as("n_grams"),
        col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams")).as("frac_shared"),
        when(col("max_run") > 0, col("max_run") + (n - 1))
          .otherwise(lit(0L)).as("max_dup_words"))
  }

  /** PII scrub: replace email / phone-like / SSN-like spans with typed
    * placeholder tokens and count what was redacted — the privacy pass
    * every pretraining corpus runs before release. Patterns are
    * deliberately conservative character-class regexes with no
    * backreferences or lookaround, the subset Java regex (Spark) and
    * RE2 (DuckDB, Go, Rust) interpret identically — so the oracle
    * hash-matches the redacted text byte-for-byte and the same rules
    * port to any downstream stack. Pure map-side projection: at 100 TB
    * this runs at scan speed, no shuffle.
    *
    * Counting is STAGED: each pattern counts on the text as already
    * redacted by the patterns before it (the declaration order below),
    * so `n_<kind>` always equals the number of `<KIND>` tokens in
    * `redacted_text` — a phone-shaped span inside an email local part
    * is consumed by the email replacement and counted zero times, not
    * counted-but-never-redacted.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    // (name, regex, replacement token) — applied and counted in order
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("phone", "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"))

  def redactPii(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val staged = PiiPatterns.zipWithIndex.foldLeft(
      docs.select(col(id), col(text).as("__t0"))) {
        case (d, ((name, pat, rep), i)) =>
          d.withColumn(s"n_$name", size(expr(
              s"regexp_extract_all(__t$i, '${pat.replace("\\", "\\\\")}', 0)")))
            .withColumn(s"__t${i + 1}",
              regexp_replace(col(s"__t$i"), pat, rep))
      }
    staged.select(
        Seq(col(id)) ++ PiiPatterns.map(p => col(s"n_${p._1}")) :+
          col(s"__t${PiiPatterns.size}").as("redacted_text"): _*)
      .withColumn("has_pii",
        (PiiPatterns.map(p => col(s"n_${p._1}")).reduce(_ + _) > 0)
          .cast("int"))
  }

  /** Per-document feature vector: the classifier-training export that
    * joins every per-doc curation signal this library computes into one
    * wide row — quality stats + composite score, language prediction
    * (the stopword-ratio heuristic, derived from the SAME ratio quality
    * already computed — no extra scan), bigram repetition, stride-1
    * substring overlap, and PII counts. The standard interface between
    * a curation pipeline and a learned quality filter: train on these
    * columns, score the corpus, gate on the model. Each signal is
    * independently oracle-verified; the composition is doc-keyed LEFT
    * joins, so short docs carry nulls where a signal is undefined
    * (< 2 words: no repetition row; < n words: no substring row).
    */
  def docFeatures(docs: DataFrame,
      stopwords: Seq[String] = DefaultStopwords,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val q = qualityScores(docs, stopwords, id, text)
      .withColumn("pred_lang",
        when(col("stop_ratio") >= 0.05, lit("en")).otherwise(lit("und")))
    val rep = repetitionStats(docs, 2, id, text)
      .select(col(id), col("rep_ratio"))
    val sub = substringOverlap(docs, 10, id, text)
      .select(col(id), col("frac_shared"), col("max_dup_words"))
    val pii = redactPii(docs, id, text)
      .select(col(id),
        (col("n_email") + col("n_ssn") + col("n_phone")).as("n_pii"))
    q.join(rep, Seq(id), "left")
      .join(sub, Seq(id), "left")
      .join(pii, Seq(id), "left")
  }

  /** Winnowing-style fingerprint from 2-gram shingle min-hashes
    * (4 KM hashes from one digest per shingle — see [[minhashSignature]] —
    * numeric 60-bit mins → HashAggregate, digested into one md5).
    */
  def fingerprints(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val sh = shingle(docs, 2, id, text)
      .select(col(id), VectorExpressions.md5Km(col("s"), 4).as("hs"))
    val mins = (0 until 4).map(i => min(col("hs")(i)).as(s"m$i"))
    sh.groupBy(col(id)).agg(mins.head, mins.tail: _*)
      .select(col(id),
        md5(concat_ws(",", col("m0"), col("m1"), col("m2"), col("m3")))
          .as("fingerprint"))
  }

  /** Inverted index over word unigrams: one row per term with its
    * document frequency and the sorted posting list — the artifact a
    * keyword-search layer serves from (and [[bm25]] conceptually probes).
    * Postings are emitted as a comma-joined string: deterministic,
    * engine-portable, and safe to hash-compare.
    *
    * Scale contract: the (id, term) posting ROWS ([[postingsOf]], or the
    * streaming log `EventStreaming.indexIngestLoop` maintains) are the
    * source of truth and scale to any corpus; this compacted list view
    * is a serving convenience whose per-term row is df-sized. `maxDf`
    * exists for exactly that hazard — a stop-word term's list is
    * corpus-sized, so production compactions cap or shard it (stop-word
    * postings are useless for retrieval anyway); `minDf` drops the
    * hapax tail where the list payload is pure overhead.
    */
  def invertedIndex(docs: DataFrame, minDf: Long = 1,
      maxDf: Long = Long.MaxValue, id: String = "doc_id",
      text: String = "text"): DataFrame =
    invertedIndexFromPostings(postingsOf(docs, id, text), minDf, maxDf, id)

  /** (id, term) posting rows of a doc set — the unit an append-only
    * postings log accumulates (see `EventStreaming.indexIngestLoop`). */
  def postingsOf(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    docs.select(col(id),
      explode_outer(array_distinct(split(col(text), " "))).as("term"))
      // a NULL text explodes (outer) to an (id, null) posting that
      // would flow into invertedIndex/tf aggregates — drop it, exactly
      // as the pre-sweep inner explode did. The filter references the
      // generator OUTPUT, so it cannot be pushed below the Generate
      // (no re-evaluated chain, the r14 pathology stays fixed).
      .filter(col("term").isNotNull)

  /** [[invertedIndex]] from raw posting rows. The leading `distinct`
    * makes the read side idempotent under log replays: a foreachBatch
    * retry that appends a batch's postings twice changes nothing — the
    * same contract as the band-index ingest loop.
    */
  def invertedIndexFromPostings(postings: DataFrame, minDf: Long = 1,
      maxDf: Long = Long.MaxValue, id: String = "doc_id"): DataFrame = {
    val p = postings.select(col(id), col("term")).distinct()
    // df gate BEFORE list building: an out-of-band term (stop word) must
    // never materialize its corpus-sized list just to be dropped.
    val dfs = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    p.join(dfs, Seq("term"))
      .groupBy(col("term"), col("df"))
      .agg(array_join(array_sort(collect_list(col(id))), ",").as("postings"))
      .select(col("term"), col("df"), col("postings"))
  }

  /** BM25-family keyword retrieval over word unigrams — the lexical
    * complement to the vector-similarity family (and the scoring half of
    * hybrid retrieval). The name says what the idf is: the RATIONAL
    * Robertson idf, `idf = (N - df + 0.5) / (df + 0.5)`, WITHOUT the
    * log. The log is a per-term monotone transform, so single-term
    * rankings are identical to standard BM25 — but MULTI-term rankings
    * are NOT comparable to log-idf BM25 (a rare term's idf is amplified
    * linearly instead of logarithmically, so it dominates composite
    * scores more than textbook BM25 would let it; [[SimilarityOps]]'s
    * RRF hybrid fuses these rankings and inherits the same bias).
    * Dropping the log is a deliberate oracle-parity trade: it keeps
    * every arithmetic step an exact IEEE-double expression both engines
    * evaluate bit-identically (log differs in the last ulp across libm
    * implementations, which a hash-comparing oracle cannot tolerate).
    * For textbook scores, wrap the per-term contribution in `log()` —
    * same plan shape, no scale difference. Per-term contributions are
    * pivoted to fixed columns and summed in query-term order, so the
    * double addition order is deterministic — never a shuffle-order
    * `sum()` over doubles.
    *
    * Scale shape: tf is explode → filter-to-query-terms → groupBy —
    * the filter cuts the exploded stream to ~|terms|/|vocab| before any
    * shuffle; df and avgdl are 1-row scalar aggregates (broadcast by
    * construction); the final score is map-side projection + top-k
    * (`TakeOrderedAndProject`).
    */
  def bm25RationalIdf(docs: DataFrame, terms: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "bounded query-term set")
    val lens = docs.select(col(id),
      size(split(col(text), " ")).cast("long").as("dl"))
    // 1-row corpus stats: N and mean doc length (exact long sums).
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("len_sum"))
      .select(col("n_docs"),
        (col("len_sum").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    val tf = docs.select(col(id), explode_outer(split(col(text), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    // per-term df pivoted to one row (bounded by |terms|).
    val dfRow = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .groupBy().pivot("term", terms).agg(first(col("df")))
      .select(terms.map(t => coalesce(col(s"`$t`"), lit(0L)).as(s"df_$t")): _*)
    val tfRow = tf.groupBy(col(id)).pivot("term", terms).agg(first(col("tf")))
      .select(col(id) +: terms.map(t =>
        coalesce(col(s"`$t`"), lit(0L)).as(s"tf_$t")): _*)
    val scored = lens.join(tfRow, Seq(id), "left")
      .na.fill(0L, terms.map(t => s"tf_$t"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(dfRow))
    // idf_t * (tf*(k1+1)) / (tf + k1*((1-b) + b*(dl/avgdl))) — constants
    // pre-folded, parenthesization mirrored exactly in the oracle SQL.
    val contribs = terms.map { t =>
      val tfD = col(s"tf_$t").cast("double")
      val idf = (col("n_docs").cast("double") - col(s"df_$t").cast("double") + lit(0.5)) /
        (col(s"df_$t").cast("double") + lit(0.5))
      idf * ((tfD * lit(k1 + 1)) /
        (tfD + lit(k1) * (lit(1 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))))
    }
    scored.select(col(id), col("dl"),
        contribs.reduceLeft(_ + _).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(id)).limit(topK)
  }

  /** Layered SQL snippets computing ln(x) for x >= 1 as a fixed DAG of
    * IEEE-double +,-,*,/ — the operations every engine rounds
    * correctly, so Spark and DuckDB (and any IEEE-754 engine) produce
    * BIT-IDENTICAL results from the same expression text, unlike
    * libm's `log` which differs in the last ulp across
    * implementations. This is what lets a hash-comparing oracle check
    * a logarithm (the llm_embed_pca exact-arithmetic discipline).
    *
    * Method: range-reduce x = m * 2^e with e = len(bin(floor(x))) - 1
    * (so m in [1, 2) — floor/bin/length are exact integer/string ops)
    * and 2^e an exact integer shift; then the atanh series
    * ln(m) = 2 * (z + z^3/3 + ... + z^13/13) with z = (m-1)/(m+1) in
    * [0, 1/3], truncation error <= 2*(1/3)^15/15 ~ 9.3e-9; finally
    * ln(x) = ln(m) + e * ln2 with ln2 a shared double literal. Every
    * step is deterministic: powers are explicit left-associated
    * multiply chains, sums are written in one fixed order.
    *
    * Returns an ORDERED list of (columnName, expression) layers —
    * names suffixed `_$suffix`, the last one `idf_$suffix` — each
    * referencing only earlier layers. Apply them as successive
    * computed columns (Spark `withColumn(expr(...))`, DuckDB layered
    * CTEs): powers are built stepwise (z2, z3 = z2*z, z5 = z3*z2, …)
    * so every expression stays small — both engines then keep the
    * whole computation in compiled/vectorized form instead of choking
    * on a 13-deep inlined multiply chain (Spark's projection collapse
    * re-inlines long chains past the 64KB codegen method limit;
    * measured, it disabled whole-stage codegen for the idf stage).
    * `pow2Fmt` is the single engine-specific spelling of the integer
    * shift: Spark `"shiftleft(CAST(1 AS BIGINT), %s)"`,
    * DuckDB `"(1::BIGINT << %s)"`.
    */
  def lnLayers(x: String, suffix: String,
      pow2Fmt: String): Seq[(String, String)] = {
    def n(p: String) = s"${p}_$suffix"
    Seq(
      n("e") -> s"(length(bin(CAST(floor($x) AS BIGINT))) - 1)",
      n("m") -> s"($x / CAST(${pow2Fmt.format(n("e"))} AS DOUBLE))",
      n("z") -> s"((${n("m")} - 1.0) / (${n("m")} + 1.0))",
      n("z2") -> s"(${n("z")} * ${n("z")})",
      n("z3") -> s"(${n("z2")} * ${n("z")})",
      n("z5") -> s"(${n("z3")} * ${n("z2")})",
      n("z7") -> s"(${n("z5")} * ${n("z2")})",
      n("z9") -> s"(${n("z7")} * ${n("z2")})",
      n("z11") -> s"(${n("z9")} * ${n("z2")})",
      n("z13") -> s"(${n("z11")} * ${n("z2")})",
      n("idf") -> (s"(2.0 * (${n("z")} + ${n("z3")} / 3.0 + " +
        s"${n("z5")} / 5.0 + ${n("z7")} / 7.0 + ${n("z9")} / 9.0 + " +
        s"${n("z11")} / 11.0 + ${n("z13")} / 13.0) + " +
        s"CAST(${n("e")} AS DOUBLE) * 0.6931471805599453)"))
  }

  /** Textbook-parity BM25: the [[bm25RationalIdf]] plan with the
    * Lucene/standard log idf, `idf = ln(1 + (N - df + 0.5)/(df + 0.5))
    * = ln((N + 1)/(df + 0.5))` — rare-term idf grows LOGARITHMICALLY,
    * so multi-term rankings match standard BM25 (the rational twin's
    * documented bias amplifies rare terms linearly). Still
    * hash-checkable: the log is [[lnLayers]]' fixed IEEE-double DAG
    * (argument always > 1 since df <= N, so the x >= 1 precondition
    * holds by construction), computed on the 1-row (stats × df) frame
    * — per-QUERY constant work, broadcast to the per-doc scoring pass
    * exactly like the rational idf. Same scale shape: explode →
    * filter-to-terms → groupBy, 1-row scalar aggregates, map-side
    * score + TakeOrderedAndProject. Codegen note: the 1-ROW idf build
    * stage fuses ~11 layers x |terms| projections and exceeds janino's
    * 64KB method limit, so THAT stage falls back to interpreted eval —
    * once per query over one row, irrelevant; the per-doc scoring
    * stage (the hot path) stays inside whole-stage codegen.
    */
  def bm25LogIdf(docs: DataFrame, terms: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "bounded query-term set")
    val lens = docs.select(col(id),
      size(split(col(text), " ")).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("len_sum"))
      .select(col("n_docs"),
        (col("len_sum").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    val tf = docs.select(col(id), explode_outer(split(col(text), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val dfRow = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .groupBy().pivot("term", terms).agg(first(col("df")))
      .select(terms.map(t => coalesce(col(s"`$t`"), lit(0L)).as(s"df_$t")): _*)
    val tfRow = tf.groupBy(col(id)).pivot("term", terms).agg(first(col("tf")))
      .select(col(id) +: terms.map(t =>
        coalesce(col(s"`$t`"), lit(0L)).as(s"tf_$t")): _*)
    val scored = lens.join(tfRow, Seq(id), "left")
      .na.fill(0L, terms.map(t => s"tf_$t"))
      .crossJoin(broadcast(bm25LogIdfRow(stats, dfRow, terms)))
    bm25LogTopK(scored, terms, topK, k1, b, id)
  }

  /** The 1-row per-query idf frame shared by [[bm25LogIdf]] and
    * [[bm25LogServed]]: per-term log idf layered exactly as the
    * oracle's CTE chain (same expression text, Spark pow2 spelling).
    * repartition(1) on one row is free and is a deliberate exchange
    * BARRIER: without it whole-stage codegen fuses the 1-row BNLJ
    * with all |terms| x 11 ln layers into one doConsume that blows
    * janino's 64KB method limit (measured — the stage fell back to
    * interpreted eval and each bench pass paid the failed compile).
    * localCheckpoint cuts the lineage so the per-doc scoring stage
    * consumes plain idf columns instead of the optimizer re-inlining
    * all the ln layers into its join condition.
    */
  private def bm25LogIdfRow(stats: DataFrame, dfRow: DataFrame,
      terms: Seq[String]): DataFrame =
    terms.foldLeft(stats.crossJoin(dfRow).repartition(1)) { (acc, t) =>
      lnLayers(
        s"((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df_$t AS DOUBLE) + 0.5))",
        t, "shiftleft(CAST(1 AS BIGINT), %s)")
        .foldLeft(acc) { case (a, (name, e)) => a.withColumn(name, expr(e)) }
    }.localCheckpoint()

  /** The shared scoring tail: one fixed-order contribution sum per doc
    * (bit-identical across [[bm25LogIdf]] and [[bm25LogServed]] — a
    * doc's zero-tf terms contribute an exact IEEE 0.0, so pruning
    * unmatched docs upstream cannot change any surviving score), then
    * score-desc/id top-k with the >0 filter that makes the matched-doc
    * set the complete answer.
    */
  private def bm25LogTopK(scored: DataFrame, terms: Seq[String],
      topK: Int, k1: Double, b: Double, id: String): DataFrame = {
    val contribs = terms.map { t =>
      val tfD = col(s"tf_$t").cast("double")
      col(s"idf_$t") * ((tfD * lit(k1 + 1)) /
        (tfD + lit(k1) * (lit(1 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))))
    }
    scored.select(col(id), col("dl"),
        contribs.reduceLeft(_ + _).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(id)).limit(topK)
  }

  /** Write-once BM25 serving index (the [[bm25LogServed]] input):
    *
    *  - `postings.parquet` — (id, term, tf, dl), the full-vocabulary
    *    postings SORTED BY TERM so parquet row-group min/max stats
    *    skip everything but the query terms' ranges (the In filter on
    *    ≤ 10 string literals also pushes into the scan as
    *    `PushedFilters`); dl rides along per row so serving never
    *    joins a doc-length table;
    *  - `stats.parquet` — the 1-row (n_docs, avgdl) corpus statistics,
    *    avgdl computed with the exact division [[bm25LogIdf]] uses so
    *    the served score is bit-identical.
    *
    * Building explodes the corpus once — the same work ONE
    * [[bm25LogIdf]] query pays; every query after the first reads
    * only its own terms' postings.
    */
  def bm25IndexOnce(docs: DataFrame, outDir: String, id: String = "doc_id",
      text: String = "text"): Unit = {
    val lens = docs.select(col(id),
      size(split(col(text), " ")).cast("long").as("dl"))
    lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("len_sum"))
      .select(col("n_docs"),
        (col("len_sum").cast("double") / col("n_docs").cast("double")).as("avgdl"))
      .coalesce(1).write.parquet(s"$outDir/stats.parquet")
    docs.select(col(id), explode_outer(split(col(text), " ")).as("term"))
      .filter(col("term").isNotNull) // null-text guard (postingsOf note)
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
      .join(lens, Seq(id))
      .orderBy(col("term"))
      .write.parquet(s"$outDir/postings.parquet")
  }

  /** BM25 SERVED from the persisted postings index — the keyword-
    * retrieval scale path: per-query work is the query terms' postings
    * plus the 1-row stats, never a corpus scan ([[bm25LogIdf]] and the
    * rational twin explode and re-filter every document per query —
    * fine for an oracle, the wrong plan at 100 TB). Identical output
    * to [[bm25LogIdf]] by construction, so it SHARES that entry's
    * DuckDB oracle verbatim: df/tf aggregate the same exploded rows
    * (filtered in the scan instead of after it), avgdl/n_docs are the
    * build-time values from the same expression, the idf DAG and the
    * fixed-order contribution sum are the shared helpers, and docs
    * absent from every query term's postings are exactly the docs the
    * corpus-scan plan scores as an exact 0.0 and filters out.
    */
  def bm25LogServed(spark: SparkSession, indexDir: String,
      terms: Seq[String], topK: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, id: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "bounded query-term set")
    val post = spark.read.parquet(s"$indexDir/postings.parquet")
      .filter(col("term").isin(terms: _*))
    val stats = spark.read.parquet(s"$indexDir/stats.parquet")
    val dfRow = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .groupBy().pivot("term", terms).agg(first(col("df")))
      .select(terms.map(t => coalesce(col(s"`$t`"), lit(0L)).as(s"df_$t")): _*)
    val docSide = post.groupBy(col(id), col("dl"))
      .pivot("term", terms).agg(first(col("tf")))
      .select(col(id) +: col("dl") +: terms.map(t =>
        coalesce(col(s"`$t`"), lit(0L)).as(s"tf_$t")): _*)
    val scored = docSide
      .crossJoin(broadcast(bm25LogIdfRow(stats, dfRow, terms)))
    bm25LogTopK(scored, terms, topK, k1, b, id)
  }

  /** Sliding-window document chunking: fixed `size`-word chunks every
    * `stride` words — the retrieval/embedding preprocessing step (RAG
    * chunking, long-doc embedding, context-window packing all consume
    * this shape). Chunk count per doc is
    * `1 + ceil(max(n - width, 0) / stride)` (the final chunk is the only
    * short one); `chunk_idx` is 0-based and `(id, chunk_idx)` is the
    * stable chunk key. Pure per-row explode — no shuffle at all, and
    * the explode fan-out is ~n/stride rows per doc (bounded, unlike
    * shingling's ~n), so the operator is strictly lighter than the
    * dedup family at any scale.
    */
  def chunkDocuments(docs: DataFrame, width: Int, stride: Int,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(width >= 1 && stride >= 1 && stride <= width,
      "chunks must advance and cover the doc")
    docs.select(col(id), split(col(text), " ").as("w"))
      .withColumn("n_chunks",
        lit(1) + ceil(greatest(size(col("w")) - width, lit(0))
          .cast("double") / stride).cast("int"))
      .select(col(id),
        explode_outer(expr(s"transform(sequence(0, n_chunks - 1), i -> " +
          s"struct(i AS chunk_idx, " +
          s"slice(w, i * $stride + 1, $width) AS cw))")).as("c"))
      .select(col(id), col("c.chunk_idx").cast("int").as("chunk_idx"),
        size(col("c.cw")).as("chunk_words"),
        concat_ws(" ", col("c.cw")).as("chunk_text"))
  }

  /** End-to-end training-data curation: quality gate → exact dedup →
    * verified near-dup drop → token budget. The full pipeline every
    * pretraining corpus runs, composed from the verified pieces:
    *
    *  1. keep docs with composite quality score ≥ `minScore` and at
    *     least `minWords` words ([[qualityScores]]);
    *  2. exact dedup — one survivor (lowest id) per content digest;
    *  3. drop near-duplicates of the verified pairs
    *     ([[nearDuplicates]]: LSH candidates, word-set Jaccard ≥
    *     `minJaccard`). Two policies: the default drops the higher id
    *     of every pair — deterministic, no transitive closure, but it
    *     UNDER-deletes when dups chain only through a third doc
    *     (component {A,B,C} with pairs (A,C),(B,C) keeps both A and
    *     B). `clusterKeepers = true` runs [[dupClusters]] and keeps
    *     exactly one doc (the component min) per connected component —
    *     the full-strength policy, at the cost of the propagation
    *     rounds;
    *  4. annotate survivors with their whitespace token count.
    *
    * Returns the surviving rows with all original columns plus
    * `n_tokens`. Every stage is shuffle-bounded (quality is map-side,
    * dedup keys on the digest, near-dup is the bucketed pipeline), so
    * the composition scales exactly as its pieces do. Inherits
    * [[nearDuplicates]]'s eager materialization; the survivor set is
    * `localCheckpoint`ed (it feeds four consumers) — on a cluster with
    * dynamic executors swap in reliable `checkpoint()`, as with
    * [[dupClusters]].
    */
  def curate(docs: DataFrame, stopwords: Seq[String] = DefaultStopwords,
      minScore: Double = 0.45, minWords: Int = 5, minJaccard: Double = 0.7,
      clusterKeepers: Boolean = false,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val kept = docs.join(
      qualityScores(docs, stopwords, id, text)
        .filter(col("score") >= minScore && col("n_words") >= minWords)
        .select(col(id)),
      Seq(id), "left_semi")
    // Materialize the exact-dedup survivors once (localCheckpoint:
    // eager, lineage-truncating): nearDuplicates consumes them on three
    // paths (both band self-join sides + the word-set build) and the
    // final anti-join reads them again — left lazy, the quality HOFs
    // and the digest-partition window recompute on every path.
    val exact = kept
      .withColumn("__rn", row_number().over(
        Window.partitionBy(md5(col(text))).orderBy(col(id))))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint()
    val pairs = nearDuplicates(exact, minJaccard, id, text)
    val dropIds =
      if (clusterKeepers)
        dupClusters(pairs, id = id)
          .filter(col(id) =!= col("cluster_id")).select(col(id))
      else pairs.select(col("d2").as(id)).distinct()
    exact.join(dropIds, Seq(id), "left_anti")
      .withColumn("n_tokens", size(split(col(text), " ")))
  }

  /** [[curate]] with a decontamination pre-gate: drop every doc sharing
    * an n-gram with the eval set ([[decontaminate]]), then run the full
    * quality → dedup → near-dup → budget chain. The five-stage pipeline
    * a production pretraining corpus actually runs, composed from the
    * independently-verified pieces; stage order matters — contamination
    * is checked against the RAW corpus so a near-dup of a contaminated
    * doc can still be caught by its own grams, not masked by an earlier
    * drop.
    */
  def curateClean(docs: DataFrame, evalSet: DataFrame,
      stopwords: Seq[String] = DefaultStopwords, nGram: Int = 5,
      minScore: Double = 0.45, minWords: Int = 5, minJaccard: Double = 0.7,
      clusterKeepers: Boolean = false,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val clean = docs.join(
      decontaminate(docs, evalSet, nGram, id, text)
        .filter(col("is_contaminated") === 1).select(col(id)),
      Seq(id), "left_anti")
    curate(clean, stopwords, minScore, minWords, minJaccard,
      clusterKeepers, id, text)
  }

  /** Benchmark decontamination: for every corpus doc, the number of
    * distinct word n-grams it shares with an evaluation set — the
    * overlap check every pretraining pipeline runs before training so
    * eval answers don't leak into the corpus.
    *
    * Both sides reduce their grams to distinct 60-bit md5 half-hashes
    * BEFORE the join, so the shuffle carries one long per (doc, gram)
    * instead of the gram text, and the join output is exactly the
    * distinct shared-gram count (no post-join dedup). The corpus side
    * shuffles on the gram hash; the eval side is typically small but is
    * NOT hint-broadcast — eval suites grow, and AQE broadcasts at
    * runtime when genuinely small.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, n: Int = 5,
      id: String = "doc_id", text: String = "text"): DataFrame =
    decontaminateWithIndex(corpusGramIndex(corpus, n, id, text),
      corpus, evalSet, n, id, text)

  /** Corpus gram index (id, g): the persistable artifact REPEATED
    * decontamination runs join against — the decontamination twin of
    * [[bandIndex]]. A pretraining corpus is re-checked against every
    * new eval suite as benchmarks evolve; re-shingling 100 TB per suite
    * is the dominant cost, and this index (distinct 60-bit gram half-
    * hashes per doc) is computed ONCE, written bucketed on `g`
    * ([[graft.sources.GraftIO.writeBucketed]]), and reused — each new
    * run shingles only the (small) eval side, and the bucketed layout
    * makes the gram join shuffle-free on the corpus side (the same
    * one-exchange contract GraftIOSpec pins for the band index).
    */
  def corpusGramIndex(corpus: DataFrame, n: Int = 5,
      id: String = "doc_id", text: String = "text"): DataFrame =
    shingle(corpus, n, id, text)
      .select(col(id),
        VectorExpressions.md5Half60(col("s"), upperHalf = false).as("g"))
      .distinct()

  /** [[decontaminate]] against a precomputed (possibly parquet-
    * persisted, ideally bucketed-on-`g`) corpus gram index. `corpus`
    * supplies only the doc-id universe (docs shorter than `n` words
    * have no grams, hence no index rows, but still report
    * `is_contaminated = 0`) — column pruning reads just the id column.
    */
  def decontaminateWithIndex(corpusIndex: DataFrame, corpus: DataFrame,
      evalSet: DataFrame, n: Int = 5,
      id: String = "doc_id", text: String = "text"): DataFrame =
    flagGramOverlap(corpusIndex, corpus.select(col(id)),
      shingle(evalSet, n, id, text)
        .select(VectorExpressions.md5Half60(col("s"), upperHalf = false)
          .as("g")),
      id)

  /** [[decontaminate]] with the EVAL side precomputed as a persisted
    * gram set — the streaming-gate orientation: the corpus arrives in
    * micro-batches and the eval suite is the fixed artifact (build it
    * once as `corpusGramIndex(evalSuite).select("g")` and persist).
    * Per batch only the batch shingles; see
    * `EventStreaming.decontaminationGate` for the running loop.
    */
  /** [[decontaminate]] with a Bloom pre-prune on the corpus side — the
    * 100 TB form of the eval-suite leak check. The eval suite is the
    * bounded side by design, so its distinct gram set compresses into a
    * Bloom filter (~9.6 bits per expected item at 1 % fpp — a few
    * hundred KB for any real suite) that rides the filter expression to
    * every task ([[VectorExpressions.BloomMightContainLong]], codegen'd):
    * corpus gram-index rows that cannot match — the overwhelming
    * majority of a pretraining corpus — die inside the scan filter
    * BEFORE the gram join's exchange, so the corpus-side shuffle
    * carries only true hits + fpp·|corpus grams| false positives
    * instead of every gram. The downstream join is the unchanged exact
    * confirm, so the result is bit-identical to [[decontaminate]]
    * (Bloom has no false negatives) — the prune Spark's own
    * InjectRuntimeFilter applies to eligible shuffle joins, made
    * explicit, suite-sized, and independent of join-planning
    * thresholds. Building the filter runs one eager job over the small
    * eval side at call time, like the other fit-at-call-time pipelines
    * here.
    */
  def bloomDecontaminate(corpus: DataFrame, evalSet: DataFrame, n: Int = 5,
      expectedItems: Long = 1L << 18, fpp: Double = 0.01,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val evalGrams = corpusGramIndex(evalSet, n, id, text)
      .select(col("g")).distinct().localCheckpoint()
    // Size from the MEASURED distinct-gram count (evalGrams is already
    // eagerly materialized), floored at the caller's hint: an eval suite
    // larger than the hint would otherwise silently degrade fpp until
    // the prune stops pruning — correctness would hold (the downstream
    // join is the exact confirm) but the 100 TB shuffle reduction, the
    // entire point of this entry, would quietly evaporate.
    val bf = evalGrams.stat.bloomFilter("g",
      math.max(expectedItems, evalGrams.count()), fpp)
    val os = new java.io.ByteArrayOutputStream()
    bf.writeTo(os)
    val pruned = corpusGramIndex(corpus, n, id, text)
      .filter(VectorExpressions.bloomMightContainLong(col("g"), os.toByteArray))
    flagGramOverlap(pruned, corpus.select(col(id)), evalGrams, id)
  }

  def decontaminateAgainstGrams(docs: DataFrame, evalGrams: DataFrame,
      n: Int = 5, id: String = "doc_id", text: String = "text"): DataFrame =
    flagGramOverlap(corpusGramIndex(docs, n, id, text),
      docs.select(col(id)), evalGrams.select(col("g")), id)

  /** Shared tail of the decontamination family: count distinct-gram
    * hits per doc against a gram set, and report every doc in the id
    * universe (0 / clean when gram-less or unmatched).
    */
  private def flagGramOverlap(docGrams: DataFrame, docIds: DataFrame,
      gramSet: DataFrame, id: String): DataFrame = {
    val hits = docGrams.join(gramSet.distinct(), "g")
      .groupBy(col(id)).agg(count(lit(1)).as("n_eval_grams"))
    docIds
      .join(hits, Seq(id), "left")
      .withColumn("n_eval_grams", coalesce(col("n_eval_grams"), lit(0L)))
      .withColumn("is_contaminated", (col("n_eval_grams") > 0).cast("int"))
  }

  /** Deterministic stratified sampling for data mixing: keep each doc
    * with its source's rate, decided by a salted content-id hash — not
    * `rand()`, so reruns, retries, and both engines of an oracle pair
    * select the SAME rows. Rates are per-mille (0..1000). The rate
    * table is caller-bounded (one row per source), the filter is pure
    * map-side projection — no shuffle at all. Strata absent from the
    * rate map are dropped (the inner join IS the mix definition: a
    * source not in the recipe contributes nothing).
    */
  def stratifiedSample(docs: DataFrame, ratesPerMille: Map[String, Int],
      salt: String = "smp", stratum: String = "source",
      id: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rates = ratesPerMille.toSeq.toDF(stratum, "__rate")
    docs.join(broadcast(rates), Seq(stratum))
      .filter(pmod(VectorExpressions.md5Half60Prefixed(
        salt + "|", col(id).cast("string"), upperHalf = false), lit(1000))
        < col("__rate"))
      .drop("__rate")
  }

  /** Temperature-flattened source mixing (α = 0.5): per-source keep
    * rates `rate_s = sqrt(n_min / n_s)` — the smallest source keeps
    * everything, larger sources are downsampled toward equal share,
    * exactly the T=2 temperature rebalancing multilingual/multi-source
    * pretraining uses to stop the biggest crawl from drowning the tail.
    * α is fixed at 0.5 because `sqrt` is IEEE-correctly-rounded in both
    * engines (a general `pow(x, α)` is not, and would break the
    * hash-compared oracle); the ratio `n_min/n_s` is an exact int→double
    * division, so the rate is bit-identical everywhere. Selection uses
    * the same salted-hash contract as [[stratifiedSample]] at
    * parts-per-million resolution (`floor(rate·1e6)` — floor is exact).
    *
    * Returns the per-source mixing report (n_docs, rate_ppm, n_kept);
    * the kept rows themselves are the same filter without the final
    * rollup. Two scans of a counts-sized table + one map-side filter —
    * no data-scaled shuffle beyond the per-source count.
    */
  def temperatureMix(docs: DataFrame, salt: String = "tmix",
      stratum: String = "source", id: String = "doc_id"): DataFrame = {
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n_docs"))
    val withMin = counts.crossJoin(broadcast(
      counts.agg(min(col("n_docs")).as("n_min"))))
    val rates = withMin.select(col(stratum), col("n_docs"),
      floor(sqrt(col("n_min").cast("double") / col("n_docs").cast("double"))
        * lit(1000000)).cast("long").as("rate_ppm"))
    // No broadcast hint on the rate table: its cardinality is the
    // DISTINCT stratum count, which is data-scaled (per-domain
    // stratification at 100 TB is millions of rows) — unlike
    // stratifiedSample's caller-bounded recipe map. Statistics/AQE
    // broadcast it when actually small.
    val kept = docs.join(rates, Seq(stratum))
      .filter(pmod(VectorExpressions.md5Half60Prefixed(
        salt + "|", col(id).cast("string"), upperHalf = false), lit(1000000))
        < col("rate_ppm"))
    kept.groupBy(col(stratum)).agg(count(lit(1)).as("n_kept"))
      .join(rates, Seq(stratum), "right")
      .select(col(stratum), col("n_docs"), col("rate_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Quality-weighted sampling: each doc keeps with probability equal
    * to a caller-supplied per-row weight in [0, 1] (typically the
    * composite quality score — better docs survive more often, junk
    * still contributes occasionally, the soft alternative to a hard
    * score threshold). Same salted-hash determinism contract as
    * [[stratifiedSample]] at ppm resolution: the weight is computed
    * identically everywhere, `floor(w·1e6)` is exact, so reruns and
    * both oracle engines keep the SAME rows. Pure map-side.
    */
  def weightedSample(docs: DataFrame, weight: Column,
      salt: String = "wsmp", id: String = "doc_id"): DataFrame =
    docs.filter(pmod(VectorExpressions.md5Half60Prefixed(
      salt + "|", col(id).cast("string"), upperHalf = false), lit(1000000))
      < floor(weight * lit(1000000)).cast("long"))

  /** Exact-budget deterministic sampling: the k docs per stratum with
    * the smallest salted id hash — rank-based where [[stratifiedSample]]
    * is rate-based, for recipes quoted in absolute document counts
    * ("50k docs per source"). Same no-`rand()` stability contract: the
    * chosen set never changes across reruns, engines, or cluster sizes.
    * One partitioned window (rank over hash) — the same shuffle profile
    * as any per-group top-k; no global sort, no driver state.
    */
  def sampleTopKPerStratum(docs: DataFrame, k: Int, salt: String = "topk",
      stratum: String = "source", id: String = "doc_id"): DataFrame = {
    val h = VectorExpressions.md5Half60Prefixed(
      salt + "|", col(id).cast("string"), upperHalf = false)
    val w = Window.partitionBy(col(stratum)).orderBy(h.asc, col(id).asc)
    docs.withColumn("sample_rank", row_number().over(w).cast("int"))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic train/val/test assignment: each doc lands in a split
    * by salted content-id hash against cumulative per-mille weights —
    * the same no-`rand()` contract as [[stratifiedSample]], so the
    * split is stable across reruns, engines, and cluster sizes (a doc
    * never migrates between train and eval when the corpus is
    * re-processed). Pure map-side projection.
    */
  def hashSplit(docs: DataFrame,
      weightsPerMille: Seq[(String, Int)] =
        Seq("train" -> 800, "val" -> 100, "test" -> 100),
      salt: String = "spl", id: String = "doc_id"): DataFrame = {
    require(weightsPerMille.map(_._2).sum == 1000, "weights must sum to 1000")
    val bucket = pmod(VectorExpressions.md5Half60Prefixed(
      salt + "|", col(id).cast("string"), upperHalf = false), lit(1000))
    val bounds = weightsPerMille.scanLeft(0)(_ + _._2).tail
    val split = weightsPerMille.map(_._1).zip(bounds)
      .foldRight(lit(weightsPerMille.last._1)) { case ((name, hi), acc) =>
        when(bucket < hi, name).otherwise(acc)
      }
    docs.withColumn("split", split)
  }

  /** Deterministic global shuffle + sharding: the last step before
    * writing training shards. Each doc gets a salted 60-bit md5 sort
    * key; shard = key mod numShards, position = rank of the key within
    * the shard (id tiebreak). The permutation is a pure function of
    * (id, salt) — rerunning the pipeline, or running it on another
    * engine, yields byte-identical shard manifests, which is what makes
    * training-data lineage auditable (`llm_split`'s property, extended
    * to ORDER). At 100 TB: md5 keys are uniform so shards are balanced
    * by construction (no skew salting needed); the within-shard sort is
    * one window per shard partition, so pick numShards the way you pick
    * shuffle partitions — corpus bytes / target shard size — and the
    * per-task sort stays bounded. No global sort ever happens: the only
    * exchange is the hash partition by shard.
    */
  def globalShuffle(docs: DataFrame, numShards: Int,
      salt: String = "shuf", id: String = "doc_id"): DataFrame = {
    val skey = VectorExpressions.md5Half60Prefixed(
      salt + "|", col(id).cast("string"), upperHalf = false)
    docs.withColumn("skey", skey)
      .withColumn("shard", pmod(col("skey"), lit(numShards)).cast("int"))
      .withColumn("pos", (row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("skey"), col(id)))
        - 1).cast("long"))
  }

  /** Greedy contiguous sequence packing: assign docs (in id order within
    * each stratum) to fixed token-budget bins — the batch-shaping step
    * between curation and tokenization. A doc starts a new bin when the
    * running token total before it crosses the budget; bin id =
    * floor(exclusive-prefix-sum / budget). One window over
    * (stratum, id) — the shuffle profile of any partitioned window,
    * WITH that family's skew ceiling stated plainly: the running sum
    * sorts each stratum in ONE task, so a corpus where one source is
    * 80% of 100 TB pushes that whole stratum through a single sort.
    * That ceiling is inherent to greedy packing that is CONTIGUOUS
    * across the full stratum; when a hot stratum matters more than
    * strict id-adjacency, use [[packSequencesSalted]].
    */
  def packSequences(docs: DataFrame, budget: Int,
      tokens: String = "n_tokens", stratum: String = "source",
      id: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(stratum)).orderBy(col(id))
    // bin is LONG: at the 100 TB scale this API advertises, a hot
    // stratum's bin count exceeds Int.MaxValue (20 T tokens / 2048)
    docs.withColumn("__cum",
        sum(col(tokens)).over(w) - col(tokens))
      .withColumn("bin", floor(col("__cum") / budget))
      .drop("__cum")
  }

  /** [[packSequences]] for hot strata: salted two-level packing.
    * Each stratum splits into `salts` deterministic sub-strata (salted
    * content-id hash — the [[stratifiedSample]] no-RNG contract, so the
    * layout is stable across reruns and engines), each sub-stratum packs
    * independently with the same greedy rule, and bin ids interleave as
    * `local_bin * salts + salt` — bins stay disjoint across sub-strata,
    * so every bin still holds docs from exactly ONE sub-stratum and the
    * token-budget invariant is preserved bin-by-bin. The 80%-source
    * sort now spreads over `salts` tasks. The trade is explicit: docs
    * are id-contiguous per SUB-stratum, not per stratum — packing
    * density is unchanged (same greedy rule, same budget), only the
    * cross-salt adjacency of ids inside a stratum is given up.
    */
  def packSequencesSalted(docs: DataFrame, budget: Int, salts: Int,
      tokens: String = "n_tokens", stratum: String = "source",
      id: String = "doc_id"): DataFrame = {
    require(salts >= 1, "salts must be positive")
    val w = Window.partitionBy(col(stratum), col("__salt")).orderBy(col(id))
    // all-LONG bin arithmetic: local_bin * salts overflows Int exactly
    // in the hot-stratum case this variant exists for
    docs.withColumn("__salt",
        pmod(VectorExpressions.md5Half60Prefixed(
          "pck|", col(id).cast("string"), upperHalf = false),
          lit(salts)).cast("int"))
      .withColumn("__cum", sum(col(tokens)).over(w) - col(tokens))
      .withColumn("bin",
        floor(col("__cum") / budget) * salts + col("__salt"))
      .drop("__cum", "__salt")
  }

  /** Connected components over a near-dup pair list: every doc that
    * appears in a pair, labeled with its cluster id (= the minimum doc id
    * reachable through pairs). The step after pair generation in every
    * production dedup: pairs are only LOCAL evidence, and keeping
    * "the lower id of each pair" over-deletes when dups chain
    * (A~B, B~C ⇒ {A,B,C} is one cluster with one keeper, not two drops).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14).
    * Round 3 shipped O(component-diameter) min-label propagation —
    * fine for the shallow star-shaped components near-dup data actually
    * produces, but an adversarial chain of length d cost d scheduled
    * rounds; this is the O(log n)-round upgrade that verdict item
    * already named, with the same output contract (hash-identical).
    * Each round rewrites the edge set toward stars rooted at component
    * minima:
    *  - large-star: every node points its LARGER neighbors at its
    *    neighborhood minimum (incl. itself) — long chains halve;
    *  - small-star: every node points its smaller neighbors and itself
    *    at its smallest neighbor — stars compact onto their root.
    * Both phases are one groupBy + one self-join on the SAME node key
    * (the shuffle exchange is reused between them) over an edge table
    * that only ever shrinks-or-stays near the input pair count — no
    * label table, and the only driver traffic is scalar counts.
    * The fixed point is the star forest (child → component-min root),
    * read off directly as the label map. Lineage is truncated per
    * round (`localCheckpoint`; on a cluster with dynamic executors swap
    * in reliable `checkpoint()` via `setCheckpointDir`); convergence is
    * an exact set-equality check (cached cardinality compare + one
    * anti-join) — with O(log n) rounds the check never dominates.
    *
    * Small graphs skip the rounds. The input checkpoint counts its rows
    * as it materializes; at most [[DriverCcMaxRows]] integral-id pair
    * rows are collected in ONE job and labeled by union-find on the
    * driver (each set rooted at its minimum id), returned as a local
    * relation with the star path's rows and schema. Every round costs
    * several scheduled jobs however few edges it carries, and the
    * incremental chain step (`DedupOps.chainStep`) hands this function
    * tens of edges per trigger — so the capped collect (at most ~1 MB
    * of driver traffic) replaces the ~18 jobs of a converged star run
    * there. Above the cap nothing changes.
    */
  def dupClusters(pairs: DataFrame, d1: String = "d1", d2: String = "d2",
      id: String = "doc_id"): DataFrame =
    dupClustersWithRounds(pairs, d1, d2, id)._1

  /** Pair rows at or below which [[dupClusters]] labels on the driver:
    * 64k rows of two longs is about 1 MB collected.
    */
  private val DriverCcMaxRows = 1L << 16

  /** [[dupClusters]] plus the converged round count (0 on the driver
    * path) — exposed so specs can pin the O(log n) bound on adversarial
    * path graphs (`cap = 0` forces the star rounds).
    */
  private[graft] def dupClustersWithRounds(pairs: DataFrame,
      d1: String = "d1", d2: String = "d2",
      id: String = "doc_id", cap: Long = DriverCcMaxRows): (DataFrame, Int) = {
    // large-star: (v, min(Γ(u) ∪ {u})) for every v ∈ Γ(u), v > u.
    // Output edges always point big → small and carry no self loops
    // (v > u ≥ m). The groupBy and the join shuffle the symmetrized
    // table on the same key with an identical child plan → one exchange.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy(col("a"))
        .agg(least(min(col("b")), col("a")).as("m"))
      // no distinct here: small-star's trailing distinct dedups the
      // round, and min-aggregation is idempotent under duplicate edges
      sym.join(mins, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }
    // small-star: orient each edge toward its larger endpoint, then
    // point that endpoint and all its smaller neighbors at the smallest
    // neighbor. Self loops (the root re-labeling itself) are dropped.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mins = dir.groupBy(col("a")).agg(min(col("b")).as("m"))
      dir.join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // Materialize the incoming pairs once: the two derivations below
    // (loop edges and the self-pair read-off) would otherwise each
    // re-run the full pipeline feeding this function — for the
    // standard nearDuplicates caller that is the whole LSH candidate +
    // verify chain, paid twice.
    val spark = pairs.sparkSession
    val (p, rows) = labeled(spark, "cc: input checkpoint") {
      ckptCounted(pairs, d1, d2)
    }
    val integralIds = Seq(d1, d2).forall(c => p.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    if (rows <= cap && integralIds)
      return (driverClusters(p, d1, d2, id), 0)
    // Self-pairs (d1 == d2) carry no connectivity but DO assert the doc
    // exists — the contract labels every doc appearing in any pair, so
    // they re-enter at label read-off below (the star ops would
    // otherwise drop them: large-star keeps only b > a edges).
    val selfNodes = p.filter(col(d1) === col(d2))
      .select(col(d1).as("node"), col(d1).as("label"))
    var edges = labeled(spark, "cc: seed edges") {
      p.filter(col(d1) =!= col(d2))
        .select(col(d1).as("a"), col(d2).as("b")).distinct()
        .localCheckpoint()
    }
    var edgeCount = labeled(spark, "cc: seed count")(edges.count())
    var rounds = 0
    var changed = 1L
    while (changed > 0) {
      // exactly ONE alternation per materialization: each star op
      // references its input twice (symmetrize/orient + the min join),
      // so composing star ops without a checkpoint between them
      // re-evaluates the inner subtree combinatorially — a fused
      // double-step was measured 2x SLOWER per converged run than
      // paying the extra checkpoint+count job (DevRounds, sf0.1)
      val next = labeled(spark, s"cc: round ${rounds + 1}") {
        smallStar(largeStar(edges)).localCheckpoint()
      }
      val nextCount = labeled(spark, s"cc: round ${rounds + 1} count") {
        next.count() // cached rows — cheap; carried forward
      }
      rounds += 1
      // exact set equality vs the previous round, both sides cached:
      // same cardinality AND nothing outside the previous set
      changed =
        if (nextCount != edgeCount) 1L
        else labeled(spark, s"cc: round $rounds equality") {
          next.join(edges, Seq("a", "b"), "left_anti").count()
        }
      // edges is checkpointed, not cached — Dataset.unpersist would be
      // a no-op (no CacheManager entry); drop the superseded round's
      // blocks at the BlockManager so peak storage stays O(1) rounds
      Bridge.unpersistCheckpointBlocks(edges)
      edges = next
      edgeCount = nextCount
    }
    // the star forest IS the label map: children point at their root,
    // roots label themselves; self-pair singletons label themselves
    // unless connectivity gave them a smaller root (min resolves it)
    val labels = edges.select(col("a").as("node"), col("b").as("label"))
      .union(edges.select(col("b").as("node"), col("b").as("label")))
      .union(selfNodes)
      .groupBy(col("node")).agg(min(col("label")).as("label"))
    (labels.select(col("node").as(id), col("label").as("cluster_id")),
      rounds)
  }

  /** The small-graph path of [[dupClustersWithRounds]]: collect the
    * checkpointed pairs `p` in one job and label them by union-find,
    * linking each larger root under the smaller so every set is rooted
    * at its minimum id. Rows with a null endpoint are dropped and
    * self-pairs label themselves, as on the star path; ids come back in
    * the type the star path's unions widen `d1` and `d2` to.
    */
  private def driverClusters(p: DataFrame, d1: String, d2: String,
      id: String): DataFrame = {
    val spark = p.sparkSession
    val edges = labeled(spark, "cc: driver union-find") {
      p.filter(col(d1).isNotNull && col(d2).isNotNull)
        .select(col(d1).cast("long"), col(d2).cast("long")).collect()
    }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = parent.getOrElseUpdate(x, x)
      while (parent(root) != root) root = parent(root)
      var y = x // path compression
      while (y != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    edges.foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // both star-path columns come out of min aggregates: nullable
    val longs = StructType(Seq(StructField(id, LongType),
      StructField("cluster_id", LongType)))
    val idType =
      p.select(col(d1)).union(p.select(col(d2))).schema.head.dataType
    val labels = parent.keys.toSeq.map(x => Row(x, find(x)))
    // one partition, like the AQE-coalesced aggregate the star path
    // ends in: a local scan splits into defaultParallelism slices, and
    // every slice is one more part file where the labels are written
    spark.createDataFrame(java.util.Arrays.asList(labels: _*), longs)
      .select(col(id).cast(idType).as(id),
        col("cluster_id").cast(idType).as("cluster_id"))
      .coalesce(1)
  }

  /** End-to-end near-dup detection: LSH candidates verified by word-set
    * Jaccard. The expensive O(n·shingles) work happens once (the candidate
    * table is persisted, and the band self-join inside reuses one shuffle
    * exchange); verification touches only candidate pairs.
    *
    * The verify step is explode-join-count, not
    * `array_intersect`/`array_distinct(concat)` over full word arrays:
    * |A∩B| comes from a join on (doc, word) rows and |A∪B| from
    * precomputed per-doc set sizes (|A|+|B|−|A∩B|). Per-row allocation is
    * one small string instead of two full word-sets per candidate pair —
    * the array form degraded 5–10× under large G1 heaps and its transient
    * arrays are the scale hazard at 100 TB; the join form is pure
    * shuffle/agg and only ever touches docs that appear in a candidate
    * pair.
    */
  def nearDuplicates(docs: DataFrame, minJaccard: Double,
      id: String = "doc_id", text: String = "text"): DataFrame =
    nearDuplicatesFromCandidates(docs,
      minhashCandidates(docs, 3, 8, 4, id, text), minJaccard, id, text)

  /** The verify half of [[nearDuplicates]] over ANY candidate pair
    * table (d1, d2) — freshly derived or produced by
    * [[bandCandidates]] over a persisted [[bandIndex]] (what
    * `llm_neardup_served` does): word-set Jaccard via the same
    * explode-join-count form, touching only docs that appear in a
    * candidate pair. Output identical to [[nearDuplicates]] when the
    * candidate set is the same — the serve path is a storage refactor.
    * This is the one place docs are restricted to candidate ids, so
    * the streaming loops pass their whole doc log: a doc id that
    * occurs twice there only repeats its pair rows, which their
    * `distinct` readers cancel.
    */
  def nearDuplicatesFromCandidates(docs: DataFrame,
      candidatePairs: DataFrame, minJaccard: Double,
      id: String = "doc_id", text: String = "text"): DataFrame =
    verifiedPairs(docs, candidatePairs, minJaccard, id, text)._1

  /** [[nearDuplicatesFromCandidates]] plus its row count, observed as
    * the result materializes.
    */
  private[graft] def verifiedPairs(docs: DataFrame,
      candidatePairs: DataFrame, minJaccard: Double,
      id: String = "doc_id", text: String = "text"): (DataFrame, Long) = {
    // a checkpoint (eager), not persist+count: checkpointed blocks are
    // ContextCleaner-reclaimable once the plan drops, so a long-running
    // application (a streaming loop, a bench pass) never accumulates
    // pinned CacheManager entries. The pair count n is observed as it
    // materializes.
    val (cands, n) = ckptCounted(candidatePairs)
    // Docs referenced by any candidate pair: at most 2·n ids, but a
    // dup-heavy crawl puts a large fraction of all docs in some pair,
    // so they broadcast only on that COUNTED bound (a compile-time
    // broadcast is a driver-OOM cliff at 100×); past the cap the
    // unhinted join lets AQE decide at runtime. No distinct: a repeated
    // id on the semi join's build side changes nothing.
    val inPlay = cands.select(col("d1").as(id))
      .union(cands.select(col("d2")))
    // Verify via per-pair array intersection (the round-11
    // ppjoinPairsFromIndex rationale): the old explode-join-count form
    // shuffled a Σ|doc|-sized word table twice and paid a pair-key
    // groupBy; two pair-id-keyed joins against the word-ARRAY table
    // move the same bytes once each and compute |∩| per row —
    // array_intersect is exact on the array_distinct'd word sets.
    val sets = docs.join(broadcastCounted(inPlay, 2 * n), Seq(id), "left_semi")
      .select(col(id), array_distinct(split(col(text), " ")).as("wset"))
    val out = cands
      .join(sets.select(col(id).as("d1"), col("wset").as("wa")), "d1")
      .join(sets.select(col(id).as("d2"), col("wset").as("wb")), "d2")
      .withColumn("n_common",
        size(array_intersect(col("wa"), col("wb"))))
      .withColumn("n_union",
        size(col("wa")) + size(col("wb")) - col("n_common"))
      .withColumn("jaccard", col("n_common").cast("double") / col("n_union"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("d1"), col("d2"), col("n_common"), col("n_union"),
        col("jaccard"))
    // Materialize the (candidate-bounded, post-filter) result eagerly —
    // callers consume pairs on several paths (cluster chain, anti-join,
    // matrices) and must not re-run the verify per path.
    ckptCounted(out)
  }

  // ===== Fuzzy entity resolution (round 8) =====

  /** Dictionary-first blocked fuzzy pairs: distinct values of `nameCol`
    * (with support counts) self-joined inside (first-char × length-band)
    * blocks, `levenshtein ≤ maxDist` on within-block candidates only.
    * Candidates bounded at Σ block²; widen the block key at scale.
    * Output: name_a < name_b, dist, n_a, n_b.
    */
  def fuzzyBlockedPairs(df: DataFrame, nameCol: String, maxDist: Int = 3,
      lenBand: Int = 4): DataFrame = {
    val names = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("n_items"))
    def side(suffix: String) = names.select(
      col("name").as(s"name_$suffix"), col("n_items").as(s"n_$suffix"),
      substring(col("name"), 1, 1).as(s"blk_c_$suffix"),
      floor(length(col("name")) / lenBand).cast("int").as(s"blk_l_$suffix"))
    side("a").join(side("b"),
        col("blk_c_a") === col("blk_c_b") &&
        col("blk_l_a") === col("blk_l_b") &&
        col("name_a") < col("name_b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= maxDist)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("int").as("dist"),
        col("n_a"), col("n_b"))
  }

  /** Sorted-neighborhood fuzzy pairs (Hernández & Stolfo SIGMOD'95):
    * each distinct value compared to its `window` successors in
    * block-partitioned sort order — linear in entities. Complementary
    * recall to [[fuzzyBlockedPairs]]; production unions both.
    */
  def sortedNeighborhoodPairs(df: DataFrame, nameCol: String,
      window: Int = 2, maxDist: Int = 3): DataFrame = {
    val names = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("n_items"))
    val w = Window.partitionBy(substring(col("name"), 1, 1))
      .orderBy(col("name"))
    val withNbrs = (1 to window).foldLeft(names) { (acc, i) =>
      acc.withColumn(s"nb$i", lead(col("name"), i).over(w))
    }
    val pairs = (1 to window).map { i =>
      withNbrs.filter(col(s"nb$i").isNotNull)
        .select(col("name").as("name_a"), col(s"nb$i").as("name_b"))
    }.reduce(_ unionAll _)
    pairs.filter(levenshtein(col("name_a"), col("name_b")) <= maxDist)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("int").as("dist"))
  }

  // ===== CDC both ways + generic snapshot diff (round 8) =====

  /** Replay an insert/update/delete change log to final table state:
    * per-key last-writer-wins by `seqCol`, keys whose latest op is
    * `deleteOp` vanish. One shuffle on the key.
    */
  def cdcApply(log: DataFrame, keyCols: Seq[String], seqCol: String,
      opCol: String, deleteOp: String = "D"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= deleteOp)
      .drop("__rn")
  }

  /** Extract an I/U/D change log by diffing two versions of a table on
    * `keyCols`: one full-outer join, null-side analysis classifies ops,
    * null-SAFE comparison of every non-key column drops unchanged rows.
    * Output: the key columns, `op`, and old_/new_-prefixed value
    * columns. Inverse of [[cdcApply]] by construction.
    */
  def snapshotDiff(vOld: DataFrame, vNew: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val valCols = vOld.columns.filterNot(keyCols.contains).toSeq
    require(vNew.columns.filterNot(keyCols.contains).toSeq == valCols,
      "snapshotDiff: versions must share the same schema")
    val o = vOld.select(
      keyCols.map(k => col(k).as(s"__ko_$k")) ++
        valCols.map(c => col(c).as(s"old_$c")): _*)
    val n = vNew.select(
      keyCols.map(k => col(k).as(s"__kn_$k")) ++
        valCols.map(c => col(c).as(s"new_$c")): _*)
    val joinCond = keyCols.map(k => col(s"__ko_$k") === col(s"__kn_$k"))
      .reduce(_ && _)
    val changed = valCols.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, joinCond, "full_outer")
      .withColumn("op",
        when(col(s"__ko_${keyCols.head}").isNull, "I")
          .when(col(s"__kn_${keyCols.head}").isNull, "D")
          .when(changed, "U"))
      .filter(col("op").isNotNull)
      .select(
        keyCols.map(k =>
          coalesce(col(s"__ko_$k"), col(s"__kn_$k")).as(k)) ++
          (col("op") +: valCols.flatMap(c =>
            Seq(col(s"old_$c"), col(s"new_$c")))): _*)
  }

  // ===== BPE vocabulary induction (round 8) =====

  /** Fit `rounds` BPE merges (Sennrich ACL'16) over a (word, count)
    * dictionary. Each round: adjacent-symbol pair counts weighted by
    * word frequency, deterministic argmax (count DESC, pair ASC), merge
    * applied via a greedy left fold (SQL `aggregate`, init = first
    * symbol) — the same fold a DuckDB `list_reduce` mirror runs, so
    * segmentation semantics are engine-identical. Returns one row per
    * round: (round, sym_a, sym_b, merged, pair_count). Corpus size
    * enters only the word count; every round is dictionary-local.
    */
  def bpeMerges(words: DataFrame, wordCol: String, cntCol: String,
      rounds: Int): DataFrame =
    bpeFit(words, wordCol, cntCol, rounds)._1.reduce(_ unionAll _)

  /** The segmented dictionary AFTER `rounds` merges: (word, seg, cnt)
    * with `seg` the space-joined symbol sequence. This is the trained
    * tokenizer artifact — join it against any corpus to tokenize
    * (see `llm_bpe_apply`); at scale it persists like the band/ANN
    * indexes and new text tokenizes map-side against the broadcastable
    * dictionary.
    */
  def bpeSegmentations(words: DataFrame, wordCol: String, cntCol: String,
      rounds: Int): DataFrame =
    bpeFit(words, wordCol, cntCol, rounds)._2

  private def bpeFit(words: DataFrame, wordCol: String, cntCol: String,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    var dict = words.select(col(wordCol).as("word"),
      concat_ws(" ", array_remove(split(col(wordCol), ""), "")).as("seg"),
      col(cntCol).as("cnt"))
    val bests = (1 to rounds).map { r =>
      val pairs = dict
        .withColumn("arr", split(col("seg"), " "))
        // single-symbol segments (1-char words, fully-merged words in
        // later rounds) have an EMPTY zip_with array: under
        // explode_outer they would surface as a NULL pair row whose
        // aggregated cnt competes in the orderBy below (nulls sort
        // first on pcnt ties), silently corrupting the round's best
        // merge on corpora where that mass wins. Dropping them before
        // the explode restores the inner-explode semantics. The test
        // is on `seg`, not `size(arr) >= 2`: Catalyst pushes a filter
        // on `arr` below the projection as a second split of every
        // segment per round, while `size(split(s, " "))` is one plus
        // the number of spaces (NULL for NULL input), so a space test
        // is the same predicate without the split.
        .filter(instr(col("seg"), " ") > 0)
        .select(explode_outer(expr(
          "zip_with(slice(arr, 1, size(arr)-1), slice(arr, 2, size(arr)-1)," +
          " (x, y) -> concat(x, ' ', y))")).as("pair"), col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pcnt"))
      // NOT round-checkpointed (unlike lloydFrom): A/B'd in round 15 —
      // per-round localCheckpoints of best/dict read flat-to-worse at
      // sf0.1 (vocab 0.99->0.94 but apply 1.23->1.38, fertility
      // 1.30->1.38); the dictionary is small enough that exchange
      // reuse already serves the nested fold.
      val best = pairs.orderBy(col("pcnt").desc, col("pair").asc).limit(1)
        .select(lit(r).as("round"),
          split(col("pair"), " ")(0).as("sym_a"),
          split(col("pair"), " ")(1).as("sym_b"),
          regexp_replace(col("pair"), " ", "").as("merged"),
          col("pcnt").cast("long").as("pair_count"))
      dict = dict.crossJoin(broadcast(best))
        .select(col("word"), expr(
          "aggregate(slice(split(seg, ' '), 2, size(split(seg, ' '))-1)," +
          " split(seg, ' ')[0]," +
          " (acc, x) -> CASE WHEN (acc = sym_a" +
          "   OR endswith(acc, concat(' ', sym_a))) AND x = sym_b" +
          "  THEN concat(left(acc, length(acc) - length(sym_a)), merged)" +
          "  ELSE concat(acc, ' ', x) END)").as("seg"), col("cnt"))
      best
    }
    (bests, dict)
  }

  // ------------------------------------------------------------------
  // Round-10: LM scoring, importance weighting, exact similarity join,
  // diversity selection, evaluation, and budget allocation
  // ------------------------------------------------------------------

  /** Per-doc bigram-LM fluency score (KenLM/CCNet filter shape) in
    * exact integer arithmetic: each adjacent word pair contributes
    * floor(scale·count(w1 w2)/count(w1 ·)) under `lm` (a (w1, w2, r)
    * ratio table — fit one with [[bigramLmRatios]] on a trusted
    * reference corpus, or on `docs` itself for self-scoring); the doc
    * score is the integer mean. Output: (id, n_pairs, lm_x).
    */
  def lmScore(docs: DataFrame, lm: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    adjacentBigrams(docs, id, text)
      .join(lm, Seq("w1", "w2"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_pairs"), sum(col("r")).as("sum_r"))
      .select(col(id), col("n_pairs"), expr("sum_r div n_pairs").as("lm_x"))
  }

  /** Bigram conditional-probability ratio table for [[lmScore]]:
    * (w1, w2, r = floor(scale·n12/n1)) — vocabulary²-bounded.
    */
  def bigramLmRatios(docs: DataFrame, id: String = "doc_id",
      text: String = "text", scale: Long = 1000000L): DataFrame = {
    val bi = adjacentBigrams(docs, id, text)
    val n12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    val n1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    n12.join(n1, "w1")
      .select(col("w1"), col("w2"), expr(s"(n12 * ${scale}L) div n1").as("r"))
  }

  /** DSIR-style importance weights (Xie et al. 2023): per-doc mean
    * add-1-smoothed target/raw bigram frequency ratio, where
    * `isTarget` marks the target-domain rows of `docs` itself. Output:
    * (id, n_grams, dsir_x) — feed `dsir_x` to [[weightedSample]].
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, id: String = "doc_id",
      text: String = "text", scale: Long = 1000000L): DataFrame = {
    val bi = adjacentBigrams(docs.withColumn("__tgt", isTarget), id, text,
      extra = Seq("__tgt"))
    val ratio = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("c_tgt"))
      .select(col("w1"), col("w2"),
        expr(s"((1 + c_tgt) * ${scale}L) div (1 + c_raw)").as("r"))
    bi.join(ratio, Seq("w1", "w2"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"), sum(col("r")).as("sum_r"))
      .select(col(id), col("n_grams"), expr("sum_r div n_grams").as("dsir_x"))
  }

  /** (id, w1, w2) adjacent word pairs — the shared explode of the LM
    * scoring family.
    */
  private def adjacentBigrams(docs: DataFrame, id: String, text: String,
      extra: Seq[String] = Nil): DataFrame = {
    val keep = (id +: extra).map(col)
    docs.select(keep :+ split(col(text), " ").as("w"): _*)
      .filter(size(col("w")) >= 2)
      .select(keep :+ explode_outer(expr(
        "transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
        .as("b"): _*)
      .select(keep :+ col("b.w1") :+ col("b.w2"): _*)
  }

  /** PPJoin-style EXACT set-similarity self-join (prefix filtering,
    * Chaudhuri ICDE'06 / Xiao WWW'08) over distinct word-n-shingle
    * sets: returns every pair with Jaccard ≥ num/den and its true
    * similarity — the sketch-free complement to [[nearDuplicates]].
    * Candidates come only from rare-prefix collisions, pruned further
    * by the size band (den·min ≥ num·max... i.e. |a|·num ≤ |b|·den and
    * vice versa) and the first-prefix-token positional bound; both
    * prunes are sound, so the join is LOSSLESS. The shingle and prefix
    * tables are localCheckpoint'd — the artifacts a deployment
    * persists. Output: (a_id, b_id, na, nb, inter, jac_x1000).
    *
    * NOTE (eager + non-fault-tolerant): the two `localCheckpoint()`
    * calls (inside [[ppjoinIndex]]) run Spark jobs AT CALL TIME — this
    * method is not lazy like the rest of the API — and checkpoint
    * blocks live on executors only, so they are lost on executor
    * failure and the embedding job fails rather than recomputes. A
    * long pipeline that needs fault-tolerant artifacts should write
    * [[ppjoinIndex]]'s tables to storage and serve the join from the
    * read-back via [[ppjoinPairsFromIndex]] (what `llm_ppjoin_served`
    * does).
    */
  def ppjoinPairs(docs: DataFrame, num: Int = 1, den: Int = 2,
      shingleWidth: Int = 3, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val (toks, pref) = ppjoinIndex(docs, num, den, shingleWidth, id, text)
    ppjoinPairsFromIndex(toks, pref, num, den, id)
  }

  /** The PPJoin build phase as a standalone artifact pair: the per-doc
    * shingle set table `(id, sz, sarr)` and the df-ordered prefix index
    * `(id, h, rn, sz)` for threshold num/den, keyed on the token hash
    * `h` (soundness note at [[ppjoinRanked]]). These are the tables a
    * deployment PERSISTS (the index is threshold-specific — the prefix
    * length depends on θ); [[ppjoinPairsFromIndex]] serves the join
    * from them without re-running the explode/distinct/window chain —
    * the same build/serve split the ANN entries use, letting the
    * per-query cost be the candidate+verify joins alone.
    */
  def ppjoinIndex(docs: DataFrame, num: Int = 1, den: Int = 2,
      shingleWidth: Int = 3, id: String = "doc_id",
      text: String = "text"): (DataFrame, DataFrame) = {
    // checkpoint the SET table (one row per doc), not the exploded
    // token rows — smaller blocks, and the verify side consumes the
    // arrays as-is
    val sets = ppjoinTokenSets(docs, shingleWidth, id, text)
      .localCheckpoint()
    (sets,
      ppjoinPrefix(ppjoinTokensOf(sets, id), num, den, id).localCheckpoint())
  }

  /** Per-doc DISTINCT shingle SETS `(id, sz, sarr)` — the first PPJoin
    * build artifact. `array_distinct` inside the projection replaces
    * the exploded table's global `distinct()`: dedup within a doc needs
    * no exchange at all (the old distinct shuffled every (id, shingle)
    * row just to dedup rows that already shared their doc), `sz` is the
    * array size read map-side (the old shape paid a per-doc window
    * count for it), and the verify step consumes the arrays directly
    * instead of re-aggregating token rows per query (the collect_list
    * exchange is gone). Measured at sf0.1: the token build 2.6 → 0.9 s,
    * llm_containment_join end-to-end 4.7 → 2.9 s, identical rows.
    */
  def ppjoinTokenSets(docs: DataFrame, shingleWidth: Int = 3,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val n = shingleWidth
    val gram = (0 until n).map(j => s"w[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    docs.select(col(id), split(col(text), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col(id), expr(
        s"array_distinct(transform(sequence(0, size(w)-$n), i -> $gram))")
        .as("sarr"))
      .select(col(id), size(col("sarr")).cast("long").as("sz"), col("sarr"))
  }

  /** The distinct shingle table `(id, s, sz)` from an already-built (or
    * read-back) [[ppjoinTokenSets]] table — the explode is the only
    * step, so a checkpointed/persisted set table feeds both the rank
    * build and the verify without recomputing the shingle pass (sz, the
    * doc's distinct-shingle count, rides every row, so the rank pass
    * needs no per-doc count window).
    */
  def ppjoinTokensOf(sets: DataFrame, id: String = "doc_id"): DataFrame =
    // explode_outer, deliberately: plain explode plants an implicit
    // `size(arr) > 0 AND isnotnull(arr)` filter that the optimizer
    // pushes BELOW the sarr projection, inlining the whole
    // array_distinct(transform(...)) chain twice into an interpreted
    // Filter — measured 4.4 s vs 0.9 s for the exploded token table at
    // sf0.1. sarr is non-empty by construction (docs with < n words
    // never enter the set table), so outer semantics are identical.
    sets.select(col(id), col("sz"), explode_outer(col("sarr")).as("s"))
      .select(col(id), col("s"), col("sz"))

  /** The df-ordered prefix index `(id, h, rn, sz)` for threshold
    * num/den: the [[ppjoinRanked]] rows inside each doc's prefix, keyed
    * on the token hash `h` (soundness note at [[ppjoinRanked]]). Derived
    * from a [[ppjoinTokensOf]] table (fresh or re-read from storage).
    */
  def ppjoinPrefix(toks: DataFrame, num: Int = 1, den: Int = 2,
      id: String = "doc_id"): DataFrame = {
    require(num > 0 && den >= num, "threshold must be in (0, 1]")
    ppjoinRanked(toks, id).filter(prefixCond(num, den))
  }

  /** The df-ordered ranked token table `(id, h, rn, sz)` — tokens of
    * each doc ranked rarest-first in the GLOBAL (df, h, s) order —
    * that both the Jaccard prefix ([[ppjoinPrefix]]) and the
    * containment join ([[containmentPairs]], which also needs the
    * container side's unfiltered ranks for its positional prune)
    * derive from.
    *
    * `h = xxhash64(s)` is the TOKEN KEY from here on (round 15): the
    * dfreq aggregate, the dfreq join, and — the big one — the
    * candidate self-joins all exchange an 8-byte long instead of the
    * ~25-byte 3-word shingle string, and the persisted prefix/slice
    * fixtures shrink the same way. Soundness:
    *
    *  - the RANK order (df, h, s) is still a total order on shingle
    *    STRINGS (df and h are functions of s; s breaks ties), so the
    *    prefix pigeonhole holds verbatim — which tokens enter each
    *    prefix is deterministic and order-valid;
    *  - the candidate join on `h` matches a SUPERSET of the string
    *    join (equal strings ⇒ equal hashes); extra pairs from a
    *    64-bit collision are removed by the exact array_intersect
    *    verify, so the OUTPUT is unchanged;
    *  - the aggregate positional prune takes (i*, j*) from ONE row via
    *    max(struct(rn_a, rn_b)) — for genuine (string-equal)
    *    collisions that row is the last common token in the shared
    *    order, exactly the pre-hash semantics. The only event that
    *    could perturb the prune is two DISTINCT shingles with equal
    *    xxhash64 co-occurring inside one candidate pair AND attaining
    *    the struct max (expected colliding shingle pairs ≈ D²/2^65 —
    *    ~3·10⁻⁷ at sf1's D≈2.5M distinct shingles; a deployment at
    *    D≈10¹² that cannot accept it re-widens the key to (h, s)).
    *
    * The string rides only the id-partitioned window exchange (as the
    * rank tiebreak) and is dropped from the output; the verify side
    * reads shingle strings from the per-doc SET table, never from
    * ranked rows.
    */
  def ppjoinRanked(toks: DataFrame, id: String = "doc_id"): DataFrame = {
    val ht = toks.select(col(id), col("s"), xxhash64(col("s")).as("h"),
      col("sz"))
    val dfreq = ht.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col(id))
    // sz rides in from the token-set projection (size(sarr), map-side)
    // — the old per-doc count(*) window pass is gone
    ht.join(dfreq, "h")
      .withColumn("rn",
        row_number().over(wDoc.orderBy(col("df"), col("h"), col("s"))))
      .select(col(id), col("h"), col("rn"), col("sz"))
  }

  /** Prefix length = sz − ceil(θ·sz) + 1: the ONE pigeonhole bound both
    * prefix filters apply (a true match can miss at most sz − ceil(θ·sz)
    * of the partner's tokens).
    */
  private def prefixCond(num: Int, den: Int): Column =
    col("rn") <= col("sz") - expr(s"($num * sz + $den - 1) div $den") + 1

  /** The PPJoin probe phase over a prebuilt [[ppjoinIndex]] (or the
    * same tables read back from storage): candidate generation from
    * prefix collisions + size-band + positional prune, then the exact
    * intersection verify. `num`/`den` must match the index's build
    * threshold.
    */
  def ppjoinPairsFromIndex(sets: DataFrame, pref: DataFrame,
      num: Int = 1, den: Int = 2, id: String = "doc_id"): DataFrame = {
    require(num > 0 && den >= num, "threshold must be in (0, 1]")
    // α = ceil(num·(na+nb)/(num+den)); jac ≥ num/den ⟺
    // (num+den)·|∩| ≥ num·(na+nb)
    //
    // Candidate prune (PPJoin+-strength, Xiao et al. WWW'08 §4, in
    // aggregate form): instead of keeping a pair when ANY single
    // prefix collision leaves enough tail (the per-row positional
    // filter), aggregate ALL its collisions — P = |prefix∩prefix|,
    // (i*, j*) = the LAST collision's ranks (max(rn) on each side IS
    // the same token: within-doc ranks follow the one global (df, s)
    // order, so the order of common tokens agrees across docs). Any
    // common token ranked before that last collision sits inside both
    // prefixes (its ranks are below i*≤prefLen_a / j*≤prefLen_b), so
    // it is itself one of the P; the rest rank after it on BOTH sides,
    // bounded by min(na−i*, nb−j*). Hence overlap ≤ P + min(na−i*,
    // nb−j*) — a SOUND bound that is never weaker than the best
    // per-row one (the P−1 collisions between first and last each
    // consume a tail slot the per-row bound counted as free). The
    // groupBy replaces the old distinct() — same keys, same single
    // shuffle, map-side partial agg — so the stronger prune costs no
    // extra exchange and the verify joins see strictly fewer pairs.
    val cand = ppjoinCandidates(pref, num, den, id)
    // Verify via per-pair array intersection, not a token-level join:
    // exploding each candidate into its na token rows and re-joining on
    // (b_id, s) shuffles a Σ|a|-sized intermediate TWICE and then pays a
    // pair-key groupBy — three exchanges over token-granularity data.
    // Joining the candidate list to the per-doc token-SET table (two
    // pair-id-keyed joins) moves the same bytes once each and computes
    // |∩| per-row with array_intersect (hash-set, O(na+nb); sarr is
    // array_distinct so set semantics are exact). Measured at
    // sf1 (BASELINE.md round 11): verify stage 12.5→7.2 s
    // symmetric, 13.8→3.0 s containment; identical output pairs. The
    // set table arrives pre-arrayed ([[ppjoinTokenSets]]) — the old
    // per-query collect_list re-aggregation of token rows is gone.
    verifyByIntersect(sets, cand, id)
      .filter(col("inter") * (num + den) >= (col("na") + col("nb")) * num)
      .withColumn("jac_x1000", expr("(1000 * inter) div (na + nb - inter)"))
  }

  /** (a_id, b_id, na, nb, inter) for a candidate pair list: exact
    * distinct-token intersection sizes via the per-doc set arrays (see
    * [[ppjoinPairsFromIndex]] for why this beats a token-level join).
    */
  private def verifyByIntersect(sets: DataFrame, cand: DataFrame,
      id: String): DataFrame =
    cand
      .join(sets.select(col(id).as("a_id"), col("sarr").as("arr_a")), "a_id")
      .join(sets.select(col(id).as("b_id"), col("sarr").as("arr_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("na"), col("nb"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
          .as("inter"))

  /** The symmetric candidate stage alone — (a_id, b_id, na, nb) pairs
    * surviving the size band + aggregate positional prune.
    */
  private def ppjoinCandidates(pref: DataFrame, num: Int, den: Int,
      id: String = "doc_id"): DataFrame =
    pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col(s"a.$id") < col(s"b.$id") &&
          col("a.sz") * num <= col("b.sz") * den &&
          col("b.sz") * num <= col("a.sz") * den)
      .groupBy(col(s"a.$id").as("a_id"), col(s"b.$id").as("b_id"),
        col("a.sz").as("na"), col("b.sz").as("nb"))
      // (i*, j*) off ONE row (the lexicographic max of (rn_a, rn_b)):
      // genuine collisions are co-monotone under the shared global
      // order, so this row IS the last common token — identical to the
      // separate maxes pre-hash, and the co-monotone form confines any
      // 64-bit-collision perturbation to the colliding row itself
      // (soundness note at [[ppjoinRanked]])
      .agg(count(lit(1)).as("p_common"),
        max(struct(col("a.rn").as("i"), col("b.rn").as("j"))).as("lastc"))
      .filter(expr("p_common + least(na - lastc.i, nb - lastc.j) >= " +
        s"($num * (na + nb) + ${num + den} - 1) div ${num + den}"))
      .select(col("a_id"), col("b_id"), col("na"), col("nb"))

  /** Exact set-CONTAINMENT join (Xiao et al. PPJoin, TODS 2011 §6's
    * asymmetric variant): ordered pairs with
    * `|T_a ∩ T_b| / |T_a| ≥ num/den` — "a is mostly inside b", the
    * quote / boilerplate-superset / excerpt detector Jaccard misses
    * when the containing document is much larger. Same df-ordered
    * prefix filter as [[ppjoinPairs]] on the CONTAINED side (pigeonhole:
    * a can miss at most `na − ceil(τ·na)` of b's tokens, so its first
    * `na − ceil(τ·na) + 1` rarest tokens must hit b), joined against the
    * container's FULL ranked token list, with the size bound
    * `nb·den ≥ na·num` and the positional prune
    * `min(na−rnₐ, nb−rn_b) + 1 ≥ ceil(τ·na)` — both sound because the
    * first common token in the global (df, s) order is inside a's
    * prefix. Verify is the exact bounded intersection count; all
    * integer cross-multiplication, no floats.
    *
    * 100 TB: candidates are prefix-token collisions (rare tokens by
    * construction), never all-pairs; the two window passes are
    * per-doc-bounded; everything shuffles on token or pair keys.
    */
  def containmentPairs(docs: DataFrame, num: Int = 4, den: Int = 5,
      shingleWidth: Int = 3, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val sets = ppjoinTokenSets(docs, shingleWidth, id, text)
      .localCheckpoint()
    val ranked = ppjoinRanked(ppjoinTokensOf(sets, id), id).localCheckpoint()
    containmentPairsFromIndex(sets, ranked, num, den, id)
  }

  /** The containment probe phase over a prebuilt (token, ranked) pair —
    * the [[ppjoinPairsFromIndex]] idiom for the asymmetric join: the
    * contained side's prefix cut is a cheap filter of the read-back
    * ranked table, so a persisted index serves any τ without a rebuild.
    */
  def containmentPairsFromIndex(sets: DataFrame, ranked: DataFrame,
      num: Int = 4, den: Int = 5, id: String = "doc_id"): DataFrame = {
    require(num > 0 && den >= num, "threshold must be in (0, 1]")
    val pref = ranked.filter(prefixCond(num, den))
    // Aggregate positional prune, the ppjoinPairsFromIndex bound for
    // the asymmetric join: P = |a-prefix ∩ b|, (i*, j*) = last
    // collision's ranks (max(rn) per side is the same token — shared
    // global order). A common token ranked before the last collision
    // has rn_a < i* ≤ prefLen_a, so it is in a's prefix and already
    // one of the P; the rest rank after it on both sides. Hence
    // overlap ≤ P + min(na−i*, nb−j*) ≥ α = ceil(τ·na) required.
    // groupBy replaces distinct — no extra exchange, fewer verifies.
    val cand = containmentCandidates(pref, ranked, num, den, id)
    // array-intersect verify — see ppjoinPairsFromIndex for the trade
    verifyByIntersect(sets, cand, id)
      .filter(col("inter") * den >= col("na") * num)
      .withColumn("contain_x1000", expr("(1000 * inter) div na"))
  }

  /** The asymmetric candidate stage alone — pairs surviving the size
    * bound + aggregate positional prune (see
    * [[containmentPairsFromIndex]]).
    */
  private def containmentCandidates(pref: DataFrame, ranked: DataFrame,
      num: Int, den: Int, id: String = "doc_id"): DataFrame =
    pref.as("a").join(ranked.as("b"),
        col("a.h") === col("b.h") && col(s"a.$id") =!= col(s"b.$id") &&
          col("b.sz") * den >= col("a.sz") * num)
      .groupBy(col(s"a.$id").as("a_id"), col(s"b.$id").as("b_id"),
        col("a.sz").as("na"), col("b.sz").as("nb"))
      // co-monotone (i*, j*) — the ppjoinCandidates rationale
      .agg(count(lit(1)).as("p_common"),
        max(struct(col("a.rn").as("i"), col("b.rn").as("j"))).as("lastc"))
      .filter(expr("p_common + least(na - lastc.i, nb - lastc.j) >= " +
        s"($num * na + $den - 1) div $den"))
      .select(col("a_id"), col("b_id"), col("na"), col("nb"))

  /** The container-side SLICE of a ranked token table for one declared
    * containment threshold: only the rows whose token appears in at
    * least one doc's τ-prefix. Pruning the rest is SOUND — the
    * candidate join matches a contained doc's prefix tokens against
    * container rows on `h`, so a row whose token occurs in NO prefix
    * can never collide, never contributes to `p_common`, and never
    * sets `i_last`/`j_last` (those aggregate colliding rows only);
    * `na`/`nb` ride per-row in `sz`, untouched by the prune. Because
    * `pref ⊆ slice` and re-filtering the slice by [[ppjoinPrefix]]'s
    * prefix condition returns exactly `pref`, the slice drops into
    * [[containmentPairsFromIndex]] as the `ranked` argument with
    * bit-identical output. What it buys at scale: the unfiltered
    * ranked table carries every token OCCURRENCE — dominated by
    * high-df tokens, which are precisely the tokens the df-ordered
    * prefix never selects — so the persisted serve table drops the
    * densest part of the corpus and the serve read-back stops growing
    * super-linearly with it (the round-13 sf10 probe measured the
    * all-τ read-back at 12.1× for 10× data).
    */
  def containmentContainerSlice(ranked: DataFrame, num: Int, den: Int,
      id: String = "doc_id"): DataFrame =
    ranked.join(
      ranked.filter(prefixCond(num, den)).select(col("h")).distinct(),
      Seq("h"), "left_semi")

  /** Max-min fair (water-filling) allocation of a global budget across
    * strata: caps large strata at the unique integer level c where
    * Σ min(n_s, c) fills the budget; the remainder goes +1 to the
    * largest capped strata (rank-deterministic), so Σ alloc = budget
    * EXACTLY when budget ≤ Σ n. Input `counts`: (stratum, n);
    * `budget` is a 1-row frame with a `budget` column (usually an
    * aggregate of the corpus itself — stays declarative, no driver
    * round-trip). All windows run over the bounded count table.
    * Output: (stratum, n_docs, capped, alloc).
    *
    * The budget must be non-negative: a negative budget has no
    * max-min-fair meaning (the Σ alloc = budget invariant is defined
    * for 0 ≤ budget ≤ Σ n). Rather than silently emitting negative
    * allocations, the budget frame is filtered to `budget >= 0`, so a
    * bad input yields an EMPTY result — loud at the first count,
    * and still fully declarative (the budget is usually itself an
    * aggregate, so a driver-side `require` cannot see its value).
    */
  def budgetWaterfill(counts: DataFrame, budget: DataFrame,
      stratum: String = "source", n: String = "n"): DataFrame = {
    val guarded = budget.filter(col("budget") >= 0)
    val tot = counts.agg(count(lit(1)).as("s_cnt"))
      .crossJoin(broadcast(guarded))
    val w = Window.orderBy(col(n), col(stratum))
    val ranked = counts.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("pfx",
        sum(col(n)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nxt", lead(col(n), 1).over(w))
    val cands = ranked
      .filter(col("i") < col("s_cnt"))
      .withColumn("c", expr("(budget - pfx) div (s_cnt - i)"))
      .filter(col(n) <= col("c") &&
        (col("nxt").isNull || col("c") < col("nxt")))
      .select(col("c").as("level"), col("i").as("bi"),
        (col("budget") - col("pfx") -
          col("c") * (col("s_cnt") - col("i"))).as("rem"))
    val cand0 = ranked.filter(col("i") === 1)
      .withColumn("c", expr("budget div s_cnt"))
      .filter(col("c") < col(n))
      .select(col("c").as("level"), lit(0L).as("bi"),
        (col("budget") - col("c") * col("s_cnt")).as("rem"))
    val lvl = cands.unionByName(cand0)
      .agg(min(col("level")).as("level"), min(col("bi")).as("bi"),
        min(col("rem")).as("rem"))
    ranked.crossJoin(broadcast(lvl))
      .withColumn("capped",
        when(col("level").isNotNull && col("i") > col("bi"), 1).otherwise(0))
      .withColumn("alloc",
        when(col("capped") === 0, col(n)).otherwise(col("level") +
          when(col("i") >= col("s_cnt") - col("rem") + 1, 1L).otherwise(0L)))
      .select(col(stratum), col(n).as("n_docs"), col("capped"), col("alloc"))
  }

  /** Greedy k-center (farthest-point, Gonzalez 1985) diversity
    * selection over an `Array[Float]` embedding column, in exact
    * integer arithmetic (floor(x·qscale) quantization, BIGINT squared
    * L2, smallest-id tie-breaks). Seed = largest norm; each of the k-1
    * rounds adds the point maximizing min distance to the selected
    * set. The min distance is carried as a running `dmin` column — the
    * standard Gonzalez formulation — updated with ONE new-center
    * distance per round (`least(dmin, d(x, c_r))`), so total work is
    * O(k·n·dim) and the per-round codegen expression stays flat in r
    * (the naive form recomputes distances to all r-1 prior centers:
    * O(k²·n·dim) and a linearly growing expression — measured flat
    * vs growing, BASELINE.md `DevKc`). `least` over exact BIGINTs is
    * associative, so the running form selects identical centers with
    * identical tie-breaks to the recompute-all form (oracle hashes
    * unchanged). Output: (rank, <id>, d2) — d2 is the covering radius
    * at selection (NULL for the seed).
    *
    * NOTE (eager + non-fault-tolerant): the per-round
    * `localCheckpoint()` calls (one 1-row center, one n-row running
    * state — the price of truncating the iterative lineage) run Spark
    * jobs AT CALL TIME, and checkpoint blocks are lost on executor
    * failure: a failed executor fails the job rather than recomputes.
    * A pipeline needing fault tolerance should materialize the
    * selection to storage once and join against the written artifact.
    */
  def kcenterSelect(vecs: DataFrame, k: Int, dim: Int,
      id: String = "vec_id", embedding: String = "embedding",
      qscale: Long = 10000L): DataFrame = {
    val q = vecs.select(col(id), expr(
      s"transform($embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $qscale) AS BIGINT))")
      .as("qv"))
    val norm2 = (1 to dim).map(i =>
      element_at(col("qv"), i) * element_at(col("qv"), i)).reduceLeft(_ + _)
    def distTo(cv: Column): Column = (1 to dim).map { i =>
      val d = element_at(col("qv"), i) - element_at(cv, i)
      d * d
    }.reduceLeft(_ + _)
    val c1 = q
      .withColumn("key", struct(norm2.as("d"), (-col(id)).as("ni")))
      .agg(max(col("key")).as("k"), max_by(col("qv"), col("key")).as("cqv"))
      .select((-col("k.ni")).as("sel_id"), lit(1).as("rank"),
        lit(null).cast("long").as("d2"), col("cqv"))
      .localCheckpoint()
    var out = c1.select(col("rank"), col("sel_id").as(id), col("d2"))
    if (k <= 1) return out // seed-only: no per-point distance work
    // running state: (id, qv, dmin = min squared distance to selected set)
    var state = q.crossJoin(broadcast(c1.select(col("cqv").as("cv"))))
      .withColumn("dmin", distTo(col("cv"))).drop("cv")
      .localCheckpoint()
    for (r <- 2 to k) {
      val next = state
        .withColumn("key", struct(col("dmin").as("d"), (-col(id)).as("ni")))
        .agg(max(col("key")).as("k"), max_by(col("qv"), col("key")).as("cqv"))
        .select((-col("k.ni")).as("sel_id"), lit(r).as("rank"),
          col("k.d").as("d2"), col("cqv"))
        .localCheckpoint()
      out = out.unionByName(next.select(col("rank"), col("sel_id").as(id),
        col("d2")))
      if (r < k) {
        val prev = state
        state = state.crossJoin(broadcast(next.select(col("cqv").as("cv"))))
          .withColumn("dmin", least(col("dmin"), distTo(col("cv"))))
          .drop("cv")
          .localCheckpoint()
        // the new checkpoint is materialized (localCheckpoint is
        // eager), so the superseded round's n-row blocks can go now —
        // peak storage stays at ~1 copy of (id, qv, dmin), not k.
        // Dataset.unpersist would be a NO-OP here (the CacheManager
        // has no entry for checkpoint blocks); free the underlying
        // checkpointed RDD's blocks directly.
        Bridge.unpersistCheckpointBlocks(prev)
      }
    }
    out
  }
}
