package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.GraftIO
import graft.functions.Fns._

/** Similarity search over embedding columns (SURVEY.md §2.11):
  * brute-force cosine top-k as the correctness baseline, and a
  * sign-LSH-bucketed variant as the scale path.
  *
  * Scale notes (100 TB):
  *  - The brute-force path broadcasts the (small) query set against the
  *    candidate table — a map-only broadcast nested loop, no shuffle of
  *    the big side; top-k per query is a Window + row_number ≤ k, which
  *    Spark executes as a partial top-k per partition.
  *  - The LSH path buckets both sides by an 8-bit sign signature first, so
  *    the join only meets ~1/256 of candidates per query — this is the
  *    pattern that survives a 1000× scale-up (bucket count scales with
  *    data; add hyperplanes, not partitions).
  *  - Cosine math is an unrolled, strictly left-associated double chain
  *    ([[graft.functions.Fns.dotUnrolled]]) so the DuckDB oracle computes
  *    bit-identical values.
  */
object SimilarityOps {

  private val DIM = 64
  private val NQ = 5    // query vectors: vec_id < NQ
  private val LSH_BITS = 8
  private val LSH_BITS_WIDE = 12 // the widened scheme (DevGraph: at 10×
                                 // data, 8-bit candidate mass grows 89×
                                 // and incremental recompute hits 99%;
                                 // 12 bits holds 13× less mass, 28%)
  private[graft] val NC = 16   // IVF coarse centroids: vec_id < NC
  private val NPROBE = 2
  private val KM_K = 8      // k-means clusters (init = first KM_K vectors)
  private val KM_ITERS = 2  // Lloyd assign→update rounds before final assign
  private val SEM_TARGET = 64L // scaled-k SemDeDup: k = ceil(n/64)
                               // (k=8 @ sf0.01's 500 vecs, 32 @ sf0.1, 313 @ sf1)
  private val PQ_M = 4      // PQ sub-blocks (64 dims → 4 x 16)
  private val PQ_K = 4      // centroids per sub-block codebook
  private val PQ_ITERS = 1  // Lloyd rounds per sub-block fit
  private val NQ_PQ = 3     // PQ probe queries: vec_id < NQ_PQ
  private val PQ_TOPK = 10
  private val COS_SCALE = 1073741824.0 // 2^30 fixed-point for cosine means
  private val COS_SCALE_SQL = "1073741824.0"
  private val LP_ITERS = 3 // label-propagation rounds, unrolled in the oracle
  private val QUOTA = 16     // cluster-quota picks per kmeans cluster
  private val KCORE_MIN = 2  // k-core threshold over the mutual graph
  private val WRANK_SCALE = 1048576L // 2^20 edge-weight quantization
  private val KCORE_ROUNDS = 4 // peel rounds, unrolled in the oracle

  /** Directed (src, dst, cosine) edges → undirected (u, v, cosine,
    * mutual) presentation shared by llm_knn_graph and its incremental
    * twin. cos(a,b) and cos(b,a) are term-for-term identical sums, so
    * max() never mixes two different doubles.
    */
  private def symmetrizeKnn(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    edges
      .select(least($"src", $"dst").as("u"),
        greatest($"src", $"dst").as("v"), $"cosine")
      .groupBy($"u", $"v")
      .agg(max($"cosine").as("cosine"),
        (count(lit(1)) === 2).cast("int").as("mutual"))
      .orderBy($"u", $"v")
  }

  /** Mutual-kNN undirected edges (u < v): both endpoints pick each other
    * in the directed top-3 graph. Shared by the component, label-prop,
    * and triangle entries — one localCheckpoint'd directed edge table,
    * one intersect.
    */
  private def mutualEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dirE = graft.api.GraftPipelines
      .knnEdges(Tables.embeddings(s, dir), 3, LSH_BITS)
      .select($"src", $"dst").localCheckpoint()
    dirE.intersect(dirE.select($"dst".as("src"), $"src".as("dst")))
      .filter($"src" < $"dst")
      .select($"src".as("u"), $"dst".as("v"))
  }

  /** The build/serve split of the mutual-kNN graph: [[mutualEdges]]
    * written to parquet ONCE (offline, Bench-warmed, corpus-mtime +
    * parameter keyed — the same `GraftIO.buildOnce` idiom as the
    * PPJoin/band/IVF/PQ serve entries), then every graph analysis reads
    * the edge table back. Before this split, label-prop, k-core,
    * triangles, and the label-prop eval each refit the full kNN graph
    * from the corpus — at 100 TB that is four redundant corpus-scaled
    * bucketed self-joins per analysis pass; served, each analysis is a
    * join-and-aggregate over an ~n·k-row edge table. Output (and thus
    * every consumer's oracle) is identical — the split is a storage
    * refactor, not a semantic one.
    */
  private def mutualEdgesServed(s: SparkSession, dir: String): DataFrame = {
    val idx = GraftIO.buildFixture(dir, "embeddings.parquet",
        "mutualknn", s"k=3,bits=$LSH_BITS") { tmp =>
      mutualEdges(s, dir).write.parquet(s"$tmp/mutual.parquet")
    }
    Tables.read(s, s"$idx/mutual.parquet")
  }

  /** Bucket-occupancy histogram + candidate mass at `bits` — shared by
    * llm_lsh_occupancy (8-bit) and its widened twin. One corpus scan +
    * two bounded aggs; cheap enough to run per ingest batch.
    */
  private def occupancyEntry(s: SparkSession, dir: String,
      bits: Int): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select(graft.api.GraftPipelines
        .signLshBucket($"embedding", bits, 0).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("occ"))
      .groupBy($"occ").agg(count(lit(1)).as("n_buckets"))
      .withColumn("cand_pairs", $"occ" * $"occ" * $"n_buckets")
      .orderBy($"occ")
  }

  /** Mutual-kNN connected components over `edges(s, dir)` — shared by
    * llm_mutual_knn_cc (refit) and llm_mutual_knn_served (read-back);
    * both hash against the same oracle.
    */
  private def mutualKnnCcEntry(s: SparkSession, dir: String,
      edges: (SparkSession, String) => DataFrame): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val pairs = edges(s, dir)
      .select($"u".as("src"), $"v".as("dst"))
      .unionByName(emb.select($"vec_id".as("src"), $"vec_id".as("dst")))
    val comp = graft.api.GraftPipelines
      .dupClusters(pairs, "src", "dst", "vec_id")
      .withColumnRenamed("cluster_id", "component_id")
      .localCheckpoint()
    val sizes = comp.groupBy($"component_id")
      .agg(count(lit(1)).as("csize"))
    comp.join(sizes, "component_id")
      .select($"vec_id", $"component_id", $"csize")
      .orderBy($"vec_id")
  }

  /** Full-rebuild symmetrized k-NN graph at `bits` — shared by
    * llm_knn_graph (8-bit) and llm_knn_graph_wide (12-bit).
    */
  private def knnGraphEntry(s: SparkSession, dir: String,
      bits: Int): DataFrame =
    symmetrizeKnn(s, graft.api.GraftPipelines
      .knnEdges(Tables.embeddings(s, dir), 3, bits))

  /** Incremental maintenance at `bits`: persisted base edges of
    * untouched buckets + full recompute of touched buckets (delta =
    * vec_id % 17 = 0, ~6 % of the corpus) — shared by
    * llm_knn_incremental and its widened twin. Each shares its
    * same-bits rebuild's oracle, so incremental ≡ rebuild is
    * hash-checked, not asserted.
    */
  private def knnIncrementalEntry(s: SparkSession, dir: String,
      bits: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).withColumn("bucket",
      graft.api.GraftPipelines.signLshBucket($"embedding", bits, 0))
      .localCheckpoint()
    val base = emb.filter($"vec_id" % 17 =!= 0)
    val delta = emb.filter($"vec_id" % 17 === 0)
    // the persisted artifact a production deployment reads back
    val baseEdges = graft.api.GraftPipelines
      .knnEdges(base.drop("bucket"), 3, bits).localCheckpoint()
    val touched = delta.select($"bucket").distinct().localCheckpoint()
    symmetrizeKnn(s, graft.api.GraftPipelines
      .knnIncrementalEdges(emb, touched, baseEdges, 3, bits))
  }
  private val PCA_ITERS = 3        // power-iteration rounds, unrolled
  private val PCA_QSCALE = 10000L  // component quantization: floor(x·10^4)
  private val PCA_VSCALE = 1000000L // per-round renorm: max|v| = 10^6
  private val KC_K = 4             // k-center exemplars (seed + 3 rounds)
  private val RANK_MASS = 1000000000L // integer PageRank mass (10^9 units)
  private val RANK_ITERS = 3          // damped rank rounds, unrolled

  /** Codegen'd one-pass cosine; bit-identical to the unrolled/oracle form
    * (see [[graft.functions.VectorExpressions]]).
    */
  private def cosine(a: Column, b: Column): Column =
    graft.api.GraftPipelines.cosine(a, b)

  /** Build/serve split of the fixed-k k-means fit: centroids (k rows)
    * and the final assignment (vec_id, cluster, ccos — n rows) written
    * ONCE per corpus+params ([[GraftIO.buildFixture]], same write-once
    * discipline as the ANN/PPJoin/mutual-kNN indexes), then every
    * centroid- or assignment-reusing consumer reads the fit back
    * instead of re-running the Lloyd iterations. Before this split the
    * four k-means consumers (mean-cos report, quota sampling,
    * silhouette, SemDeDup) each refit from the corpus — at 100 TB that
    * is four redundant O(iters)-pass fits per analysis sweep; served,
    * a consumer reads a k-row table and/or an n-row assignment. Output
    * (and thus every consumer's oracle) is identical — a storage
    * refactor, not a semantic one.
    */
  private def kmeansFitServed(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    kmeansFixture(s, dir, "kmeans", s"k=$KM_K,iters=$KM_ITERS,dim=$DIM")(
      graft.api.GraftPipelines.kmeansFit(
        Tables.embeddings(s, dir), KM_K, KM_ITERS, DIM)._1)

  /** Persist-oriented k-means fixture build shared by the fixed-k and
    * corpus-scaled fits: write the CENTROIDS, re-read them, and derive
    * the final assignment from the read-back
    * ([[graft.api.GraftPipelines.assignToCentroids]] — the exact step
    * the fit itself ends with, and floats round-trip parquet exactly).
    * Writing the fit's own (cent, assign) pair would lazily re-run the
    * whole Lloyd chain once PER WRITE — the one-time build paid the
    * heaviest job in the family twice (review finding); this runs it
    * once and pins nothing corpus-scaled (the ppjoinIndexServed
    * discipline).
    */
  private def kmeansFixture(s: SparkSession, dir: String, kind: String,
      params: String)(fitCentroids: => DataFrame): (DataFrame, DataFrame) = {
    val idx = GraftIO.buildFixture(dir, "embeddings.parquet",
        kind, params) { tmp =>
      fitCentroids.write.parquet(s"$tmp/centroids.parquet")
      graft.api.GraftPipelines
        .assignToCentroids(Tables.embeddings(s, dir),
          Tables.read(s, s"$tmp/centroids.parquet"))
        .select(col("vec_id"), col("cluster"), col("ccos"))
        .write.parquet(s"$tmp/assign.parquet")
    }
    (Tables.read(s, s"$idx/centroids.parquet"),
      Tables.read(s, s"$idx/assign.parquet"))
  }

  /** Write-once IVF index fixture (coarse centroids + hive-partitioned
    * inverted-list assignment): shared by llm_embed_ivf_served and the
    * composed llm_embed_ivfpq_served.
    */
  private def ivfIndexServed(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ix = GraftIO.buildFixture(dir, "embeddings.parquet",
        "ivf", s"nc=$NC") { tmp =>
      val (cent, assign) = graft.api.GraftPipelines
        .ivfIndex(Tables.embeddings(s, dir), NC)
      graft.sources.GraftIO.writeParquet(cent, s"$tmp/centroids")
      graft.sources.GraftIO.writeParquet(assign, s"$tmp/assignments",
        partitionCols = Seq("centroid"))
    }
    // partition column comes back wide (int) — restore the stored type
    (Tables.read(s, s"$ix/centroids"),
      Tables.read(s, s"$ix/assignments")
        .select(col("vec_id"), col("centroid").cast("long").as("centroid")))
  }

  /** Write-once PQ index fixture (codebooks + m-code table): shared by
    * llm_embed_pq_served and the composed llm_embed_ivfpq_served.
    */
  private def pqIndexServed(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ix = GraftIO.buildFixture(dir, "embeddings.parquet",
        "pq", s"m=$PQ_M,k=$PQ_K,it=$PQ_ITERS,d=$DIM") { tmp =>
      val (books, codes) = graft.api.GraftPipelines
        .pqIndex(Tables.embeddings(s, dir), PQ_M, PQ_K, PQ_ITERS, DIM)
      graft.sources.GraftIO.writeParquet(books, s"$tmp/codebooks")
      graft.sources.GraftIO.writeParquet(codes, s"$tmp/codes")
    }
    (Tables.read(s, s"$ix/codebooks"), Tables.read(s, s"$ix/codes"))
  }

  /** [[kmeansFitServed]] for the corpus-scaled k
    * ([[graft.api.GraftPipelines.kmeansScaledFit]], k = ceil(n/target))
    * — the corpus-mtime half of the fixture key covers n, so the
    * derived k can never go stale against its corpus.
    */
  private def kmeansScaledFitServed(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    kmeansFixture(s, dir, "kmeans_scaled",
      s"target=$SEM_TARGET,iters=$KM_ITERS,dim=$DIM")(
      graft.api.GraftPipelines.kmeansScaledFit(
        Tables.embeddings(s, dir), SEM_TARGET, KM_ITERS, DIM)._1)

  /** Refit twin of [[kmeansFitServed]] — shared so refit and served
    * entries run the same consumer code over the two fit providers.
    */
  private def kmeansFitDirect(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    graft.api.GraftPipelines.kmeansFit(
      Tables.embeddings(s, dir), KM_K, KM_ITERS, DIM)

  /** Per-cluster size + exact fixed-point mean cosine-to-centroid over
    * a fit's final assignment — shared by llm_embed_kmeans (refit) and
    * llm_embed_kmeans_served (read-back); both hash the same oracle.
    */
  private def kmeansMeanCosEntry(assign: DataFrame): DataFrame =
    assign
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("ccos") * lit(COS_SCALE)).cast("decimal(28,0)"))
          .cast("double") / count(lit(1)) / lit(COS_SCALE)).as("mean_cos"))
      .orderBy(col("cluster"))

  /** Cluster-balanced quota pick over a fit's assignment — shared by
    * llm_cluster_quota (refit) and llm_cluster_quota_served.
    */
  private def clusterQuotaEntry(assign: DataFrame): DataFrame = {
    val h = graft.functions.VectorExpressions.md5Half60Prefixed(
      "cq|", col("vec_id").cast("string"), upperHalf = false)
    val w = Window.partitionBy(col("cluster")).orderBy(h.asc, col("vec_id"))
    assign.withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= QUOTA)
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
        col("pick_rank").cast("int").as("pick_rank"))
      .orderBy(col("cluster"), col("pick_rank"))
  }

  /** Within-cluster SemDeDup pair scan over a fit's assignment —
    * shared by llm_semdedup (refit) and llm_semdedup_served. The
    * assignment-side frame is localCheckpointed before the self-join
    * so neither provider pays its source twice (the refit would
    * otherwise run the whole Lloyd fit once PER JOIN SIDE, and the
    * served read-back would re-decode parquet per side — the same
    * double-decode the ppjoin serve split fixed in round 10).
    */
  private def semdedupEntry(s: SparkSession, dir: String,
      assign: DataFrame): DataFrame = {
    val a = assign.select(col("vec_id"), col("cluster"))
      .join(Tables.embeddings(s, dir), "vec_id")
      .select(col("vec_id"), col("cluster"), col("embedding"))
      .localCheckpoint()
    a.as("l").join(a.as("r"),
        col("l.cluster") === col("r.cluster") &&
        col("l.vec_id") < col("r.vec_id"))
      .withColumn("cosine", cosine(col("l.embedding"), col("r.embedding")))
      .filter(col("cosine") > 0.35)
      .select(col("l.vec_id").as("d1"), col("r.vec_id").as("d2"),
        col("l.cluster").as("cluster"), col("cosine"))
      .orderBy(col("d1"), col("d2"))
  }

  private def cosineSql(a: String, b: String): String =
    s"(${dotUnrolledSql(a, b, DIM)}) / " +
      s"(sqrt(${dotUnrolledSql(a, a, DIM)}) * sqrt(${dotUnrolledSql(b, b, DIM)}))"

  /** 8-bit sign-LSH bucket: bit i set iff embedding[offset + i] >= 0.
    * Axis-aligned random-hyperplane LSH — deterministic and
    * oracle-mirrorable (no RNG in either engine). Offset 8 yields the
    * second, independent hash table (components 9..16).
    */
  private def bucketCol(e: Column, offset: Int = 0): Column =
    graft.api.GraftPipelines.signLshBucket(e, LSH_BITS, offset)

  private def bucketSql(e: String, offset: Int = 0,
      bits: Int = LSH_BITS): String =
    (1 to bits).map { i =>
      s"(CASE WHEN $e[${offset + i}] >= 0 THEN ${1 << (i - 1)} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB mirror of [[graft.api.GraftPipelines.kmeans]], fully
    * unrolled: init = first KM_K vectors as 64 centroid columns, then
    * KM_ITERS assign→update rounds, then the final assignment CTE `af`
    * (vec_id, cluster, ccos). Every arithmetic step is the exact twin
    * of the engine's (left-assoc double cosine; floor-at-2^28
    * fixed-point centroid means — power-of-two multiplies are exact and
    * floor has no rounding tie, so both engines produce bit-identical
    * float centroids). ~40 KB of generated SQL — the price of hashing
    * the engine's one remaining iterative-arithmetic family.
    */
  private def kmeansOracleCtes: String = kmeansOracleCtes(s"vec_id < $KM_K")

  /** As [[kmeansOracleCtes]] with a parameterized init predicate: the
    * round CTEs never mention k (assignment cross-joins whatever
    * centroid rows exist; update groups by cluster), so the SCALED-k
    * twin ([[graft.api.GraftPipelines.kmeansScaled]]) reuses the same
    * unroll with `vec_id < (scalar subquery computing ceil(n/target))`
    * as its only difference — exactly mirroring the engine, where only
    * the init frame differs.
    */
  /** Cosine between a vector row `v` (embedding array) and a centroid
    * row `c` (64 cN columns) — the oracle twin of the engine's cosine
    * against a fitted centroid (left-assoc double chain). Shared by the
    * k-means unroll and the silhouette CTE so both rank by the exact
    * same doubles.
    */
  private def centCosSql(v: String, c: String): String = {
    val dot = (1 to DIM)
      .map(i => s"CAST($v.embedding[$i] AS DOUBLE)*CAST($c.c$i AS DOUBLE)")
      .mkString(" + ")
    val nv = dotUnrolledSql(s"$v.embedding", s"$v.embedding", DIM)
    val nc = (1 to DIM)
      .map(i => s"CAST($c.c$i AS DOUBLE)*CAST($c.c$i AS DOUBLE)")
      .mkString(" + ")
    s"($dot) / (sqrt($nv) * sqrt($nc))"
  }

  /** DuckDB mirror of [[graft.api.GraftPipelines.knnEdges]]: directed
    * top-k cosine edges inside sign-LSH buckets. Shared by the
    * centrality and mutual-component oracles. MATERIALIZED because
    * both consumers reference `knn` from several downstream CTEs
    * (rank iterations / both symmetrize directions) — inlined, DuckDB
    * replays the 64-dim cosine window join per reference and OOMs at
    * check.py's 8 GB limit; materialized it is an ~n·k-row table.
    */
  private def knnEdgesCtes(k: Int): String =
    s"""kb AS (SELECT vec_id, embedding,
       |  ${bucketSql("embedding")} AS bucket FROM embeddings),
       |knn AS MATERIALIZED (
       |  SELECT src, dst, cosine FROM (
       |    SELECT a.vec_id AS src, c.vec_id AS dst,
       |     ${cosineSql("a.embedding", "c.embedding")} AS cosine,
       |     row_number() OVER (PARTITION BY a.vec_id
       |       ORDER BY ${cosineSql("a.embedding", "c.embedding")} DESC,
       |         c.vec_id) AS rn
       |    FROM kb a JOIN kb c
       |      ON a.bucket = c.bucket AND a.vec_id <> c.vec_id)
       |  WHERE rn <= $k)""".stripMargin

  /** Mutual (undirected, a < b) edges from the shared `knn` CTE —
    * MATERIALIZED for the same reason as `knn` itself: the triangle
    * oracle references it three times and label-prop's `edges` twice.
    */
  private def mutCteSql: String =
    """mut AS MATERIALIZED (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM knn GROUP BY 1, 2 HAVING count(*) = 2)""".stripMargin

  /** One label-propagation round (the
    * [[graft.api.GraftPipelines.labelPropagate]] vote as CTEs): plurality
    * label among labeled neighbors, ties toward the smaller label,
    * sticky otherwise, seeds pinned. `l$r` is MATERIALIZED — each round
    * references the previous state twice (votes + carry-forward), so an
    * inlined chain re-evaluates exponentially.
    */
  private def labelPropIterSql(r: Int): String = {
    val prev = s"l${r - 1}"
    s"""v$r AS (SELECT e.dst AS node, l.lab, count(*) AS c
       |  FROM edges e JOIN $prev l ON l.node = e.src
       |  WHERE l.lab <> -1 GROUP BY 1, 2),
       |w$r AS (SELECT node, lab AS wlab FROM (
       |  SELECT node, lab, row_number() OVER (PARTITION BY node
       |    ORDER BY c DESC, lab) AS rn FROM v$r) WHERE rn = 1),
       |l$r AS MATERIALIZED (
       |  SELECT p.node, CASE WHEN p.seed = 1 THEN p.lab
       |    ELSE coalesce(w.wlab, p.lab) END AS lab, p.seed
       |  FROM $prev p LEFT JOIN w$r w ON w.node = p.node)""".stripMargin
  }

  /** Shared by llm_knn_graph and llm_knn_incremental (at LSH_BITS) and
    * by their `_wide` twins (at LSH_BITS_WIDE) — the full-rebuild
    * symmetrized k-NN graph (each incremental engine path must equal
    * its same-bits rebuild exactly; see the entry comments).
    */
  private def knnGraphOracleSql(bits: Int): String =
    s"""WITH b AS (SELECT vec_id, embedding,
       |  ${bucketSql("embedding", 0, bits)} AS bucket FROM embeddings),
       |knn AS (
       |  SELECT src, dst, cosine FROM (
       |    SELECT a.vec_id AS src, c.vec_id AS dst,
       |     ${cosineSql("a.embedding", "c.embedding")} AS cosine,
       |     row_number() OVER (PARTITION BY a.vec_id
       |       ORDER BY ${cosineSql("a.embedding", "c.embedding")} DESC,
       |         c.vec_id) AS rn
       |    FROM b a JOIN b c
       |      ON a.bucket = c.bucket AND a.vec_id <> c.vec_id)
       |  WHERE rn <= 3)
       |SELECT u, v, max(cosine) AS cosine,
       | CAST(CASE WHEN count(*) = 2 THEN 1 ELSE 0 END AS INTEGER)
       |   AS mutual
       |FROM (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
       |       cosine FROM knn)
       |GROUP BY u, v ORDER BY u, v""".stripMargin

  /** Shared by llm_mutual_knn_cc and llm_mutual_knn_served (the
    * read-back twin). cedges is MATERIALIZED: without it DuckDB
    * re-inlines the whole kb→knn→mut chain (64-dim cosine window join)
    * into EVERY recursion step of `reach` and OOMs at default settings;
    * materialized, the recursion iterates over the ~n-row edge table it
    * actually needs. mut avoids referencing knn twice for the same
    * reason (both directions present ⇔ the undirected pair occurs twice
    * — the engine's symmetrize-count identity).
    */
  private lazy val mutualKnnCcOracleSql: String =
    s"""WITH RECURSIVE ${knnEdgesCtes(3)},
       |mut AS (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM knn GROUP BY 1, 2 HAVING count(*) = 2),
       |cedges AS MATERIALIZED (
       |  SELECT a, b FROM mut UNION SELECT b, a FROM mut
       |  UNION SELECT vec_id, vec_id FROM embeddings),
       |reach(a, b) AS (
       |  SELECT a, a FROM cedges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN cedges e ON r.b = e.a),
       |comp AS (SELECT a AS vec_id, min(b) AS component_id
       |         FROM reach GROUP BY a)
       |SELECT c.vec_id, c.component_id, s.csize
       |FROM comp c JOIN (SELECT component_id, count(*) AS csize
       |                  FROM comp GROUP BY 1) s USING (component_id)
       |ORDER BY c.vec_id""".stripMargin

  /** Occupancy-histogram oracle at `bits` — shared by llm_lsh_occupancy
    * and its widened twin.
    */
  private def occupancyOracleSql(bits: Int): String =
    s"""WITH b AS (SELECT ${bucketSql("embedding", 0, bits)} AS bucket
       |           FROM embeddings),
       |o AS (SELECT bucket, count(*) AS occ FROM b GROUP BY 1)
       |SELECT occ, count(*) AS n_buckets,
       | CAST(occ * occ * count(*) AS BIGINT) AS cand_pairs
       |FROM o GROUP BY occ ORDER BY occ""".stripMargin

  /** The damped integer-rank oracle, parameterized on the per-edge
    * weight expression over the `knn` CTE — `CAST(1 AS BIGINT)` is
    * llm_graph_centrality, the shifted-cosine floor is its weighted
    * twin.
    */
  private def centralityOracleSql(weightSql: String): String =
    s"""WITH ${knnEdgesCtes(3)},
       |edges AS (SELECT src, dst, $weightSql AS n FROM knn),
       |nodes AS (SELECT vec_id AS node FROM embeddings),
       |vc AS (SELECT count(*) AS vcnt FROM nodes),
       |outw AS (SELECT src, sum(n) AS outn FROM edges GROUP BY 1),
       |r0 AS (SELECT node, CAST($RANK_MASS AS BIGINT) // vcnt AS r
       |       FROM nodes CROSS JOIN vc),
       |${(1 to RANK_ITERS).map(centralityIterSql).mkString(",\n")}
       |SELECT node AS vec_id, CAST(r AS BIGINT) AS rank_scaled
       |FROM r$RANK_ITERS
       |ORDER BY rank_scaled DESC, vec_id""".stripMargin

  /** One k-core peel round ([[graft.api.GraftPipelines.kcorePeel]] as
    * CTEs): degree among survivors, then the `>= KCORE_MIN` filter.
    * `a$r` is MATERIALIZED — referenced twice by the next round's
    * degree join (both endpoints).
    */
  private def kcoreIterSql(r: Int): String = {
    val prev = if (r == 1) "a0" else s"a${r - 1}"
    s"""d$r AS (SELECT e.a, count(*) AS deg
       |  FROM edges e JOIN $prev p ON p.node = e.a
       |  JOIN $prev q ON q.node = e.b GROUP BY e.a),
       |a$r AS MATERIALIZED (
       |  SELECT a AS node FROM d$r WHERE deg >= $KCORE_MIN)""".stripMargin
  }

  /** One damped integer-rank round (the
    * [[graft.api.GraftPipelines.integerPagerank]] arithmetic as CTEs —
    * same shape as the ev_markov_rank unroll, parameterized on this
    * family's mass constant).
    */
  private def centralityIterSql(r: Int): String = {
    val prev = if (r == 1) "r0" else s"r${r - 1}"
    s"""c$r AS (
       |  SELECT dst, sum((r * n) // outn) AS csum
       |  FROM edges JOIN $prev ON src = node JOIN outw USING (src)
       |  GROUP BY dst),
       |d$r AS (
       |  SELECT coalesce(sum(r), 0) AS dmass
       |  FROM $prev LEFT JOIN outw ON node = src WHERE outn IS NULL),
       |r$r AS (
       |  SELECT node,
       |   (CAST($RANK_MASS AS BIGINT) * 15) // (vcnt * 100)
       |   + (85 * coalesce(csum, 0)) // 100
       |   + (85 * (dmass // vcnt)) // 100 AS r
       |  FROM nodes LEFT JOIN c$r ON node = dst
       |  CROSS JOIN vc CROSS JOIN d$r)""".stripMargin
  }

  private def kmeansOracleCtes(initWhere: String): String = {
    val S = "268435456.0" // 2^28, = GraftPipelines.kmeans update scale
    def cosToCentroid(v: String, c: String): String = centCosSql(v, c)
    // ccos is computed ONCE in the innermost select; the window ranks it
    def assign(name: String, cent: String): String =
      s"""$name AS (
         |  SELECT vec_id, cluster, ccos FROM (
         |    SELECT vec_id, cluster, ccos,
         |     row_number() OVER (PARTITION BY vec_id
         |       ORDER BY ccos DESC, cluster) AS crn
         |    FROM (SELECT v.vec_id, c.cluster,
         |           ${cosToCentroid("v", "c")} AS ccos
         |          FROM embeddings v CROSS JOIN $cent c))
         |  WHERE crn = 1)""".stripMargin
    def update(name: String, asg: String): String = {
      val cols = (1 to DIM).map(i =>
        s"CAST(CAST(sum(CAST(floor(CAST(e.embedding[$i] AS DOUBLE) * $S) " +
          s"AS DECIMAL(28,0))) AS DOUBLE) / count(*) / $S AS REAL) AS c$i")
        .mkString(",\n   ")
      s"""$name AS (
         |  SELECT a.cluster,
         |   $cols
         |  FROM $asg a JOIN embeddings e ON a.vec_id = e.vec_id
         |  GROUP BY a.cluster)""".stripMargin
    }
    val init = s"c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, " +
      (1 to DIM).map(i => s"embedding[$i] AS c$i").mkString(", ") +
      s" FROM embeddings WHERE $initWhere)"
    val rounds = (1 to KM_ITERS).flatMap(r => Seq(
      assign(s"a$r", if (r == 1) "c0" else s"u${r - 1}"),
      update(s"u$r", s"a$r")))
    (Seq(init) ++ rounds :+ assign("af", s"u$KM_ITERS")).mkString(",\n")
  }

  /** DuckDB mirror of [[graft.api.GraftPipelines.pqTopK]]: per block b
    * (offset b·subDim into the vector) the same init→assign→update→
    * assign k-means unroll as [[kmeansOracleCtes]] but over the block's
    * components, then the code table (one row per vector, PQ_M cluster
    * ids), per-query LUT CTEs (dot of query block against each fitted
    * centroid — the asymmetric-distance table), and the fixed-order
    * LUT-sum score. Every float step is the left-assoc double chain the
    * engine's codegen'd expressions compute.
    */
  private def pqOracleCtes: String = {
    val S = "268435456.0" // 2^28 — GraftPipelines.kmeans update scale
    val sub = DIM / PQ_M
    def blockCtes(b: Int): Seq[String] = {
      val off = b * sub
      def cosToCentroid(v: String, c: String): String = {
        val dot = (1 to sub)
          .map(i => s"CAST($v.embedding[${off + i}] AS DOUBLE)*CAST($c.c$i AS DOUBLE)")
          .mkString(" + ")
        val nv = (1 to sub)
          .map(i => s"CAST($v.embedding[${off + i}] AS DOUBLE)*CAST($v.embedding[${off + i}] AS DOUBLE)")
          .mkString(" + ")
        val nc = (1 to sub)
          .map(i => s"CAST($c.c$i AS DOUBLE)*CAST($c.c$i AS DOUBLE)")
          .mkString(" + ")
        s"($dot) / (sqrt($nv) * sqrt($nc))"
      }
      def assign(name: String, cent: String): String =
        s"""$name AS (
           |  SELECT vec_id, cluster FROM (
           |    SELECT vec_id, cluster,
           |     row_number() OVER (PARTITION BY vec_id
           |       ORDER BY ccos DESC, cluster) AS crn
           |    FROM (SELECT v.vec_id, c.cluster,
           |           ${cosToCentroid("v", "c")} AS ccos
           |          FROM embeddings v CROSS JOIN $cent c))
           |  WHERE crn = 1)""".stripMargin
      def update(name: String, asg: String): String = {
        val cols = (1 to sub).map(i =>
          s"CAST(CAST(sum(CAST(floor(CAST(e.embedding[${off + i}] AS DOUBLE) * $S) " +
            s"AS DECIMAL(28,0))) AS DOUBLE) / count(*) / $S AS REAL) AS c$i")
          .mkString(",\n   ")
        s"""$name AS (
           |  SELECT a.cluster,
           |   $cols
           |  FROM $asg a JOIN embeddings e ON a.vec_id = e.vec_id
           |  GROUP BY a.cluster)""".stripMargin
      }
      val init = s"pc${b}0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, " +
        (1 to sub).map(i => s"embedding[${off + i}] AS c$i").mkString(", ") +
        s" FROM embeddings WHERE vec_id < $PQ_K)"
      val rounds = (1 to PQ_ITERS).flatMap(r => Seq(
        assign(s"pa$b$r", if (r == 1) s"pc${b}0" else s"pu$b${r - 1}"),
        update(s"pu$b$r", s"pa$b$r")))
      (Seq(init) ++ rounds :+ assign(s"paf$b", s"pu$b$PQ_ITERS"))
    }
    def lut(b: Int): String = {
      val off = b * sub
      val dot = (1 to sub)
        .map(i => s"CAST(q.embedding[${off + i}] AS DOUBLE)*CAST(c.c$i AS DOUBLE)")
        .mkString(" + ")
      s"""plut$b AS (
         |  SELECT q.vec_id AS qid, c.cluster AS k$b, ($dot) AS d$b
         |  FROM embeddings q CROSS JOIN pu$b$PQ_ITERS c
         |  WHERE q.vec_id < $NQ_PQ)""".stripMargin
    }
    val codes = s"pqcodes AS (SELECT a0.vec_id, " +
      (0 until PQ_M).map(b => s"a$b.cluster AS k$b").mkString(", ") +
      s" FROM paf0 a0 " +
      (1 until PQ_M).map(b => s"JOIN paf$b a$b USING (vec_id)").mkString(" ") + ")"
    ((0 until PQ_M).flatMap(blockCtes) ++ (0 until PQ_M).map(lut) :+ codes)
      .mkString(",\n")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-10 per query vector (the exact baseline).
    "llm_embed_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      graft.api.GraftPipelines
        .cosineTopK(emb, emb.filter($"vec_id" < NQ), 10)
        .orderBy($"qid", $"rn")
    }),

    // Hard-negative mining (contrastive-training data prep): for each
    // probe vector, the top-5 most-similar vectors with a DIFFERENT
    // label — near-but-wrong examples, the negatives that actually
    // teach an embedding model (in-batch randoms are too easy). Same
    // broadcast-probes + windowed partial top-k shape as llm_embed_topk
    // (map-side scoring, WindowGroupLimit — no global sort); the label
    // inequality also excludes the probe itself. At 100 TB the probe
    // set stays bounded (it is the training batch), so the broadcast
    // contract holds at any corpus size.
    "llm_hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter($"vec_id" < NQ)
        .select($"vec_id".as("qid"), $"label".as("qlabel"),
          $"embedding".as("qv"))
      val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id")
      emb.join(broadcast(probes), $"label" =!= $"qlabel")
        .withColumn("cosine", cosine($"qv", $"embedding"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"qid", $"rn".cast("int").as("rn"),
          $"vec_id".as("neg_id"), $"label".as("neg_label"), $"cosine")
        .orderBy($"qid", $"rn")
    }),

    // Retrieval evaluation against exact ranking: per probe query,
    // first-relevant rank, hits@10, and total relevant (relevant =
    // same label, self excluded) — the integer-exact eval table MRR /
    // recall@k dashboards aggregate from. NO full per-query sort:
    // first_rank = 1 + count of items strictly ahead of the best
    // relevant item in the (cosine DESC, vec_id) order — two map-side
    // combinable aggregates over the broadcast-probe scored pass —
    // and hits@10 rides the WindowGroupLimit-pruned top-10 (the
    // llm_embed_topk shape). The oracle computes the same three
    // numbers from a full row_number ranking; equality of the two
    // formulations is exactly the rank-order identity the shared
    // left-assoc cosine guarantees.
    "llm_retrieval_eval" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter($"vec_id" < NQ)
        .select($"vec_id".as("qid"), $"label".as("qlabel"),
          $"embedding".as("qv"))
      val scored = emb.join(broadcast(probes), $"vec_id" =!= $"qid")
        .withColumn("cosine", cosine($"qv", $"embedding"))
      // pass 1: per query, the relevant count + best relevant sort key
      val rel = scored.filter($"label" === $"qlabel")
        .groupBy($"qid")
        .agg(count(lit(1)).as("n_relevant"),
          max(struct($"cosine", (-$"vec_id").as("nid"))).as("bestrel"))
      // pass 2: items strictly ahead of the best relevant one
      val first = scored.join(broadcast(rel), Seq("qid"))
        .filter(struct($"cosine", (-$"vec_id").as("nid")) > $"bestrel")
        .groupBy($"qid")
        .agg((count(lit(1)) + 1).cast("int").as("first_rank"))
      // pass 3: relevant hits inside the pruned top-10
      val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id")
      val hits = scored.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .groupBy($"qid")
        .agg(sum(when($"label" === $"qlabel", 1).otherwise(0))
          .cast("int").as("hits_at_10"))
      probes.select($"qid", $"qlabel")
        .join(rel.select($"qid", $"n_relevant"), Seq("qid"), "left")
        .join(first, Seq("qid"), "left")
        .join(hits, Seq("qid"), "left")
        .select($"qid", $"qlabel",
          coalesce($"n_relevant", lit(0L)).as("n_relevant"),
          // no relevant at all → NULL rank; best relevant ranked 1 →
          // the ahead-count group is empty → rank 1
          when($"n_relevant".isNull, lit(null).cast("int"))
            .otherwise(coalesce($"first_rank", lit(1))).as("first_rank"),
          coalesce($"hits_at_10", lit(0)).as("hits_at_10"))
        .orderBy($"qid")
    }),

    // Full-corpus k-NN graph (k=3) inside sign-LSH buckets, symmetrized
    // to undirected edges with a mutuality flag — the adjacency that
    // graph-based curation (connected-component dedup over semantic
    // edges, diversity walks) consumes. Bucketed self-join, never
    // all-pairs: candidates are Σ bucket², the same contract as every
    // other LSH family here; the per-source window sorts only a
    // bucket's rows. cos(a,b) and cos(b,a) are term-for-term identical
    // sums, so max() in the symmetrize step is a no-op arithmetic-wise.
    "llm_knn_graph" -> (knnGraphEntry(_, _, LSH_BITS)),

    // The widened-signature twin (lshBits=12): identical semantics at
    // 16× the bucket count — the production response when
    // llm_lsh_occupancy reports saturation (DevGraph at sf1: 8-bit
    // candidate mass 89× vs 12-bit holding 13× less). Add hyperplanes,
    // not partitions: the same corpus scan, the same per-bucket top-k,
    // only the signature widens.
    "llm_knn_graph_wide" -> (knnGraphEntry(_, _, LSH_BITS_WIDE)),

    // Incremental k-NN graph maintenance: sign-LSH buckets make every
    // edge strictly bucket-local, so when a delta batch lands (here
    // vec_id % 17 = 0, ~6 % of the corpus) only the buckets the delta
    // touches can change. The persisted base-graph edges of untouched
    // buckets are kept as-is; touched buckets recompute over their full
    // (base + delta) membership; the union is PROVABLY equal to the
    // full rebuild — this entry shares llm_knn_graph's oracle, so the
    // equality is hash-checked, not asserted. At 100 TB this is the
    // difference between re-scanning the corpus per ingest batch and
    // work proportional to the touched buckets (the same
    // never-rebuild-the-world contract as llm_dedup_incremental's band
    // index).
    "llm_knn_incremental" -> (knnIncrementalEntry(_, _, LSH_BITS)),

    // Incremental maintenance reading the PERSISTED base-edge artifact —
    // the exact production shape: a deployment's maintenance job reads
    // the edge table the previous run published (here buildOnce-keyed on
    // corpus+params, the same artifact discipline as the served ANN
    // indexes) instead of refitting it in-plan. The localCheckpoint
    // variant above times the whole identity; this entry times what a
    // 100 TB ingest batch actually pays: touched-bucket recompute plus a
    // parquet read of untouched edges. Shares the rebuild's oracle —
    // serve-path ≡ rebuild is hash-checked too.
    "llm_knn_incremental_served" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir).withColumn("bucket",
        graft.api.GraftPipelines.signLshBucket($"embedding", LSH_BITS, 0))
        .localCheckpoint()
      val idx = GraftIO.buildFixture(dir, "embeddings.parquet",
          "knnbase", s"k=3,bits=$LSH_BITS,mod=17") { tmp =>
          graft.api.GraftPipelines.knnEdges(
              emb.filter($"vec_id" % 17 =!= 0).drop("bucket"), 3, LSH_BITS)
            .write.parquet(s"$tmp/edges.parquet")
      }
      val delta = emb.filter($"vec_id" % 17 === 0)
      val touched = delta.select($"bucket").distinct().localCheckpoint()
      symmetrizeKnn(s, graft.api.GraftPipelines.knnIncrementalEdges(
        emb, touched, Tables.read(s, s"$idx/edges.parquet"), 3, LSH_BITS))
    }),

    // Incremental maintenance under the WIDENED scheme — the regime the
    // touched-bucket contract actually exists for: at 8 bits and 10×
    // data the delta touches nearly every bucket (DevGraph: 99%
    // recompute — the incremental path quietly stops paying), while at
    // 12 bits the recompute fraction stays at 28%. Shares the 12-bit
    // rebuild's oracle, so incremental ≡ rebuild is hash-proven at the
    // width a 100 TB deployment would run.
    "llm_knn_incremental_wide" ->
      (knnIncrementalEntry(_, _, LSH_BITS_WIDE)),

    // Graph centrality over the directed k-NN graph: damped stationary
    // rank (integerPagerank — the generic twin of ev_markov_rank's
    // arithmetic, exact integer mass on both engines) with every
    // neighbor edge weight 1. High-rank vectors are the hubs many
    // others point to — the canonical-representative signal graph
    // curation uses where survivorship has no text heuristics. Nodes =
    // ALL vectors: bucket-isolated ones carry dangling mass, not
    // silently vanish.
    "llm_graph_centrality" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val edges = graft.api.GraftPipelines.knnEdges(emb, 3, LSH_BITS)
        .select($"src", $"dst").withColumn("n", lit(1L))
        .localCheckpoint()
      val nodes = emb.select($"vec_id".as("node"))
      graft.api.GraftPipelines
        .integerPagerank(edges, nodes, RANK_ITERS, RANK_MASS)
        .select($"node".as("vec_id"), $"r".as("rank_scaled"))
        .orderBy($"rank_scaled".desc, $"vec_id")
    }),

    // Cosine-weighted stationary rank: the same damped integer rank,
    // but each neighbor edge carries weight floor((cos+1)·2^20)
    // (shifted positive, clamped ≥ 1) — contributions flow in
    // proportion to similarity STRENGTH, so a hub of strong near-dup
    // edges outranks an equal-degree hub of weak ones. The weight
    // quantization is a floor of bit-identical doubles at a power of
    // two, so both engines derive the exact same integer weights and
    // the rank arithmetic stays unit-exact (integerPagerank already
    // takes per-edge weights — weight 1 IS llm_graph_centrality).
    "llm_graph_centrality_weighted" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val edges = graft.api.GraftPipelines.knnEdges(emb, 3, LSH_BITS)
        .select($"src", $"dst",
          greatest(lit(1L), floor(($"cosine" + lit(1.0d)) *
            lit(WRANK_SCALE.toDouble)).cast("long")).as("n"))
        .localCheckpoint()
      val nodes = emb.select($"vec_id".as("node"))
      graft.api.GraftPipelines
        .integerPagerank(edges, nodes, RANK_ITERS, RANK_MASS)
        .select($"node".as("vec_id"), $"r".as("rank_scaled"))
        .orderBy($"rank_scaled".desc, $"vec_id")
    }),

    // Mutual-kNN connected components: the threshold-free semantic
    // clustering — an edge exists only when BOTH endpoints pick each
    // other (mutuality kills the hub-chaining that makes one-way kNN
    // components collapse into a giant blob), then the same
    // large-star/small-star O(log n) contraction as llm_dup_clusters
    // labels each vector with its component's min id. Self-pairs for
    // every vector make isolated vectors first-class singletons.
    // This is the graph family's REFIT entry — the one place the
    // mutual graph is derived from the corpus; the other analyses read
    // the buildOnce-persisted edge table ([[mutualEdgesServed]]).
    "llm_mutual_knn_cc" -> (mutualKnnCcEntry(_, _, mutualEdges)),

    // Build/serve twin of llm_mutual_knn_cc: identical components over
    // the READ-BACK persisted edge table (shared oracle — the split is
    // a storage refactor). The timed figure is the production per-
    // analysis cost once the graph artifact exists: an ~n·k-row edge
    // read + contraction, no corpus-scaled bucketed self-join.
    "llm_mutual_knn_served" -> (mutualKnnCcEntry(_, _, mutualEdgesServed)),

    // 2-hop neighborhood expansion over the SERVED mutual graph from a
    // deterministic seed set (vec_id % 20 = 0) — the GNN-style
    // neighborhood-sampling shape (GraphSAGE's fan-out, PPR push
    // frontiers): per (seed, reached node) the exact minimum hop count
    // ≤ 2, computed as BFS-by-union (hop-0 seeds ∪ hop-1 join ∪ hop-2
    // join, min over the union — exact because every ≤2-hop path is
    // enumerated). Rides the persisted edge table: two edge joins,
    // never a corpus refit. Scale: frontier size is seeds × deg² with
    // deg ≤ k = 3 by graph construction — the expansion is bounded a
    // priori, the reason kNN graphs (not raw similarity graphs) are
    // the unit GNN pipelines sample from at 100 TB.
    "llm_graph_khop" -> ((s, dir) => {
      import s.implicits._
      val und = mutualEdgesServed(s, dir)
      val edges = und.select($"u".as("a"), $"v".as("b"))
        .unionByName(und.select($"v".as("a"), $"u".as("b")))
        .localCheckpoint()
      val seeds = Tables.embeddings(s, dir)
        .filter($"vec_id" % 20 === 0).select($"vec_id".as("seed"))
      val h1 = seeds.join(edges, $"seed" === $"a")
        .select($"seed", $"b".as("node"))
      val h2 = h1.join(edges, $"node" === $"a")
        .select($"seed", $"b".as("node2"))
      seeds.select($"seed", $"seed".as("node"), lit(0).as("h"))
        .unionByName(h1.select($"seed", $"node", lit(1).as("h")))
        .unionByName(h2.select($"seed", $"node2".as("node"),
          lit(2).as("h")))
        .groupBy($"seed", $"node")
        .agg(min($"h").cast("int").as("min_hops"))
        .orderBy($"seed", $"node")
    }),

    // LSH bucket-occupancy histogram — the operational signal that
    // tells you WHEN to widen the signature (DevGraph's measured
    // lesson: at 10× data the fixed 8-bit scheme's candidate mass grew
    // 89× while 12 bits held it to 13× less). Per occupancy level:
    // bucket count and the candidate-pair mass those buckets
    // contribute (Σ occ² over the level). One corpus scan + two
    // bounded aggs — cheap enough to run per ingest batch.
    "llm_lsh_occupancy" -> (occupancyEntry(_, _, LSH_BITS)),

    // The same monitor at the WIDENED signature — once a deployment
    // runs 12 bits, THIS is the histogram that triggers the next
    // widening (to 16) before Σ occ² bites again; widen-response
    // monitoring must move with the scheme it monitors.
    "llm_lsh_occupancy_wide" -> (occupancyEntry(_, _, LSH_BITS_WIDE)),

    // Semi-supervised label propagation over the mutual-kNN graph:
    // 20 % of vectors (vec_id % 5 = 0) keep their gold label as seeds,
    // the rest start unlabeled (-1) and adopt the plurality label among
    // labeled neighbors each round (ties toward the smaller label,
    // sticky when no neighbor is labeled). The cheap spreading pass
    // that turns a small labeled probe set into corpus-wide weak labels
    // — and, against the held-out 80 %, measures how label-coherent the
    // embedding neighborhood structure is. Exact integer votes; the
    // oracle unrolls the 3 rounds as materialized CTEs.
    "llm_label_prop" -> ((s, dir) => {
      import s.implicits._
      val seeds = Tables.embeddings(s, dir).select($"vec_id".as("node"),
        when($"vec_id" % 5 === 0, $"label").otherwise(lit(-1))
          .cast("int").as("lab"),
        ($"vec_id" % 5 === 0).cast("int").as("seed"))
      graft.api.GraftPipelines
        .labelPropagate(mutualEdgesServed(s, dir), seeds, LP_ITERS)
        .select($"node".as("vec_id"), $"lab".cast("int").as("label_prop"),
          $"seed".as("is_seed"))
        .orderBy($"vec_id")
    }),

    // 4-round peel toward the 2-core of the mutual-kNN graph (Seidman
    // 1983): drop nodes with < 2 surviving mutual neighbors each round.
    // What survives is the densely-interconnected residue — near-dup
    // nests and boilerplate families whose members all endorse each
    // other — separated from the tree-like periphery triangles alone
    // miss. Truncated-fixpoint honesty: both engines run the identical
    // unrolled rounds, so the hash check is exact regardless of
    // whether a longer chain would keep peeling.
    "llm_kcore_peel" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.kcorePeel(mutualEdgesServed(s, dir),
          Tables.embeddings(s, dir).select($"vec_id".as("node")),
          KCORE_MIN, KCORE_ROUNDS)
        .select($"node".as("vec_id"), $"in_core", $"core_deg")
        .orderBy($"vec_id")
    }),

    // Held-out evaluation of the label spread: every NON-seed vector
    // has a gold label the propagation never saw, so per gold class we
    // can score coverage (how many non-seeds got any label) and
    // accuracy (how many got the right one) — the number that decides
    // whether the cheap spreading pass is good enough to weak-label
    // the corpus. Pure re-aggregation over the same propagation.
    "llm_label_prop_eval" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val seeds = emb.select($"vec_id".as("node"),
        when($"vec_id" % 5 === 0, $"label").otherwise(lit(-1))
          .cast("int").as("lab"),
        ($"vec_id" % 5 === 0).cast("int").as("seed"))
      graft.api.GraftPipelines
        .labelPropagate(mutualEdgesServed(s, dir), seeds, LP_ITERS)
        .filter($"seed" === 0)
        .join(emb.select($"vec_id".as("node"), $"label".as("gold")), "node")
        .groupBy($"gold")
        .agg(count(lit(1)).as("n_nonseed"),
          sum(($"lab" =!= -1).cast("long")).as("n_labeled"),
          sum(($"lab" === $"gold").cast("long")).as("n_correct"))
        .withColumn("acc_x1000",
          when($"n_labeled" > 0, expr("(1000 * n_correct) div n_labeled"))
            .otherwise(lit(0L)))
        .orderBy($"gold")
    }),

    // Per-vector triangle count + local clustering coefficient over the
    // mutual-kNN graph — the local-density signal that separates tight
    // semantic clusters (high coefficient: neighbors also know each
    // other — near-dup nests, boilerplate families) from bridge nodes
    // (low coefficient at equal degree — genuinely diverse docs worth
    // keeping). Oriented wedge join, each triangle formed once;
    // coefficient in exact fixed-point (·10^6, truncating div).
    "llm_graph_triangles" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines.triangleStats(mutualEdgesServed(s, dir),
          Tables.embeddings(s, dir).select($"vec_id".as("node")))
        .select($"node".as("vec_id"), $"deg", $"tri", $"clust_scaled")
        .orderBy($"vec_id")
    }),

    // Top principal direction of the embedding corpus (uncentered PCA:
    // the dominant right-singular vector of X, via power iteration on
    // XᵀX — Mises & Pollaczek-Geiringer 1929) in EXACT integer
    // arithmetic, so the iterative linear algebra is bit-identical on
    // both engines: components quantize to floor(x·10^4); each round
    // computes s_i = ⟨q_i, v⟩ (longs), w = Σ_i q_i·s_i (exact DECIMAL
    // sums — order-independent), then renormalizes v ← (w·10^6) div
    // max|w| with truncating division (Spark div ≡ DuckDB // ≡ trunc).
    // Fully declarative: v is a 1-row broadcast aggregate threaded
    // through the 3 unrolled rounds — no driver-side state. Cost at
    // 100 TB: one corpus scan per round (map-side dot + one 64-column
    // partial aggregate), nothing corpus-sized ever shuffles.
    "llm_embed_pca" -> ((s, dir) => {
      import s.implicits._
      val q = Tables.embeddings(s, dir).select(expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $PCA_QSCALE) AS BIGINT))")
        .as("qv"))
      var v: DataFrame = s.range(1)
        .select((1 to DIM).map(i => lit(1L).as(s"v$i")): _*)
      for (_ <- 1 to PCA_ITERS) {
        val dotS = (1 to DIM).map(i => element_at($"qv", i) * col(s"v$i"))
          .reduceLeft(_ + _)
        val wAggs = (1 to DIM).map(i =>
          sum((element_at($"qv", i) * $"s").cast("decimal(38,0)")).as(s"w$i"))
        val w = q.crossJoin(broadcast(v)).withColumn("s", dotS)
          .agg(wAggs.head, wAggs.tail: _*)
        // materialize the 1-row v per round (identical integers): the
        // lazy fold nests each round's corpus scan + 64-decimal agg
        // inside the next round's broadcast, so plan size — and with
        // it AQE re-planning and codegen lookups per stage — grew per
        // round (steady-state 2.9-3.2 s at sf0.1, arithmetic is
        // milliseconds; the lloydFrom note has the same analysis)
        v = w
          .withColumn("wmax", greatest((1 to DIM).map(i => abs(col(s"w$i"))): _*))
          .select((1 to DIM).map(i =>
            expr(s"(w$i * $PCA_VSCALE) div wmax").as(s"v$i")): _*)
          .localCheckpoint()
      }
      v.selectExpr(s"stack($DIM, " +
          (1 to DIM).map(i => s"$i, v$i").mkString(", ") +
          ") AS (dim_idx, loading)")
        .orderBy($"dim_idx")
    }),

    // Greedy k-center diversity selection (Gonzalez 1985 farthest-point
    // traversal, the 2-approximation for metric k-center) — the coreset
    // / diversity-sampling pass a curation pipeline runs to pick
    // maximally-spread exemplars instead of random ones. Exact-integer
    // contract: components quantize to floor(x·10^4), squared L2
    // distances are BIGINT sums, every argmax is max(struct(key,
    // -vec_id)) so ties break to the smallest id — bit-identical
    // unrolled CTEs on the oracle side. Seed = largest ‖q‖² (the
    // deterministic stand-in for production's "farthest from the
    // dataset mean"); each round adds the point maximizing min distance
    // to the selected set and records that covering radius. Fully
    // declarative: the selected set is a 1-row broadcast threaded
    // through KC_K-1 unrolled rounds — per round one corpus scan with a
    // map-side 64-term distance and one 1-row aggregate; nothing
    // corpus-sized shuffles, no driver state.
    "llm_kcenter" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .kcenterSelect(Tables.embeddings(s, dir), KC_K, DIM,
          qscale = PCA_QSCALE)
        .orderBy($"rank")
    }),

    // Linear-probe evaluation of the embedding space: for every class,
    // score each vector by its dot product with that class's integer
    // centroid direction (Σ of quantized components over the class — no
    // division, so the direction is exact), then measure one-vs-rest
    // ROC-AUC as the exact Mann-Whitney U rank statistic: u2 = 2·U =
    // Σ_{distinct score s} n_pos(s)·(2·n_neg_below(s) + n_neg(s)) —
    // ties contribute the standard ½ without any float forming; `auc`
    // is ONE final int/int double division, identical in both engines.
    // The model-quality measurement loop (probing, Alain & Bengio 2017)
    // run over an EVAL SPLIT in production — the rank window partitions
    // by probe label over score-grouped aggregates of that bounded
    // split, never the raw corpus.
    "llm_probe_auc" -> ((s, dir) => {
      import s.implicits._
      val q = Tables.embeddings(s, dir).select($"vec_id", $"label", expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $PCA_QSCALE) AS BIGINT))")
        .as("qv"))
      val dirAggs = (1 to DIM).map(i => sum(element_at($"qv", i)).as(s"s$i"))
      val dirs = q.groupBy($"label".as("probe")).agg(dirAggs.head, dirAggs.tail: _*)
      val score = (1 to DIM).map(i => element_at($"qv", i) * col(s"s$i"))
        .reduceLeft(_ + _)
      val byScore = q.crossJoin(broadcast(dirs))
        .withColumn("score", score)
        .groupBy($"probe", $"score")
        .agg(sum(when($"label" === $"probe", 1L).otherwise(0L)).as("np"),
          sum(when($"label" =!= $"probe", 1L).otherwise(0L)).as("nn"))
      val w = Window.partitionBy($"probe").orderBy($"score")
        .rowsBetween(Window.unboundedPreceding, -1)
      byScore
        .withColumn("cnb", coalesce(sum($"nn").over(w), lit(0L)))
        .groupBy($"probe")
        .agg(sum($"np").as("n_pos"), sum($"nn").as("n_neg"),
          sum($"np" * (lit(2L) * $"cnb" + $"nn")).as("u2"))
        .select($"probe", $"n_pos", $"n_neg", $"u2",
          ($"u2".cast("double") /
            (lit(2L) * $"n_pos" * $"n_neg").cast("double")).as("auc"))
        .orderBy($"probe")
    }),

    // Embedding-space audit: pairwise cosine between per-SOURCE centroid
    // directions — the drift/contamination check a multi-crawl corpus
    // runs on its embedding space ("are two crawls semantically the
    // same source?"). The centroid direction is the exact integer SUM
    // of quantized vectors (cos(mean_a, mean_b) = cos(sum_a, sum_b) —
    // the 1/n scaling cancels, so no division ever enters the
    // direction); dot and norms are exact DECIMAL(38,0) sums and the
    // cosine is one fixed-association double expression (sqrt is
    // IEEE-correctly-rounded in both engines — the llm_mix_temperature
    // precedent). Corpus cost: one source-keyed 64-column aggregate;
    // the pairwise join runs on the |sources|-bounded centroid table.
    "llm_source_centroid_sim" -> ((s, dir) => {
      import s.implicits._
      val q = Tables.documents(s, dir).select($"doc_id", $"source")
        .join(Tables.embeddings(s, dir), $"doc_id" === $"vec_id")
        .select($"source", expr(
          s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $PCA_QSCALE) AS BIGINT))")
          .as("qv"))
      val sums = (1 to DIM).map(i => sum(element_at($"qv", i)).as(s"s$i"))
      val cent = q.groupBy($"source").agg(sums.head, sums.tail: _*)
      // cast BEFORE the multiply: per-source sums can exceed sqrt(2^63)
      // at production source sizes, so the product must form in decimal
      val dot = (1 to DIM).map(i =>
        col(s"a.s$i").cast("decimal(38,0)") * col(s"b.s$i"))
        .reduceLeft(_ + _)
      def n2(side: String) = (1 to DIM).map(i =>
        col(s"$side.s$i").cast("decimal(38,0)") * col(s"$side.s$i"))
        .reduceLeft(_ + _)
      cent.as("a").join(broadcast(cent.as("b")), $"a.source" < $"b.source")
        .select($"a.source".as("src_a"), $"b.source".as("src_b"),
          (dot.cast("double") /
            (sqrt(n2("a").cast("double")) * sqrt(n2("b").cast("double"))))
            .as("cosine"))
        .orderBy($"src_a", $"src_b")
    }),

    // Hybrid retrieval: vector top-k restricted to quality-gated docs
    // (documents ⋈ embeddings 1:1 on id) — the filtered-search shape
    // every RAG / data-selection pipeline runs. The query vector is a
    // 1-row scalar (the sanctioned crossJoin shape); top-k is a global
    // ORDER BY + LIMIT → TakeOrderedAndProject, never a full sort.
    "llm_hybrid_search" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val good = graft.api.GraftPipelines
        .qualityScores(docs, graft.api.GraftPipelines.DefaultStopwords)
        .filter($"score" >= 0.45).select($"doc_id", $"score")
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
      good.join(emb, $"doc_id" === $"vec_id")
        .filter($"doc_id" =!= 0)
        .crossJoin(broadcast(qv))
        .withColumn("cosine",
          graft.api.GraftPipelines.cosine($"qv", $"embedding"))
        .select($"doc_id", $"score", $"cosine")
        .orderBy($"cosine".desc, $"doc_id").limit(10)
    }),

    // Reciprocal-rank fusion: the canonical lexical + vector hybrid —
    // BM25 top-50 and cosine top-50 fused as Σ 1/(60 + rank) (Cormack
    // et al., SIGIR'09 RRF with the standard k=60). Ranks are assigned
    // AFTER each side's bounded top-k (TakeOrderedAndProject), so the
    // single-partition rank window only ever sees 50 rows — never a
    // global sort of the corpus. 1/(60+rank) is an int→double division
    // and the fusion sum has a fixed two-term order, so every score is
    // bit-identical in the oracle.
    "llm_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val bTop = graft.api.GraftPipelines
        .bm25RationalIdf(docs, Seq("spark", "merge", "dup"), topK = 50)
        .withColumn("rank_b", row_number().over(
          Window.orderBy($"score".desc, $"doc_id")))
        .select($"doc_id", $"rank_b")
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
      val vTop = emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(qv))
        .withColumn("cosine", cosine($"qv", $"embedding"))
        .orderBy($"cosine".desc, $"vec_id").limit(50)
        .withColumn("rank_v", row_number().over(
          Window.orderBy($"cosine".desc, $"vec_id")))
        .select($"vec_id".as("doc_id"), $"rank_v")
      bTop.join(vTop, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + $"rank_b"), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + $"rank_v"), lit(0.0)))
        .select($"doc_id", $"rank_b", $"rank_v", $"rrf")
        .orderBy($"rrf".desc, $"doc_id").limit(10)
    }),

    // LSH bucket histogram — the partitioning the scale path relies on.
    "llm_embed_lsh_hist" -> ((s, dir) => {
      import s.implicits._
      Tables.embeddings(s, dir)
        .select(bucketCol($"embedding").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .orderBy($"bucket")
    }),

    // Bucketed ANN: top-3 same-bucket neighbors per query vector.
    "llm_embed_lsh_knn" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .withColumn("bucket", bucketCol($"embedding"))
      val q = emb.filter($"vec_id" < NQ)
        .select($"vec_id".as("qid"), $"embedding".as("qv"),
          $"bucket".as("qbucket"))
      val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id")
      emb.join(broadcast(q),
          $"bucket" === $"qbucket" && $"vec_id" =!= $"qid")
        .withColumn("cosine", cosine($"qv", $"embedding"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"qid", $"rn", $"vec_id", $"bucket", $"cosine")
        .orderBy($"qid", $"rn")
    }),

    // Multi-table + multi-probe ANN: TWO independent 8-bit sign-LSH
    // tables (disjoint component sets), and per table the query probes
    // its exact bucket plus all 8 one-bit-flip neighbors (Manku-style
    // multi-probe, like llm_simhash_pairs). Candidates = bucket within
    // hamming 1 of the query's in EITHER table. One 8-bit table is
    // recall-limited and bucket-skew-prone at scale; extra tables and
    // probes multiply candidates only by a constant (still Σ bucket²,
    // never O(n²)). Probe expansion happens on the BOUNDED query side
    // (NQ × 2 tables × 9 probes rows); the data side keeps one entry
    // per (vector, table), joined on (t, b) — the MinHash band shape,
    // never an OR-join.
    "llm_embed_lsh_knn2" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val tabs = emb.select($"vec_id",
        explode(array(
          struct(lit(0).as("t"), bucketCol($"embedding").as("b")),
          struct(lit(1).as("t"), bucketCol($"embedding", 8).as("b")))).as("tb"))
        .select($"vec_id", $"tb.t".as("t"), $"tb.b".as("b"))
      // query side is bounded by construction (NQ rows) → broadcast is safe
      val probes = $"b" +: (0 until LSH_BITS).map(j =>
        $"b".bitwiseXOR(lit(1 << j)))
      val qk = tabs.filter($"vec_id" < NQ)
        .select($"vec_id".as("qid"), $"t",
          explode(array(probes: _*)).as("b"))
      val cands = tabs.join(broadcast(qk), Seq("t", "b"))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id").distinct()
      val qv = emb.filter($"vec_id" < NQ)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id")
      cands.join(emb, "vec_id")
        .join(broadcast(qv), "qid")
        .withColumn("cosine", cosine($"qv", $"embedding"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"qid", $"rn", $"vec_id", $"cosine")
        .orderBy($"qid", $"rn")
    }),

    // IVF ANN: the inverted-file alternative to sign-LSH. A bounded
    // coarse quantizer (NC deterministic centroids — the first NC
    // vectors; no RNG so both engines agree) assigns every vector to its
    // nearest centroid by exact cosine — one broadcast of NC rows, pure
    // map-side, then the assignment IS the inverted list: retrieval
    // joins on centroid id. Queries probe their NPROBE nearest
    // centroids' lists and re-rank candidates by exact cosine. At scale
    // the assignment is a one-off index build (persist, bucket by
    // centroid); per-query work is the probed lists only, and recall
    // tunes with NPROBE instead of re-indexing.
    // ANN EVALUATION: per-query recall@3 of the IVF index against the
    // brute-force ground truth — the measurement that decides nprobe/NC
    // before a production rollout (an index you can't score is an index
    // you can't tune). Both retrievals are deterministic, so recall
    // itself is ORACLE-CHECKED: DuckDB recomputes exact and approximate
    // top-3 and the same left-join hit count. Shape at scale: ground
    // truth only ever computes for the bounded evaluation query set
    // (brute force over the corpus × |eval| queries — a one-off audit
    // scan), never per production query; the IVF side is the served
    // path. hits/3.0 divides identically under IEEE on both engines.
    "llm_ann_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter($"vec_id" < NQ)
      val exact = graft.api.GraftPipelines.cosineTopK(emb, queries, 3)
      val (cent, assign) = graft.api.GraftPipelines.ivfIndex(emb, NC)
      val approx = graft.api.GraftPipelines
        .ivfTopKServe(cent, assign, emb,
          queries.select($"vec_id".as("qid"), $"embedding".as("qv")),
          NPROBE, 3)
      exact.select($"qid", $"vec_id")
        .join(approx.select($"qid".as("aq"), $"vec_id".as("av")),
          $"qid" === $"aq" && $"vec_id" === $"av", "left_outer")
        .groupBy($"qid")
        .agg(count($"av").cast("int").as("hits"))
        .select($"qid", $"hits", lit(3).as("k"),
          ($"hits".cast("double") / 3.0).as("recall_at_3"))
        .orderBy($"qid")
    }),

    "llm_embed_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      // build + serve fused in one plan (the oracle-twin form);
      // llm_embed_ivf_served runs the same serve half against the
      // PERSISTED index and must hash-match this entry.
      val (cent, assign) = graft.api.GraftPipelines.ivfIndex(emb, NC)
      val queries = emb.filter($"vec_id" < NQ)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.api.GraftPipelines
        .ivfTopKServe(cent, assign, emb, queries, NPROBE, 3)
        .orderBy($"qid", $"rn")
    }),

    // IVF-PQ two-stage retrieval — the composition the IVF and PQ
    // entries individually promised (FAISS IVFPQ serve shape,
    // by_residual=false): coarse cells prune the corpus to the probed
    // posting lists, ADC scores only those candidates from their m
    // codes, and the ADC shortlist (3k) is exact-cosine re-ranked to
    // the final k — so the corpus is never scanned with float vectors
    // at query time and ADC approximation error cannot reorder the
    // returned top-k, only (boundedly) its recall. Both halves refit
    // in-plan here for the oracle twin; production serves the
    // persisted artifacts (llm_embed_{ivf,pq}_served pin that
    // equivalence).
    "llm_embed_ivfpq" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val (cent, assign) = graft.api.GraftPipelines.ivfIndex(emb, NC)
      val (books, codes) = graft.api.GraftPipelines
        .pqIndex(emb, PQ_M, PQ_K, PQ_ITERS)
      val queries = emb.filter($"vec_id" < NQ_PQ)
      graft.api.GraftPipelines
        .ivfPqTopK(cent, assign, books, codes, emb, queries,
          NPROBE, shortlist = 9, k = 3, m = PQ_M)
        .orderBy($"qid", $"rn")
    }),

    // The build/serve split made physical: the IVF index (coarse
    // centroids + per-vector inverted-list assignment) is BUILT once
    // into a parquet artifact — assignments hive-partitioned by
    // centroid, so a probe's list read touches only its partitions —
    // and the query SERVES from the stored artifact. Bit-identical to
    // llm_embed_ivf (ints/floats round-trip parquet exactly); at 100 TB
    // the build is an offline job and this entry is the only per-query
    // work. Same write-once fixture pattern as ev_partition_pruned.
    "llm_embed_ivf_served" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val (cent, assign) = ivfIndexServed(s, dir)
      val queries = emb.filter($"vec_id" < NQ)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.api.GraftPipelines
        .ivfTopKServe(cent, assign, emb, queries, NPROBE, 3)
        .orderBy($"qid", $"rn")
    }),

    // PQ served from the stored index: codebooks (m·kSub centroids) +
    // the code table (vectors as m small ints — the memory-bound
    // artifact that replaces float vectors at scale). Must hash-match
    // llm_embed_pq, whose codebooks are refit in-plan.
    "llm_embed_pq_served" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val (books, codes) = pqIndexServed(s, dir)
      graft.api.GraftPipelines.pqTopKServe(books, codes,
        emb.filter($"vec_id" < NQ_PQ), PQ_M, PQ_TOPK, DIM)
        .orderBy($"qid", $"rn")
    }),

    // IVF-PQ served end-to-end from BOTH persisted artifacts — the
    // production composition the refit twin (llm_embed_ivfpq) promises:
    // coarse probe over the stored IVF index, ADC over the stored PQ
    // codes, exact re-rank of the shortlist. Per-query work is the
    // probed posting lists + m-code ADC only; neither fit ever reruns.
    "llm_embed_ivfpq_served" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val (cent, assign) = ivfIndexServed(s, dir)
      val (books, codes) = pqIndexServed(s, dir)
      val queries = emb.filter($"vec_id" < NQ_PQ)
      graft.api.GraftPipelines
        .ivfPqTopK(cent, assign, books, codes, emb, queries,
          NPROBE, shortlist = 9, k = 3, m = PQ_M)
        .orderBy($"qid", $"rn")
    }),

    // Unbounded embedding near-dup over the FULL table: sign-LSH bucket
    // self-join (only same-bucket vectors ever meet — candidate count
    // scales with Σ bucket², never O(n²)) with the exact cosine as the
    // residual filter. This is the headline near-dup form; the bounded
    // brute-force variant below is the recall baseline for it.
    "llm_embed_neardup_lsh" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding", bucketCol($"embedding").as("bucket"))
      emb.as("l").join(emb.as("r"),
          col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
        .withColumn("cosine", cosine(col("l.embedding"), col("r.embedding")))
        .filter($"cosine" > 0.35)
        .select(col("l.vec_id").as("d1"), col("r.vec_id").as("d2"),
          col("l.bucket").as("bucket"), $"cosine")
        .orderBy($"d1", $"d2")
    }),

    // Deterministic Lloyd's k-means (KM_ITERS rounds, exact-decimal
    // centroid means — see GraftPipelines.kmeans): per-cluster size and
    // mean cosine-to-centroid. The clustering that SemDeDup-style
    // semantic dedup and IVF index builds start from.
    // Embedding preprocessing: L2 norm + symmetric int8 quantization
    // (floor, not round — round-half semantics differ across engines).
    // The storage/serving step between embedding generation and ANN
    // indexing; pure map-side projection.
    "llm_embed_quantize" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .quantizeEmbeddings(Tables.embeddings(s, dir))
        .orderBy($"vec_id")
    }),

    // Product-quantization ANN with ADC scoring (Jégou et al., TPAMI
    // 2011): 4 per-block codebooks (same tie-free fixed-point k-means
    // as llm_embed_kmeans), vectors as 4 codes, queries scored via
    // broadcast lookup tables — the memory-bound scale path where even
    // float vectors are too big to scan. Exact twin of the engine's
    // full fit+encode+scan, unrolled per block in the oracle.
    "llm_embed_pq" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      graft.api.GraftPipelines.pqTopK(emb, emb.filter($"vec_id" < NQ_PQ),
        PQ_M, PQ_K, PQ_ITERS, PQ_TOPK, DIM)
        .orderBy($"qid", $"rn")
    }),

    // mean cosine via the same tie-free fixed-point sum as the
    // centroid update (floor at 2^30 — cosines are in [-1,1], so the
    // scaled sum stays double-exact to ~8M rows per cluster)
    "llm_embed_kmeans" -> ((s, dir) =>
      kmeansMeanCosEntry(kmeansFitDirect(s, dir)._2)),

    // read-back of the persisted fit ≡ the refit (buildOnce write-once
    // discipline; see kmeansFitServed)
    "llm_embed_kmeans_served" -> ((s, dir) =>
      kmeansMeanCosEntry(kmeansFitServed(s, dir)._2)),

    // The persisted classification surface itself: the fit's final
    // per-vector assignment read from the write-once fixture — the
    // same rows the streaming clusterAssignLoop appends per trigger,
    // so the stream's exact output schema/values carry a direct
    // DuckDB hash (the loop's stream≡batch spec anchors to this).
    "llm_cluster_assign" -> ((s, dir) =>
      kmeansFitServed(s, dir)._2
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
          col("ccos"))
        .orderBy(col("vec_id"))),

    // Cluster-balanced quota sampling: pick ≤ QUOTA vectors per fitted
    // k-means cluster in deterministic salted-hash order — the
    // diversity-first selection that caps dominant semantic clusters
    // instead of sampling proportionally (the cluster-quota form of
    // source-stratified sampling; same md5-salt idiom as
    // llm_pack_salted, so the pick is unbiased, reproducible, and
    // hash-checkable). Window runs per cluster over its members only;
    // the fit is the already-oracled kmeans unroll.
    "llm_cluster_quota" -> ((s, dir) =>
      clusterQuotaEntry(kmeansFitDirect(s, dir)._2)),

    // quota pick over the persisted assignment — no fit pass at all
    "llm_cluster_quota_served" -> ((s, dir) =>
      clusterQuotaEntry(kmeansFitServed(s, dir)._2)),

    // Clustering-quality gate: per-point simplified silhouette
    // s = (cos1 − cos2) / (1 − cos2) from the same fitted centroids as
    // llm_embed_kmeans (see GraftPipelines.clusterSilhouette). Linear
    // in n (centroid-based, never pairwise); the curation signal that
    // says whether cluster-level decisions (SemDeDup keep-lists,
    // cluster-stratified sampling) rest on real structure.
    "llm_cluster_silhouette" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .clusterSilhouette(Tables.embeddings(s, dir), KM_K, KM_ITERS, DIM)
        .orderBy($"vec_id")
    }),

    // silhouette from the persisted centroids (k rows read back; the
    // linear scoring pass is the only corpus work left)
    "llm_cluster_silhouette_served" -> ((s, dir) => {
      import s.implicits._
      graft.api.GraftPipelines
        .clusterSilhouetteFrom(Tables.embeddings(s, dir),
          kmeansFitServed(s, dir)._1)
        .orderBy($"vec_id")
    }),

    // Silhouette-GATED SemDeDup — the composition llm_cluster_silhouette
    // exists for (its doc comment's stated purpose): trust cluster-level
    // dedup decisions only where the clustering is demonstrably tight.
    // Per cluster, mean silhouette in exact fixed-point (floor(sil·2^30)
    // summed as longs, truncating div); a cluster passes the gate iff
    // its mean ≥ the corpus mean (cross-multiplied in DECIMAL(38,0) —
    // exact at any magnitude, and a RELATIVE gate always splits the
    // clusters, unlike an absolute τ that drifts with the corpus).
    // Within passing clusters the SemDeDup rule drops every vector with
    // a smaller-id near-dup partner (cos > 0.35, the llm_semdedup
    // threshold); failing clusters keep everything — where the
    // clustering is loose, "same cluster" is not evidence of
    // duplication. Output: per vector, its cluster, the cluster's gate
    // verdict, and the keep flag — the same composed-keep-list
    // discipline as llm_curate_full. All joins are cluster-bounded or
    // k-row broadcasts; the pair join meets Σ (passing cluster)²
    // candidates only.
    "llm_semdedup_gated" -> ((s, dir) =>
      semdedupGatedEntry(s, dir, kmeansFitDirect(s, dir)._1)),

    // gate + drop from the persisted centroids — the fit read back,
    // the linear silhouette pass and the cluster-bounded pair scan
    // are the only corpus work left
    "llm_semdedup_gated_served" -> ((s, dir) =>
      semdedupGatedEntry(s, dir, kmeansFitServed(s, dir)._1)),

    // The PRODUCTION gated combination: the silhouette gate + drop rule
    // over the CORPUS-SCALED fit (k = ceil(n/SEM_TARGET)). The fixed-k
    // gated entry is the known Σ cluster² hazard at scale (its sf1
    // within-cluster pair scan grows quadratically in cluster size);
    // with corpus-scaled k the cluster size — and with it both the
    // silhouette pass's per-cluster work and the passing-cluster pair
    // scan — stays constant as data grows, the same argument that made
    // llm_semdedup_scaled the production SemDeDup twin.
    "llm_semdedup_gated_scaled" -> ((s, dir) =>
      semdedupGatedEntry(s, dir, graft.api.GraftPipelines
        .kmeansScaledFit(Tables.embeddings(s, dir),
          SEM_TARGET, KM_ITERS, DIM)._1)),

    // the scaled fit persisted and read back (kmeansScaledFitServed —
    // the same fixture llm_semdedup_scaled_served serves from): the
    // per-query cost is the linear silhouette pass + the
    // cluster-bounded pair scan, nothing refits
    "llm_semdedup_gated_scaled_served" -> ((s, dir) =>
      semdedupGatedEntry(s, dir, kmeansScaledFitServed(s, dir)._1)),

    // SemDeDup-style semantic dedup: near-dup pairs found WITHIN k-means
    // clusters only. The cluster id is the coarse partitioner — the
    // self-join meets Σ cluster² candidates instead of O(n²), which is
    // the published answer (Abbas et al., 2023, public arXiv) to
    // embedding dedup at corpus scale; the exact cosine is the residual.
    "llm_semdedup" -> ((s, dir) =>
      semdedupEntry(s, dir, kmeansFitDirect(s, dir)._2)),

    // within-cluster pair scan over the persisted assignment
    "llm_semdedup_served" -> ((s, dir) =>
      semdedupEntry(s, dir, kmeansFitServed(s, dir)._2)),

    // The PRODUCTION SemDeDup twin: identical within-cluster pair
    // logic, but the cluster count scales with the corpus
    // (k = ceil(n/SEM_TARGET), computed declaratively) so cluster
    // size — and with it pairs-per-cluster — stays CONSTANT as data
    // grows. This is the entry that makes the "semantic dedup stays
    // linear at 100 TB" claim oracle-checked rather than probe-only:
    // at sf0.01 k=8 (same as the fixed entry), at sf0.1 k=32, at sf1
    // k=313 — the pair count per row stays flat (DevSemScale measured
    // 1.41× wall at 10× data vs 95× pairs for fixed k).
    "llm_semdedup_scaled" -> ((s, dir) =>
      semdedupEntry(s, dir, graft.api.GraftPipelines
        .kmeansScaledFit(Tables.embeddings(s, dir),
          SEM_TARGET, KM_ITERS, DIM)._2)),

    // the scaled fit persisted and read back — the production pairing:
    // corpus-scaled k keeps the pair scan linear, the serve split
    // removes the per-query refit
    "llm_semdedup_scaled_served" -> ((s, dir) =>
      semdedupEntry(s, dir, kmeansScaledFitServed(s, dir)._2)),

    // Embedding-cosine near-duplicate pairs among the first 200 vectors
    // (bounded brute-force baseline for the LSH variant above).
    "llm_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir).filter($"vec_id" < 200)
        .select($"vec_id", $"embedding")
      emb.as("l").join(emb.as("r"), col("l.vec_id") < col("r.vec_id"))
        .withColumn("cosine",
          cosine(col("l.embedding"), col("r.embedding")))
        .filter($"cosine" > 0.35)
        .select(col("l.vec_id").as("d1"), col("r.vec_id").as("d2"), $"cosine")
        .orderBy($"d1", $"d2")
    }),

    // SEMANTIC decontamination: flag corpus docs whose embedding is
    // cosine-close to ANY held-out eval doc (source src19, the same
    // eval split llm_decontaminate checks by 5-gram overlap) — the
    // paraphrase/translation leak n-gram matching cannot see, the
    // second gate modern pretraining pipelines run after the exact
    // one. Per flagged doc: the max cosine and its nearest eval doc
    // (ties broken to the smallest eval id, the
    // max(struct(cosine, -id)) idiom llm_retrieval_eval pins).
    //
    // 100 TB: the eval suite is BOUNDED (a benchmark is thousands of
    // rows, never corpus-sized), so the right plan is the broadcast
    // nested-loop probe — every corpus partition scans once, scores
    // |eval| codegen'd dot products per row map-side, and the per-doc
    // max is a map-side-combinable agg on (id, best) pairs; embeddings
    // themselves never shuffle. No LSH gate needed: unlike corpus
    // self-dedup there is no quadratic side here, the work is exactly
    // |corpus|·|eval| multiply-adds, embarrassingly parallel.
    "llm_semantic_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val joined = Tables.embeddings(s, dir)
        .join(Tables.documents(s, dir).select($"doc_id", $"source"),
          $"vec_id" === $"doc_id")
      val eval = joined.filter($"source" === "src19")
        .select($"vec_id".as("eval_id"), $"embedding".as("ev"))
      joined.filter($"source" =!= "src19")
        .select($"vec_id", $"embedding")
        .crossJoin(broadcast(eval))
        .withColumn("cosine", cosine($"embedding", $"ev"))
        .groupBy($"vec_id")
        .agg(max(struct($"cosine", (-$"eval_id").as("nid"))).as("best"))
        .filter($"best.cosine" >= 0.35)
        .select($"vec_id".as("doc_id"),
          (-$"best.nid").as("nearest_eval"),
          $"best.cosine".as("max_cosine"))
        .orderBy($"doc_id")
    })
  )

  /** Silhouette-gated SemDeDup over an already-fitted centroid table —
    * shared by llm_semdedup_gated (refit) and llm_semdedup_gated_served
    * (read-back); see the entry comment for the gate/drop semantics.
    */
  private def semdedupGatedEntry(s: SparkSession, dir: String,
      cent: DataFrame): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val sil = graft.api.GraftPipelines
      .clusterSilhouetteFrom(emb, cent)
      .select($"vec_id", $"cluster",
        floor($"sil" * lit(COS_SCALE)).cast("long").as("sils"))
      .localCheckpoint()
    val tot = sil.agg(sum($"sils").as("tsum"),
      count(lit(1)).as("tcnt"))
    val gate = sil.groupBy($"cluster")
      .agg(sum($"sils").as("ssum"), count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .select($"cluster", expr("ssum div cnt").as("mean_sil_scaled"),
        ($"ssum".cast("decimal(38,0)") * $"tcnt".cast("decimal(38,0)") >=
          $"tsum".cast("decimal(38,0)") * $"cnt".cast("decimal(38,0)"))
          .cast("int").as("gate_pass"))
      .localCheckpoint() // k rows
    val passing = sil.select($"vec_id", $"cluster")
      .join(broadcast(gate.filter($"gate_pass" === 1).select($"cluster")),
        "cluster")
      .join(emb.select($"vec_id", $"embedding"), "vec_id")
    val dups = passing.as("l").join(passing.as("r"),
        col("l.cluster") === col("r.cluster") &&
        col("l.vec_id") < col("r.vec_id"))
      .withColumn("cosine", cosine(col("l.embedding"), col("r.embedding")))
      .filter($"cosine" > 0.35)
      .select(col("r.vec_id").as("vec_id")).distinct()
    sil.select($"vec_id", $"cluster")
      .join(broadcast(gate), "cluster")
      .join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left")
      .select($"vec_id", $"cluster", $"mean_sil_scaled", $"gate_pass",
        when($"dup".isNotNull, lit(0)).otherwise(lit(1))
          .cast("int").as("keep"))
      .orderBy($"vec_id")
  }

  /** Shared by llm_embed_ivf and llm_embed_ivf_served: the serve path
    * reads a persisted index, but the rows must be identical.
    */
  private lazy val ivfOracleSql: String =
    s"""WITH a AS (
       |  SELECT vec_id, centroid FROM (
       |    SELECT v.vec_id, c.vec_id AS centroid,
       |     row_number() OVER (PARTITION BY v.vec_id
       |       ORDER BY ${cosineSql("v.embedding", "c.embedding")} DESC,
       |         c.vec_id) AS crn
       |    FROM embeddings v JOIN embeddings c ON c.vec_id < $NC)
       |  WHERE crn = 1),
       |p AS (
       |  SELECT qid, centroid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS centroid,
       |     row_number() OVER (PARTITION BY q.vec_id
       |       ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
       |         c.vec_id) AS crn
       |    FROM embeddings q JOIN embeddings c
       |      ON q.vec_id < $NQ AND c.vec_id < $NC)
       |  WHERE crn <= $NPROBE),
       |cand AS (
       |  SELECT DISTINCT p.qid, a.vec_id
       |  FROM p JOIN a ON a.centroid = p.centroid
       |  WHERE a.vec_id <> p.qid)
       |SELECT qid, CAST(rn AS INTEGER) AS rn, vec_id, cosine FROM (
       |  SELECT cand.qid, cand.vec_id,
       |   ${cosineSql("q.embedding", "c.embedding")} AS cosine,
       |   row_number() OVER (PARTITION BY cand.qid
       |     ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
       |       cand.vec_id) AS rn
       |  FROM cand JOIN embeddings c ON c.vec_id = cand.vec_id
       |            JOIN embeddings q ON q.vec_id = cand.qid)
       |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  /** Shared by llm_embed_pq and llm_embed_pq_served (same contract). */
  private lazy val pqOracleSql: String = {
    val score = (0 until PQ_M).map(b => s"l$b.d$b").mkString(" + ")
    val joins = s"FROM pqcodes v JOIN plut0 l0 ON l0.k0 = v.k0 " +
      (1 until PQ_M).map(b =>
        s"JOIN plut$b l$b ON l$b.qid = l0.qid AND l$b.k$b = v.k$b")
        .mkString(" ")
    s"""WITH $pqOracleCtes
       |SELECT qid, CAST(rn AS INTEGER) AS rn, vec_id, score FROM (
       |  SELECT l0.qid, v.vec_id, $score AS score,
       |   row_number() OVER (PARTITION BY l0.qid
       |     ORDER BY $score DESC, v.vec_id) AS rn
       |  $joins
       |  WHERE v.vec_id <> l0.qid)
       |WHERE rn <= $PQ_TOPK ORDER BY qid, rn""".stripMargin
  }

  /** DuckDB mirror of llm_embed_pca's unrolled power iteration: per
    * round, s = ⟨qv, v⟩ as a 64-term sum, w as 64 HUGEINT sums, v' =
    * (w·10^6)//max|w| — `//` truncates toward zero exactly like Spark's
    * `div`, and every sum is exact integer, so the three rounds cannot
    * drift by even one unit.
    */
  private def pcaOracleSql: String = {
    def sCte(k: Int): String = {
      val dot =
        if (k == 1) (1 to DIM).map(i => s"qv[$i]").mkString(" + ")
        else (1 to DIM).map(i => s"qv[$i] * vv$i").mkString(" + ")
      val from = if (k == 1) "q" else s"q CROSS JOIN v${k - 1}"
      s"s$k AS (SELECT vec_id, ($dot) AS s FROM $from)"
    }
    def wCte(k: Int): String = {
      val sums = (1 to DIM)
        .map(i => s"sum(CAST(qv[$i] AS HUGEINT) * s) AS w$i").mkString(", ")
      s"w$k AS (SELECT $sums FROM q JOIN s$k USING (vec_id))"
    }
    def mCte(k: Int): String = {
      val wmax = (1 to DIM).map(i => s"abs(w$i)").mkString(", ")
      s"m$k AS (SELECT *, greatest($wmax) AS wmax FROM w$k)"
    }
    // v$k MATERIALIZED: the next round references it twice and the
    // final unpivot references v$PCA_ITERS 64 times — inlined, DuckDB
    // re-evaluates the whole upstream chain (including the embeddings
    // scan) per reference and OOMs at check.py's 8 GB cap on the
    // 32-file layout (where parallel scan buffering is larger).
    def vCte(k: Int): String = {
      val sel = (1 to DIM)
        .map(i => s"(w$i * $PCA_VSCALE) // wmax AS vv$i")
        .mkString(", ")
      s"v$k AS MATERIALIZED (SELECT $sel FROM m$k)"
    }
    val rounds = (1 to PCA_ITERS)
      .flatMap(k => Seq(sCte(k), wCte(k), mCte(k), vCte(k))).mkString(",\n")
    val unpivot = (1 to DIM)
      .map(i => s"SELECT $i AS dim_idx, CAST(vv$i AS BIGINT) AS loading FROM v$PCA_ITERS")
      .mkString(" UNION ALL ")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $PCA_QSCALE) AS BIGINT)) AS qv
       |  FROM embeddings),
       |$rounds
       |$unpivot ORDER BY dim_idx""".stripMargin
  }

  /** DuckDB mirror of llm_kcenter's unrolled farthest-point traversal:
    * per round the min-distance-to-selected is a least() over explicit
    * 64-term squared-L2 sums and the argmax is ORDER BY dmin DESC,
    * vec_id LIMIT 1 — every quantity BIGINT, so the greedy choice
    * sequence cannot diverge between engines.
    */
  private def kcenterOracleSql: String = {
    def dist(a: String, b: String): String =
      (1 to DIM).map(i =>
        s"($a.qv[$i]-$b.qv[$i])*($a.qv[$i]-$b.qv[$i])").mkString(" + ")
    val norm2 = (1 to DIM).map(i => s"qv[$i]*qv[$i]").mkString(" + ")
    val rounds = (2 to KC_K).flatMap { r =>
      val mins = (1 until r).map(j => dist("q", s"k$j")).mkString(", ")
      val joins = (1 until r).map(j => s"CROSS JOIN c$j k$j").mkString(" ")
      Seq(
        s"d$r AS (SELECT q.vec_id, q.qv, least($mins) AS dmin FROM q $joins)",
        s"c$r AS (SELECT vec_id, qv, dmin FROM d$r ORDER BY dmin DESC, vec_id LIMIT 1)")
    }.mkString(",\n")
    val out = (s"SELECT 1 AS rank, vec_id, CAST(NULL AS BIGINT) AS d2 FROM c1" +:
      (2 to KC_K).map(r =>
        s"SELECT $r AS rank, vec_id, CAST(dmin AS BIGINT) AS d2 FROM c$r"))
      .mkString(" UNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $PCA_QSCALE) AS BIGINT)) AS qv
       |  FROM embeddings),
       |c1 AS (SELECT vec_id, qv FROM q
       |  ORDER BY ($norm2) DESC, vec_id LIMIT 1),
       |$rounds
       |$out ORDER BY rank""".stripMargin
  }

  /** DuckDB mirror of llm_probe_auc: integer class-centroid directions,
    * integer dot-product scores, and the tie-aware 2·U rank statistic —
    * the only double is the final one-division auc.
    */
  private def probeAucOracleSql: String = {
    val dirSums = (1 to DIM).map(i => s"sum(qv[$i]) AS s$i").mkString(", ")
    val dot = (1 to DIM).map(i => s"q.qv[$i]*d.s$i").mkString(" + ")
    s"""WITH q AS (
       |  SELECT vec_id, label, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $PCA_QSCALE) AS BIGINT)) AS qv
       |  FROM embeddings),
       |dirs AS (SELECT label AS probe, $dirSums FROM q GROUP BY label),
       |sc AS (SELECT probe, q.label, ($dot) AS score
       |       FROM q CROSS JOIN dirs d),
       |by_score AS (
       |  SELECT probe, score,
       |   sum(CASE WHEN label = probe THEN 1 ELSE 0 END) AS np,
       |   sum(CASE WHEN label <> probe THEN 1 ELSE 0 END) AS nn
       |  FROM sc GROUP BY probe, score),
       |wn AS (
       |  SELECT probe, np, nn,
       |   coalesce(sum(nn) OVER (PARTITION BY probe ORDER BY score
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
       |  FROM by_score)
       |SELECT probe, CAST(sum(np) AS BIGINT) AS n_pos,
       | CAST(sum(nn) AS BIGINT) AS n_neg,
       | CAST(sum(np * (2 * cnb + nn)) AS BIGINT) AS u2,
       | CAST(CAST(sum(np * (2 * cnb + nn)) AS BIGINT) AS DOUBLE)
       |   / CAST(2 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)
       |          AS DOUBLE) AS auc
       |FROM wn GROUP BY probe ORDER BY probe""".stripMargin
  }

  /** DuckDB mirror of llm_source_centroid_sim: HUGEINT centroid sums,
    * HUGEINT dot/norms, one fixed-association double cosine.
    */
  private def centroidSimOracleSql: String = {
    val sums = (1 to DIM).map(i => s"sum(qv[$i]) AS s$i").mkString(", ")
    val dot = (1 to DIM).map(i => s"CAST(a.s$i AS HUGEINT) * b.s$i")
      .mkString(" + ")
    def n2(side: String) = (1 to DIM)
      .map(i => s"CAST($side.s$i AS HUGEINT) * $side.s$i").mkString(" + ")
    s"""WITH q AS (
       |  SELECT d.source, list_transform(e.embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $PCA_QSCALE) AS BIGINT)) AS qv
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |cent AS (SELECT source, $sums FROM q GROUP BY source)
       |SELECT a.source AS src_a, b.source AS src_b,
       | CAST(($dot) AS DOUBLE)
       |   / (sqrt(CAST(${n2("a")} AS DOUBLE))
       |      * sqrt(CAST(${n2("b")} AS DOUBLE))) AS cosine
       |FROM cent a JOIN cent b ON a.source < b.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** DuckDB mirror of llm_embed_ivfpq: the IVF probe/candidate CTEs
    * (coarse quantizer = first NC vectors, same as ivfOracleSql) feed
    * the PQ ADC scoring CTEs (same fits as pqOracleSql), shortlist
    * top-9 by ADC, exact-cosine re-rank to 3.
    */
  private lazy val ivfPqOracleSql: String = {
    val adcScore = (0 until PQ_M).map(b => s"l$b.d$b").mkString(" + ")
    val lutJoins = (0 until PQ_M).map(b =>
      s"JOIN plut$b l$b ON l$b.qid = cand.qid AND l$b.k$b = v.k$b")
      .mkString(" ")
    s"""WITH $pqOracleCtes,
       |a AS (
       |  SELECT vec_id, centroid FROM (
       |    SELECT v.vec_id, c.vec_id AS centroid,
       |     row_number() OVER (PARTITION BY v.vec_id
       |       ORDER BY ${cosineSql("v.embedding", "c.embedding")} DESC,
       |         c.vec_id) AS crn
       |    FROM embeddings v JOIN embeddings c ON c.vec_id < $NC)
       |  WHERE crn = 1),
       |p AS (
       |  SELECT qid, centroid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS centroid,
       |     row_number() OVER (PARTITION BY q.vec_id
       |       ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
       |         c.vec_id) AS crn
       |    FROM embeddings q JOIN embeddings c
       |      ON q.vec_id < $NQ_PQ AND c.vec_id < $NC)
       |  WHERE crn <= $NPROBE),
       |cand AS (
       |  SELECT DISTINCT p.qid, a.vec_id
       |  FROM p JOIN a ON a.centroid = p.centroid
       |  WHERE a.vec_id <> p.qid),
       |adc AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT cand.qid, v.vec_id, ($adcScore) AS score,
       |     row_number() OVER (PARTITION BY cand.qid
       |       ORDER BY ($adcScore) DESC, v.vec_id) AS srn
       |    FROM cand JOIN pqcodes v ON v.vec_id = cand.vec_id
       |    $lutJoins)
       |  WHERE srn <= 9)
       |SELECT qid, CAST(rn AS INTEGER) AS rn, vec_id, cosine FROM (
       |  SELECT adc.qid, adc.vec_id,
       |   ${cosineSql("q.embedding", "c.embedding")} AS cosine,
       |   row_number() OVER (PARTITION BY adc.qid
       |     ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
       |       adc.vec_id) AS rn
       |  FROM adc JOIN embeddings c ON c.vec_id = adc.vec_id
       |           JOIN embeddings q ON q.vec_id = adc.qid)
       |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "llm_embed_pca" -> pcaOracleSql,
    "llm_kcenter" -> kcenterOracleSql,
    "llm_probe_auc" -> probeAucOracleSql,
    "llm_source_centroid_sim" -> centroidSimOracleSql,
    "llm_embed_ivfpq" -> ivfPqOracleSql,
    "llm_embed_ivfpq_served" -> ivfPqOracleSql,

    "llm_embed_topk" ->
      s"""SELECT qid, CAST(rn AS INTEGER) AS rn, vec_id, cosine FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         |   ${cosineSql("q.embedding", "c.embedding")} AS cosine,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |  FROM embeddings c
         |  JOIN embeddings q ON q.vec_id < $NQ AND c.vec_id <> q.vec_id)
         |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    "llm_hard_negatives" ->
      s"""SELECT qid, CAST(rn AS INTEGER) AS rn, neg_id, neg_label, cosine
         |FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS neg_id, c.label AS neg_label,
         |   ${cosineSql("q.embedding", "c.embedding")} AS cosine,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
         |       c.vec_id) AS rn
         |  FROM embeddings c
         |  JOIN embeddings q ON q.vec_id < $NQ AND c.label <> q.label)
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // full row_number ranking (the straightforward formulation); the
    // engine's sort-free count-ahead form must agree because both rank
    // by the identical (cosine, vec_id) doubles
    "llm_retrieval_eval" ->
      s"""WITH ranked AS (
         |  SELECT q.vec_id AS qid, q.label AS qlabel, c.label AS label,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
         |       c.vec_id) AS rn
         |  FROM embeddings c
         |  JOIN embeddings q ON q.vec_id < $NQ AND c.vec_id <> q.vec_id)
         |SELECT qid, qlabel,
         | CAST(count(CASE WHEN label = qlabel THEN 1 END) AS BIGINT)
         |   AS n_relevant,
         | CAST(min(CASE WHEN label = qlabel THEN rn END) AS INTEGER)
         |   AS first_rank,
         | CAST(count(CASE WHEN label = qlabel AND rn <= 10 THEN 1 END)
         |   AS INTEGER) AS hits_at_10
         |FROM ranked GROUP BY qid, qlabel ORDER BY qid""".stripMargin,

    "llm_graph_centrality" -> centralityOracleSql("CAST(1 AS BIGINT)"),

    // identical rank unroll, edge weight = the engine's shifted-cosine
    // floor at 2^20 (bit-identical doubles → identical integers)
    "llm_graph_centrality_weighted" -> centralityOracleSql(
      "greatest(CAST(1 AS BIGINT), " +
        s"CAST(floor((cosine + 1.0) * $WRANK_SCALE.0) AS BIGINT))"),

    "llm_mutual_knn_cc" -> mutualKnnCcOracleSql,

    // BFS-by-union over the mutual graph re-derived from scratch —
    // anchors the served edge table's 2-hop expansion to the corpus
    "llm_graph_khop" ->
      s"""WITH ${knnEdgesCtes(3)},
         |mut AS (
         |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM knn GROUP BY 1, 2 HAVING count(*) = 2),
         |edges AS MATERIALIZED (
         |  SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut),
         |seeds AS (
         |  SELECT vec_id AS seed FROM embeddings WHERE vec_id % 20 = 0),
         |h1 AS (SELECT s.seed, e.b AS node
         |       FROM seeds s JOIN edges e ON s.seed = e.a),
         |h2 AS (SELECT h.seed, e.b AS node
         |       FROM h1 h JOIN edges e ON h.node = e.a)
         |SELECT seed, node, CAST(min(h) AS INTEGER) AS min_hops
         |FROM (SELECT seed, seed AS node, 0 AS h FROM seeds
         |      UNION ALL SELECT seed, node, 1 FROM h1
         |      UNION ALL SELECT seed, node, 2 FROM h2)
         |GROUP BY seed, node ORDER BY seed, node""".stripMargin,
    // read-back of the persisted edge table ≡ the refit (buildOnce
    // writes exactly mutualEdges' rows) — shared oracle
    "llm_mutual_knn_served" -> mutualKnnCcOracleSql,

    "llm_lsh_occupancy" -> occupancyOracleSql(LSH_BITS),
    "llm_lsh_occupancy_wide" -> occupancyOracleSql(LSH_BITS_WIDE),

    "llm_label_prop" ->
      s"""WITH ${knnEdgesCtes(3)},
         |$mutCteSql,
         |edges AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM mut
         |  UNION ALL SELECT b AS src, a AS dst FROM mut),
         |l0 AS MATERIALIZED (SELECT vec_id AS node,
         |  CASE WHEN vec_id % 5 = 0 THEN label ELSE -1 END AS lab,
         |  CAST(vec_id % 5 = 0 AS INTEGER) AS seed FROM embeddings),
         |${(1 to LP_ITERS).map(labelPropIterSql).mkString(",\n")}
         |SELECT node AS vec_id, CAST(lab AS INTEGER) AS label_prop,
         | CAST(seed AS INTEGER) AS is_seed
         |FROM l$LP_ITERS ORDER BY vec_id""".stripMargin,

    "llm_kcore_peel" ->
      s"""WITH ${knnEdgesCtes(3)},
         |$mutCteSql,
         |edges AS MATERIALIZED (
         |  SELECT a, b FROM mut UNION ALL SELECT b AS a, a AS b FROM mut),
         |a0 AS MATERIALIZED (SELECT vec_id AS node FROM embeddings),
         |${(1 to KCORE_ROUNDS).map(kcoreIterSql).mkString(",\n")},
         |fd AS (SELECT e.a, count(*) AS core_deg
         |  FROM edges e JOIN a$KCORE_ROUNDS p ON p.node = e.a
         |  JOIN a$KCORE_ROUNDS q ON q.node = e.b GROUP BY e.a)
         |SELECT v.vec_id,
         | CAST(CASE WHEN c.node IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         |   AS in_core,
         | CAST(coalesce(f.core_deg, 0) AS BIGINT) AS core_deg
         |FROM embeddings v LEFT JOIN a$KCORE_ROUNDS c ON c.node = v.vec_id
         |LEFT JOIN fd f ON f.a = v.vec_id
         |ORDER BY v.vec_id""".stripMargin,

    // same propagation CTEs, re-aggregated per gold class over the
    // held-out (non-seed) population
    "llm_label_prop_eval" ->
      s"""WITH ${knnEdgesCtes(3)},
         |$mutCteSql,
         |edges AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM mut
         |  UNION ALL SELECT b AS src, a AS dst FROM mut),
         |l0 AS MATERIALIZED (SELECT vec_id AS node,
         |  CASE WHEN vec_id % 5 = 0 THEN label ELSE -1 END AS lab,
         |  CAST(vec_id % 5 = 0 AS INTEGER) AS seed FROM embeddings),
         |${(1 to LP_ITERS).map(labelPropIterSql).mkString(",\n")},
         |agg AS (
         |  SELECT e.label AS gold, count(*) AS n_nonseed,
         |   CAST(sum(CASE WHEN l.lab <> -1 THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_labeled,
         |   CAST(sum(CASE WHEN l.lab = e.label THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_correct
         |  FROM l$LP_ITERS l JOIN embeddings e ON e.vec_id = l.node
         |  WHERE l.seed = 0 GROUP BY 1)
         |SELECT gold, n_nonseed, n_labeled, n_correct,
         | CAST(CASE WHEN n_labeled > 0
         |   THEN (1000 * n_correct) // n_labeled ELSE 0 END AS BIGINT)
         |   AS acc_x1000
         |FROM agg ORDER BY gold""".stripMargin,

    "llm_graph_triangles" ->
      s"""WITH ${knnEdgesCtes(3)},
         |$mutCteSql,
         |dg AS (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM mut UNION ALL SELECT b AS node FROM mut)
         |  GROUP BY 1),
         |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |  FROM mut e1 JOIN mut e2 ON e1.b = e2.a
         |  JOIN mut e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pern AS (SELECT node, count(*) AS tri FROM (
         |  SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
         |  UNION ALL SELECT c AS node FROM tri) GROUP BY 1)
         |SELECT e.vec_id, CAST(coalesce(d.deg, 0) AS BIGINT) AS deg,
         | CAST(coalesce(p.tri, 0) AS BIGINT) AS tri,
         | CAST(CASE WHEN d.deg >= 2
         |   THEN (2 * coalesce(p.tri, 0) * 1000000) // (d.deg * (d.deg - 1))
         |   ELSE 0 END AS BIGINT) AS clust_scaled
         |FROM embeddings e LEFT JOIN dg d ON d.node = e.vec_id
         |LEFT JOIN pern p ON p.node = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,

    "llm_knn_graph" -> knnGraphOracleSql(LSH_BITS),
    "llm_knn_graph_wide" -> knnGraphOracleSql(LSH_BITS_WIDE),

    // Identical by construction: untouched buckets' persisted edges are
    // exactly the full-graph edges of those buckets (edges never cross
    // buckets), touched buckets recompute in full — so each incremental
    // union must hash-match its same-bits full rebuild's oracle.
    "llm_knn_incremental" -> knnGraphOracleSql(LSH_BITS),
    "llm_knn_incremental_served" -> knnGraphOracleSql(LSH_BITS),
    "llm_knn_incremental_wide" -> knnGraphOracleSql(LSH_BITS_WIDE),

    "llm_hybrid_search" -> {
      val stopList = graft.api.GraftPipelines.DefaultStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH q AS (
         |  SELECT doc_id,
         |   (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.5 +
         |   (CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE)
         |      / len(w)) * 0.3 +
         |   (CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) >= 3.0
         |          AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |              / len(w) <= 8.0
         |         THEN 0.2 ELSE 0.0 END) AS score
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT g.doc_id, g.score,
         | ${cosineSql("qv.qe", "e.embedding")} AS cosine
         |FROM (SELECT doc_id, score FROM q WHERE score >= 0.45) g
         |JOIN embeddings e ON g.doc_id = e.vec_id
         |CROSS JOIN qv
         |WHERE g.doc_id <> 0
         |ORDER BY cosine DESC, g.doc_id LIMIT 10""".stripMargin
    },

    "llm_embed_lsh_hist" ->
      s"""SELECT ${bucketSql("embedding")} AS bucket, count(*) AS n
         |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin,

    "llm_embed_lsh_knn" ->
      s"""SELECT qid, CAST(rn AS INTEGER) AS rn, vec_id, bucket, cosine FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         |   ${bucketSql("c.embedding")} AS bucket,
         |   ${cosineSql("q.embedding", "c.embedding")} AS cosine,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |  FROM embeddings c
         |  JOIN embeddings q
         |    ON q.vec_id < $NQ AND c.vec_id <> q.vec_id
         |   AND (${bucketSql("c.embedding")}) = (${bucketSql("q.embedding")}))
         |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,

    "llm_embed_lsh_knn2" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |  ${bucketSql("embedding")} AS b0,
         |  ${bucketSql("embedding", 8)} AS b1 FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vec_id
         |  FROM b c JOIN b q
         |    ON q.vec_id < $NQ AND c.vec_id <> q.vec_id
         |   AND (bit_count(xor(c.b0, q.b0)) <= 1
         |     OR bit_count(xor(c.b1, q.b1)) <= 1))
         |SELECT qid, CAST(rn AS INTEGER) AS rn, vec_id, cosine FROM (
         |  SELECT cand.qid, cand.vec_id,
         |   ${cosineSql("q.embedding", "c.embedding")} AS cosine,
         |   row_number() OVER (PARTITION BY cand.qid
         |     ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
         |       cand.vec_id) AS rn
         |  FROM cand JOIN embeddings c ON c.vec_id = cand.vec_id
         |            JOIN embeddings q ON q.vec_id = cand.qid)
         |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,

    "llm_embed_ivf" -> ivfOracleSql,

    "llm_ann_recall" ->
      s"""WITH exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         |     row_number() OVER (PARTITION BY q.vec_id
         |       ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
         |         c.vec_id) AS rn
         |    FROM embeddings c
         |    JOIN embeddings q ON q.vec_id < $NQ AND c.vec_id <> q.vec_id)
         |  WHERE rn <= 3),
         |approx AS ($ivfOracleSql)
         |SELECT e.qid, CAST(count(a.vec_id) AS INTEGER) AS hits, 3 AS k,
         | count(a.vec_id) / 3.0 AS recall_at_3
         |FROM exact e LEFT JOIN approx a
         |  ON a.qid = e.qid AND a.vec_id = e.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,
    // the served entry reads the persisted index but must produce the
    // SAME rows — one oracle text for both
    "llm_embed_ivf_served" -> ivfOracleSql,

    // the BM25 CTEs mirror llm_bm25 (same terms/constants); ranks are
    // assigned with the same (score DESC, id) keys as each side's top-k
    "llm_hybrid_rrf" -> {
      val terms = Seq("spark", "merge", "dup")
      val inList = terms.map(t => s"'$t'").mkString(", ")
      def pivotMax(v: String) = terms.map(t =>
        s"coalesce(max(CASE WHEN term = '$t' THEN $v END), 0) AS ${v}_$t")
        .mkString(", ")
      val contribs = terms.map { t =>
        s"""(((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5) /
           |   (CAST(df_$t AS DOUBLE) + 0.5)) *
           |  ((CAST(coalesce(tf_$t, 0) AS DOUBLE) * 2.2) /
           |   (CAST(coalesce(tf_$t, 0) AS DOUBLE) +
           |    1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))))""".stripMargin
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
         |tfrow AS (SELECT doc_id, ${pivotMax("tf")} FROM tf GROUP BY doc_id),
         |b50 AS (
         |  SELECT doc_id,
         |   CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
         |     AS rank_b
         |  FROM (
         |    SELECT l.doc_id, ($contribs) AS score
         |    FROM lens l LEFT JOIN tfrow t ON l.doc_id = t.doc_id
         |    CROSS JOIN stats CROSS JOIN dfrow)
         |  WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 50),
         |v50 AS (
         |  SELECT doc_id,
         |   CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INTEGER)
         |     AS rank_v
         |  FROM (
         |    SELECT c.vec_id AS doc_id,
         |     ${cosineSql("q.embedding", "c.embedding")} AS cosine
         |    FROM embeddings c JOIN embeddings q ON q.vec_id = 0
         |    WHERE c.vec_id <> 0)
         |  ORDER BY cosine DESC, doc_id LIMIT 50)
         |SELECT doc_id, rank_b, rank_v,
         | coalesce(1.0 / (60 + rank_b), 0.0)
         |  + coalesce(1.0 / (60 + rank_v), 0.0) AS rrf
         |FROM b50 FULL OUTER JOIN v50 USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
    },

    "llm_embed_quantize" ->
      s"""SELECT vec_id,
         | sqrt(${dotUnrolledSql("embedding", "embedding", DIM)}) AS l2norm,
         | CASE WHEN m = 0 THEN '' ELSE
         |  array_to_string(list_transform(embedding,
         |    x -> CAST(floor((CAST(x AS DOUBLE) / m) * 127.0) AS BIGINT)), ',')
         | END AS q8
         |FROM (
         |  SELECT vec_id, embedding,
         |   list_max(list_transform(embedding,
         |     x -> abs(CAST(x AS DOUBLE)))) AS m
         |  FROM embeddings)
         |ORDER BY vec_id""".stripMargin,

    "llm_embed_neardup_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings)
         |SELECT l.vec_id AS d1, r.vec_id AS d2, l.bucket AS bucket,
         | ${cosineSql("l.embedding", "r.embedding")} AS cosine
         |FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         |WHERE ${cosineSql("l.embedding", "r.embedding")} > 0.35
         |ORDER BY d1, d2""".stripMargin,

    "llm_embed_neardup" ->
      s"""SELECT l.vec_id AS d1, r.vec_id AS d2,
         | ${cosineSql("l.embedding", "r.embedding")} AS cosine
         |FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
         |WHERE l.vec_id < 200 AND r.vec_id < 200
         |  AND ${cosineSql("l.embedding", "r.embedding")} > 0.35
         |ORDER BY d1, d2""".stripMargin,

    // the straightforward row_number formulation; rn = 1 with
    // (cosine DESC, eval_id ASC) is exactly the engine's
    // max(struct(cosine, -eval_id)) argmax on bit-identical doubles
    "llm_semantic_decontaminate" ->
      s"""WITH ev AS (
         |  SELECT e.vec_id AS eval_id, e.embedding FROM embeddings e
         |  JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.source = 'src19'),
         |co AS (
         |  SELECT e.vec_id, e.embedding FROM embeddings e
         |  JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.source <> 'src19'),
         |scored AS (
         |  SELECT c.vec_id AS doc_id, ev.eval_id,
         |   ${cosineSql("c.embedding", "ev.embedding")} AS cosine
         |  FROM co c CROSS JOIN ev),
         |best AS (
         |  SELECT doc_id, eval_id, cosine, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY cosine DESC, eval_id) AS rn
         |  FROM scored)
         |SELECT doc_id, eval_id AS nearest_eval, cosine AS max_cosine
         |FROM best WHERE rn = 1 AND cosine >= 0.35
         |ORDER BY doc_id""".stripMargin,

    // the engine's full KM_ITERS-round Lloyd fit, unrolled as CTEs —
    // hash-matching cluster sizes AND the fixed-point mean cosine pins
    // every assignment and every centroid component across both engines
    "llm_embed_pq" -> pqOracleSql,
    "llm_embed_pq_served" -> pqOracleSql,

    "llm_embed_kmeans" -> kmeansAggOracleSql,
    "llm_embed_kmeans_served" -> kmeansAggOracleSql,

    // the fitted assignment CTE `af` verbatim — per-row hash of the
    // persisted fit the serve splits and the streaming assign loop read
    "llm_cluster_assign" ->
      s"""WITH $kmeansOracleCtes
         |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, ccos
         |FROM af ORDER BY vec_id""".stripMargin,

    // same fitted assignment CTE `af`, then a per-cluster salted-hash
    // row_number capped at the quota — the md5 salt is the verbatim
    // llm_pack_salted mirror
    "llm_cluster_quota" -> clusterQuotaOracleSql,
    "llm_cluster_quota_served" -> clusterQuotaOracleSql,

    // same unrolled fit as llm_embed_kmeans (CTEs reused verbatim), then
    // rank-2 cosines to the FINAL centroids u$KM_ITERS; s is one
    // division of two engine-identical doubles
    "llm_cluster_silhouette" -> silhouetteOracleSql,
    "llm_cluster_silhouette_served" -> silhouetteOracleSql,

    // same silhouette CTEs, then the gate (exact integer fixed-point
    // mean, DECIMAL cross-multiplied relative comparison) and the
    // within-passing-cluster smaller-id-partner drop rule
    "llm_semdedup_gated" -> semdedupGatedOracleSql,
    "llm_semdedup_gated_served" -> semdedupGatedOracleSql,

    // scaled-k gated twins: the gated oracle body verbatim, with the
    // corpus-scaled init predicate swapped in (the llm_semdedup_scaled
    // discipline — k as a scalar subquery of the corpus count)
    "llm_semdedup_gated_scaled" -> semdedupGatedScaledOracleSql,
    "llm_semdedup_gated_scaled_served" -> semdedupGatedScaledOracleSql,

    // SemDeDup over the oracled k-means assignment: within-cluster
    // pairs above the cosine threshold — the pair list hash-checks the
    // per-vector cluster labels, not just aggregate sizes
    "llm_semdedup" -> semdedupOracleSql,
    "llm_semdedup_served" -> semdedupOracleSql,

    // scaled-k twin: the ONLY difference is the init predicate — k is
    // a scalar subquery of the corpus count, ceil'd exactly like the
    // engine's `(n + target-1) div target` (both truncate positives)
    "llm_semdedup_scaled" -> semdedupScaledOracleSql,
    "llm_semdedup_scaled_served" -> semdedupScaledOracleSql
  )

  /** Corpus-scaled k-means init predicate: k as a scalar subquery of
    * the corpus count, ceil'd exactly like the engine's
    * `(n + target-1) div target` (both truncate positives). Shared by
    * every scaled-fit oracle.
    */
  private def scaledInitSql: String =
    s"vec_id < (SELECT (count(*) + ${SEM_TARGET - 1}) // $SEM_TARGET" +
      " FROM embeddings)"

  private def semdedupScaledOracleSql: String =
    s"""WITH ${kmeansOracleCtes(scaledInitSql)},
       |asg AS (
       |  SELECT a.vec_id, a.cluster, e.embedding
       |  FROM af a JOIN embeddings e ON a.vec_id = e.vec_id)
       |SELECT d1, d2, cluster, cosine FROM (
       |  SELECT l.vec_id AS d1, r.vec_id AS d2, l.cluster AS cluster,
       |   ${cosineSql("l.embedding", "r.embedding")} AS cosine
       |  FROM asg l JOIN asg r
       |    ON l.cluster = r.cluster AND l.vec_id < r.vec_id)
       |WHERE cosine > 0.35 ORDER BY d1, d2""".stripMargin

  /** k-means-family oracle SQL, shared verbatim by each refit entry
    * and its `_served` read-back twin (the serve split is a storage
    * refactor — same output, same oracle).
    */
  private def kmeansAggOracleSql: String =
    s"""WITH $kmeansOracleCtes
       |SELECT cluster, count(*) AS n,
       | CAST(sum(CAST(floor(ccos * $COS_SCALE_SQL) AS DECIMAL(28,0))) AS DOUBLE)
       |   / count(*) / $COS_SCALE_SQL AS mean_cos
       |FROM af GROUP BY cluster ORDER BY cluster""".stripMargin

  private def clusterQuotaOracleSql: String =
    s"""WITH $kmeansOracleCtes,
       |r AS (
       |  SELECT vec_id, cluster,
       |   row_number() OVER (PARTITION BY cluster
       |     ORDER BY CAST(md5_number_lower('cq|' ||
       |       CAST(vec_id AS VARCHAR)) % 1152921504606846976 AS BIGINT),
       |       vec_id) AS pick_rank
       |  FROM af)
       |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
       | CAST(pick_rank AS INTEGER) AS pick_rank
       |FROM r WHERE pick_rank <= $QUOTA
       |ORDER BY cluster, pick_rank""".stripMargin

  private def silhouetteOracleSql: String =
    s"""WITH $kmeansOracleCtes,
       |sc AS (
       |  SELECT vec_id, cluster, ccos,
       |   row_number() OVER (PARTITION BY vec_id
       |     ORDER BY ccos DESC, cluster) AS crn
       |  FROM (SELECT v.vec_id, c.cluster, ${centCosSql("v", "c")} AS ccos
       |        FROM embeddings v CROSS JOIN u$KM_ITERS c))
       |SELECT a.vec_id, CAST(a.cluster AS INTEGER) AS cluster,
       | a.ccos AS cos1, b.ccos AS cos2,
       | (a.ccos - b.ccos) / (1.0 - b.ccos) AS sil
       |FROM sc a JOIN sc b ON a.vec_id = b.vec_id
       | AND a.crn = 1 AND b.crn = 2
       |ORDER BY a.vec_id""".stripMargin

  private def semdedupGatedOracleSql: String =
    semdedupGatedOracleSqlFrom(kmeansOracleCtes)

  private def semdedupGatedScaledOracleSql: String =
    semdedupGatedOracleSqlFrom(kmeansOracleCtes(scaledInitSql))

  /** Gated-SemDeDup oracle body, shared by the fixed-k and scaled-k
    * twins — only the k-means unroll's init predicate differs.
    */
  private def semdedupGatedOracleSqlFrom(ctes: String): String =
    s"""WITH $ctes,
       |sc AS (
       |  SELECT vec_id, cluster, ccos,
       |   row_number() OVER (PARTITION BY vec_id
       |     ORDER BY ccos DESC, cluster) AS crn
       |  FROM (SELECT v.vec_id, c.cluster, ${centCosSql("v", "c")} AS ccos
       |        FROM embeddings v CROSS JOIN u$KM_ITERS c)),
       |silv AS MATERIALIZED (
       |  SELECT a.vec_id, a.cluster,
       |   CAST(floor(((a.ccos - b.ccos) / (1.0 - b.ccos))
       |     * $COS_SCALE_SQL) AS BIGINT) AS sils
       |  FROM sc a JOIN sc b ON a.vec_id = b.vec_id
       |   AND a.crn = 1 AND b.crn = 2),
       |tot AS (SELECT CAST(sum(sils) AS BIGINT) AS tsum,
       |        count(*) AS tcnt FROM silv),
       |gate AS MATERIALIZED (
       |  SELECT cluster,
       |   CAST(CAST(sum(sils) AS BIGINT) // count(*) AS BIGINT)
       |     AS mean_sil_scaled,
       |   CAST(CASE WHEN
       |     CAST(CAST(sum(sils) AS BIGINT) AS DECIMAL(38,0)) * tcnt >=
       |     CAST(tsum AS DECIMAL(38,0)) * count(*)
       |    THEN 1 ELSE 0 END AS INTEGER) AS gate_pass
       |  FROM silv CROSS JOIN tot GROUP BY cluster, tsum, tcnt),
       |pass AS MATERIALIZED (
       |  SELECT v.vec_id, v.cluster, e.embedding
       |  FROM silv v JOIN gate g ON v.cluster = g.cluster
       |  JOIN embeddings e ON e.vec_id = v.vec_id
       |  WHERE g.gate_pass = 1),
       |dups AS (
       |  SELECT DISTINCT r.vec_id FROM pass l JOIN pass r
       |   ON l.cluster = r.cluster AND l.vec_id < r.vec_id
       |  WHERE ${cosineSql("l.embedding", "r.embedding")} > 0.35)
       |SELECT s.vec_id, CAST(s.cluster AS INTEGER) AS cluster,
       | g.mean_sil_scaled, g.gate_pass,
       | CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
       |   AS keep
       |FROM silv s JOIN gate g ON s.cluster = g.cluster
       |LEFT JOIN dups d ON d.vec_id = s.vec_id
       |ORDER BY s.vec_id""".stripMargin

  private def semdedupOracleSql: String =
    s"""WITH $kmeansOracleCtes,
       |asg AS (
       |  SELECT a.vec_id, a.cluster, e.embedding
       |  FROM af a JOIN embeddings e ON a.vec_id = e.vec_id)
       |SELECT d1, d2, cluster, cosine FROM (
       |  SELECT l.vec_id AS d1, r.vec_id AS d2, l.cluster AS cluster,
       |   ${cosineSql("l.embedding", "r.embedding")} AS cosine
       |  FROM asg l JOIN asg r
       |    ON l.cluster = r.cluster AND l.vec_id < r.vec_id)
       |WHERE cosine > 0.35 ORDER BY d1, d2""".stripMargin
}
