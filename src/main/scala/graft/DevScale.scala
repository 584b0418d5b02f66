package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probe: write a 10x sf0.1 corpus ("sf1-equivalent") under
  * target/sf1 for the scaling measurement recorded in BASELINE.md.
  *
  * Replication is ID-offset + content-varied so every query's workload
  * scales LINEARLY instead of mutating shape:
  *  - keys (order/cust/part/supp/event/user/doc/vec) offset per replica
  *    so joins stay 1:1-consistent and windows keep per-key sizes;
  *  - document words char-rotated per replica (stopwords and short
  *    words kept) — lengths, token counts, stop ratios, TTR, and
  *    within-replica dup/near-dup/span structure are EXACTLY preserved,
  *    while cross-replica shingle/minhash similarity vanishes (no
  *    artificial 10-way duplicate groups that would blow candidate
  *    pairs superlinearly, and no dead corpus with zero dups either);
  *  - embeddings circular-shifted per replica — norms and
  *    within-replica cosine structure exact, cross-replica ~orthogonal;
  *  - event timestamps shifted by a replica stride so event-time
  *    windows grow in bucket count, not per-bucket width.
  */
object DevScale {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/root/repo/target/sf1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_SCALE_TABLES=documents,embeddings writes only those
    // tables — the sf10 near-dup growth probe needs just the two, and
    // a 100x lineitem would dominate the build for nothing
    val only = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).toSet)
    def rep(table: String, offsets: Map[String, Long],
        custom: (DataFrame, Int) => DataFrame = (d, _) => d,
        files: Int = 8): Unit = {
      if (!only.forall(_.contains(table))) return
      val base = Tables.table(spark, src, table)
      val cols = base.columns
      val parts = (0 until reps).map { i =>
        custom(base, i).select(cols.map { c =>
          offsets.get(c).map(o => (col(c) + lit(i * o)).cast(base.schema(c).dataType).as(c))
            .getOrElse(col(c))
        }: _*)
      }
      parts.reduce(_ union _).repartition(files)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scale] $table x$reps written")
    }

    val stop = graft.api.GraftPipelines.DefaultStopwords
      .map(w => s"'$w'").mkString(", ")
    // Past 10 replicas the char rotation alone aliases: a word of
    // length L has only L rotations, so replicas at distance L share
    // every length-L word and short-word-heavy docs become artificial
    // cross-replica near-dups. For i >= 10 a per-replica Caesar cipher
    // (shift i % 25 + 1 over a-z — length-, TTR-, and
    // quality-metric-preserving exactly like the rotation) is layered
    // on top: a full-word collision then needs the distance to be a
    // multiple of BOTH 26 and L, pushing doc-level aliasing past the
    // 0.7 Jaccard gate for any mixed-length text. i <= 9 is untouched,
    // so the sf1 (10-replica) recipe is bit-identical to prior rounds.
    def caesar(i: Int): String = {
      val az = "abcdefghijklmnopqrstuvwxyz"
      if (i < 10) az
      else { val k = i % 25 + 1; az.substring(k) + az.substring(0, k) }
    }
    rep("documents", Map("doc_id" -> 5000L), (d, i) =>
      if (i == 0) d
      else d.withColumn("text", expr(
        s"""array_join(transform(split(text, ' '), w ->
           |  CASE WHEN length(w) <= 1 OR w IN ($stop) THEN w
           |       ELSE translate(
           |              concat(substring(w, $i % length(w) + 1, length(w)),
           |                     substring(w, 1, $i % length(w))),
           |              'abcdefghijklmnopqrstuvwxyz', '${caesar(i)}') END),
           |' ')""".stripMargin)))
    // Same aliasing past 64 replicas for the 64-dim circular shift:
    // for i >= 64, a per-replica diagonal sign flip (an orthogonal
    // transform — within-replica norms and cosines exact) decorrelates
    // the repeated shifts; i <= 63 is untouched.
    rep("embeddings", Map("vec_id" -> 2000L), (d, i) =>
      if (i == 0) d
      else {
        val s = i % 64
        val shifted = d.withColumn("embedding", expr(
          s"concat(slice(embedding, $s + 1, size(embedding) - $s), " +
            s"slice(embedding, 1, $s))"))
        if (i < 64) shifted
        else shifted.withColumn("embedding", expr(
          "transform(embedding, (x, j) -> " +
            "CASE WHEN j < 32 THEN -x ELSE x END)"))
      })
    // one-week stride: windows/sessions gain buckets, not width
    // (ts is layout-dependent — ns-INT64 or TIMESTAMP(µs) — so it shifts
    // via a custom fn instead of the numeric offsets map)
    rep("events", Map("event_id" -> 100000L, "user_id" -> 1500L), (d, i) =>
      if (i == 0) d
      else if (d.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        d.withColumn("ts", col("ts") + lit(i * 604800L * 1000000000L))
      else d.withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 7} DAYS")))
    rep("orders", Map("o_orderkey" -> 150000L, "o_custkey" -> 15000L))
    rep("lineitem", Map("l_orderkey" -> 150000L, "l_partkey" -> 20000L,
      "l_suppkey" -> 1000L), files = 16)
    rep("customer", Map("c_custkey" -> 15000L))
    rep("supplier", Map("s_suppkey" -> 1000L))
    rep("part", Map("p_partkey" -> 20000L))
    rep("region", Map.empty, (d, i) => if (i == 0) d else d.limit(0), files = 1)
    rep("nation", Map.empty, (d, i) => if (i == 0) d else d.limit(0), files = 1)
    spark.stop()
  }
}
