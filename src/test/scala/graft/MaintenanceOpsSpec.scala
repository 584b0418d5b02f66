package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Invariant + layout-evidence specs for [[graft.operators.MaintenanceOps]].
  *
  * The oracle harness proves value equality; these specs pin the
  * STRUCTURAL claims: Morton codes really interleave, Z-clustering
  * really narrows per-file bounding boxes on both dimensions (the
  * data-skipping payoff), SCD2 windows really tile each key's history,
  * MERGE really upserts one row per key, and the incremental rollup
  * really equals the direct recompute.
  */
class MaintenanceOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Plain-loop bit interleave: the independent reference the
    * magic-bits ladder must reproduce.
    */
  private def mortonRef(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 21) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("morton2 matches the plain-loop interleave on boundaries and random points") {
    val r = new scala.util.Random(7)
    val pts = Seq((0L, 0L), (Fns.MortonMask21, Fns.MortonMask21),
      (0L, Fns.MortonMask21), (Fns.MortonMask21, 0L), (5L, 3L), (2000L, 40L)) ++
      Seq.fill(200)((r.nextInt(1 << 21).toLong, r.nextInt(1 << 21).toLong))
    pts.toDF("x", "y")
      .select($"x", $"y", Fns.morton2($"x", $"y").as("z"))
      .collect()
      .foreach { row =>
        assert(row.getLong(2) == mortonRef(row.getLong(0), row.getLong(1)),
          s"(${row.getLong(0)}, ${row.getLong(1)})")
      }
  }

  /** Write `df` in the given layout, read it back, and return the mean
    * per-file bounding-box width on each axis, normalized by the global
    * range (1.0 = every file spans everything, i.e. zero skipping).
    */
  private def fileWidths(df: DataFrame): (Double, Double, Array[(Long, Long, Long, Long)]) = {
    val dir = Files.createTempDirectory("graft_zorder").toString
    df.write.mode("overwrite").parquet(dir)
    val boxes = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min($"l_partkey").as("pmin"), max($"l_partkey").as("pmax"),
        min($"supp20").as("smin"), max($"supp20").as("smax"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val (pLo, pHi) = (boxes.map(_._1).min, boxes.map(_._2).max)
    val (sLo, sHi) = (boxes.map(_._3).min, boxes.map(_._4).max)
    val pw = boxes.map(b => (b._2 - b._1).toDouble / (pHi - pLo)).sum / boxes.length
    val sw = boxes.map(b => (b._4 - b._3).toDouble / (sHi - sLo)).sum / boxes.length
    (pw, sw, boxes)
  }

  private def candidates(boxes: Array[(Long, Long, Long, Long)],
      p: (Long, Long), s: (Long, Long)): Int =
    boxes.count(b => b._1 <= p._2 && b._2 >= p._1 && b._3 <= s._2 && b._4 >= s._1)

  test("z-ordered layout narrows per-file bounding boxes on BOTH dimensions") {
    val li = Tables.lineitem(spark, sf)
      .select($"l_partkey", ($"l_suppkey" * 20).as("supp20"))
      .withColumn("zval", Fns.morton2($"l_partkey", $"supp20"))

    val (rrP, rrS, rrBox) = fileWidths(li.repartition(8))
    val (sdP, sdS, sdBox) = fileWidths(
      li.repartitionByRange(8, $"l_partkey").sortWithinPartitions($"l_partkey"))
    val (zP, zS, zBox) = fileWidths(
      li.repartitionByRange(8, $"zval").sortWithinPartitions($"zval"))

    // round-robin: every file spans ~everything on both axes
    assert(rrP > 0.9 && rrS > 0.9, s"round-robin ($rrP, $rrS)")
    // single-column sort: partkey collapses, suppkey stays full-width
    assert(sdP < 0.25, s"single-dim partkey width $sdP")
    assert(sdS > 0.8, s"single-dim supp width $sdS")
    // Z-order: BOTH axes narrow — the multi-dimensional skipping claim
    assert(zP < 0.75 && zS < 0.75, s"zorder ($zP, $zS)")
    assert(zP < rrP && zS < rrS)

    // 2-D box predicate: Z-layout prunes files; round-robin reads all 8
    val (pBox, sBox) = ((50L, 99L), (60L, 119L))
    assert(candidates(rrBox, pBox, sBox) == rrBox.length)
    assert(candidates(zBox, pBox, sBox) <= 5)
    // suppkey-only predicate: the single-dim layout reads every file,
    // Z-order still prunes — the axis a one-column sort cannot serve
    val anyP = (Long.MinValue / 4, Long.MaxValue / 4)
    assert(candidates(sdBox, anyP, sBox) == sdBox.length)
    assert(candidates(zBox, anyP, sBox) < zBox.length)
  }

  /** NTZ timestamps surface as LocalDateTime; epoch key for sorting. */
  private def epoch(r: org.apache.spark.sql.Row, i: Int): Long =
    r.get(i).asInstanceOf[java.time.LocalDateTime]
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  test("rel_scd2: validity windows tile each customer's history") {
    val rows = q("rel_scd2").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (key, rs) =>
      val sorted = rs.sortBy(r => (epoch(r, 3), r.getLong(1))).toList
      assert(sorted.count(_.getInt(5) == 1) == 1, s"custkey $key current-count")
      assert(sorted.last.isNullAt(4) && sorted.last.getInt(5) == 1)
      sorted.sliding(2).foreach {
        case a :: b :: Nil =>
          assert(a.get(4) == b.get(3),
            s"custkey $key: valid_to must equal the next valid_from")
          assert(a.getString(2) != b.getString(2),
            s"custkey $key: adjacent versions must differ (compression)")
        case _ =>
      }
    }
  }

  test("rel_merge_upsert: one row per key, correct op accounting, updated balances") {
    val rows = q("rel_merge_upsert").collect()
    val bal = Tables.customer(spark, sf).select($"c_custkey", $"c_acctbal")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val (ins, upd, keep) = (
      rows.filter(_.getString(4) == "insert"),
      rows.filter(_.getString(4) == "update"),
      rows.filter(_.getString(4) == "keep"))
    assert(rows.length == ins.length + upd.length + keep.length)
    assert(ins.nonEmpty && upd.nonEmpty && keep.nonEmpty)
    ins.foreach(r => assert(r.getLong(0) % 3 == 0 && r.getLong(0) % 2 == 0))
    keep.foreach(r => assert(r.getLong(0) % 3 != 0 && r.getLong(0) % 2 != 0))
    upd.foreach { r =>
      assert(r.getDouble(2) == bal(r.getLong(0)) + 100.0)
      assert(r.getString(3) == "UPSERTED")
    }
  }

  test("rel_distinct_incremental: merged sketch states equal the single-pass sketch") {
    val merged = q("rel_distinct_incremental").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val single = Tables.orders(spark, sf).groupBy($"o_orderpriority")
      .agg(hll_sketch_estimate(hll_sketch_agg($"o_custkey", 14)).as("est"),
        countDistinct($"o_custkey").as("exact"))
      .collect()
    assert(single.length == merged.size && merged.nonEmpty)
    single.foreach { r =>
      val (prio, est, exact) = (r.getString(0), r.getLong(1), r.getLong(2))
      // associativity: union of batch states IS the single-pass state
      assert(merged(prio) == est, s"$prio merged=${merged(prio)} single=$est")
      assert(math.abs(est - exact).toDouble / exact <= 0.02,
        s"$prio est=$est exact=$exact")
    }
  }

  test("rel_incremental_agg: merged partials equal the direct recompute") {
    val merged = q("rel_incremental_agg").collect()
    val direct = Tables.orders(spark, sf).groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(Fns.dec2($"o_totalprice")).cast("double").as("tp"),
        min($"o_orderdate").as("fd"), max($"o_orderdate").as("ld"))
      .orderBy($"o_orderpriority").collect()
    assert(merged.length == direct.length && merged.nonEmpty)
    merged.zip(direct).foreach { case (m, d) =>
      assert(m.getString(0) == d.getString(0))
      assert(m.getLong(1) == d.getLong(1))
      assert(m.getDouble(2) == d.getDouble(2))
      assert(m.getDouble(3) == d.getDouble(2) / d.getLong(1))
      assert(m.get(4) == d.get(3))
      assert(m.get(5) == d.get(4))
    }
  }

  test("rel_cdc_apply: last-writer-wins replay with delete tombstones") {
    val rows = q("rel_cdc_apply").collect()
    val byKey = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    val keys = Tables.orders(spark, sf).select($"o_orderkey")
      .collect().map(_.getLong(0))
    keys.foreach { k =>
      val expect = k % 10 match {
        case r if r < 2 => None            // deleted at seq 3
        case r if r < 6 => Some("U")       // updated at seq 2
        case _          => Some("I")       // insert only
      }
      assert(byKey.get(k) == expect, s"key $k: got ${byKey.get(k)}")
    }
    // restated rows carry the exact-decimal bump and the new priority
    rows.filter(_.getString(1) == "U").take(20).foreach { r =>
      assert(r.getString(3) == "RESTATED")
    }
  }

  test("rel_snapshot_diff: applying the extracted log to v_old reproduces v_new") {
    // diff/apply are inverses: rel_snapshot_diff EXTRACTS a change log
    // from two versions; replaying it (delete D keys, overwrite U rows,
    // add I rows) onto the old version must reproduce the new one
    // bit-for-bit. This closes the CDC loop with rel_cdc_apply's
    // semantics from the other direction.
    val diff = q("rel_snapshot_diff").collect()
    val base = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority").collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(2),
        r.getString(2)))
    val vOld = base.filter(_._1 % 7 != 0)
      .map { case (k, p, pr) => k -> ((p, pr)) }.toMap
    val vNew = base.filter(_._1 % 5 != 0)
      .map { case (k, p, pr) =>
        if (k % 3 == 0) k -> ((p + 25.0, "REPRICED")) else k -> ((p, pr))
      }.toMap
    val replayed = diff.foldLeft(vOld) { (acc, r) =>
      val k = r.getLong(0)
      r.getString(1) match {
        case "D" => acc - k
        case _ => acc + (k -> ((BigDecimal(r.getDouble(3)).setScale(2),
          r.getString(5))))
      }
    }
    assert(replayed == vNew,
      s"replay mismatch: ${replayed.size} vs ${vNew.size} keys")
    // and every emitted row is a REAL change (no unchanged-row noise)
    assert(diff.forall(r => Set("I", "U", "D")(r.getString(1))))
  }

  test("rel_compact: 64 fragments bin-pack losslessly to the byte-sized target") {
    val result = q("rel_compact").collect()
    val direct = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"user_id").as("sum_uid"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type").collect()
    assert(result.map(_.toString).toSeq == direct.map(_.toString).toSeq,
      "compaction must be lossless")
    // layout invariants: the fixture fragments into 64 files, the
    // compacted copy lands at ceil(bytes / 32 MiB) — at sf0.001 that's 1.
    def parquetFiles(d: java.io.File) =
      d.listFiles.filter(_.getName.endsWith(".parquet"))
    // the entry's own fixtures (already published: served, not rebuilt)
    val (fragDir, compDir) =
      graft.operators.MaintenanceOps.compactFixtures(spark, sf)
    val frag = new java.io.File(fragDir)
    val comp = new java.io.File(compDir)
    assert(parquetFiles(frag).length == 64)
    val bytes = parquetFiles(frag).map(_.length).sum
    val want = math.max(1, math.ceil(bytes / (32.0 * 1024 * 1024)).toInt)
    assert(parquetFiles(comp).length == want,
      s"expected $want compacted files, got ${parquetFiles(comp).length}")
  }

  test("rel_temporal_lookup: every fact enriched with exactly its as-of version") {
    val out = q("rel_temporal_lookup").collect()
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .collect()
    assert(out.length == orders.length, "point-in-time join must be 1:1")
    // reference: per customer, the matching version is the LAST change
    // point with valid_from <= order date (half-open interval semantics).
    // Dates are NTZ — compare via their ISO string form (lexicographic
    // order is chronological for a fixed format).
    def d(r: org.apache.spark.sql.Row, i: Int): String = r.get(i).toString
    val expect = orders.groupBy(_.getLong(1)).toSeq.flatMap { case (_, os) =>
      val sorted = os.sortBy(r => (d(r, 2), r.getLong(0)))
      val changes = sorted.foldLeft(Vector.empty[(String, String, Long)]) {
        case (acc, r) =>
          if (acc.isEmpty || acc.last._2 != r.getString(3))
            acc :+ ((d(r, 2), r.getString(3), r.getLong(0)))
          else acc
      }
      sorted.map { r =>
        val v = changes.filter(_._1 <= d(r, 2)).last
        r.getLong(0) -> ((v._2, v._1, v._3))
      }
    }
    val got = out.map(r => r.getLong(0) ->
      ((r.getString(3), d(r, 4), r.getLong(5)))).toMap
    assert(got == expect.toMap, "as-of versions diverge from the reference walk")
  }

  test("rel_incremental_join: every delta leg is exercised and the " +
      "maintained view equals the full recompute") {
    import org.apache.spark.sql.functions.col
    val cust = Tables.customer(spark, sf)
    val ord = Tables.orders(spark, sf)
    val on = col("c_custkey") === col("o_custkey")
    def n(c: org.apache.spark.sql.DataFrame,
        o: org.apache.spark.sql.DataFrame): Long = c.join(o, on).count()
    val (bc, dc) = (cust.filter(col("c_custkey") % 13 =!= 0),
      cust.filter(col("c_custkey") % 13 === 0))
    val (bo, dOrd) = (ord.filter(col("o_orderkey") % 7 =!= 0),
      ord.filter(col("o_orderkey") % 7 === 0))
    val legs = Seq(n(bc, bo), n(dc, bo), n(bc, dOrd), n(dc, dOrd))
    assert(legs.forall(_ > 0),
      s"all four legs must carry rows, got $legs — the delta formula " +
        "would pass trivially otherwise")
    assert(q("rel_incremental_join").count() == legs.sum &&
      legs.sum == cust.join(ord, on).count())
  }

  test("rel_incremental_join_agg: the maintained summary equals the " +
      "recompute exactly, with both the old summary and the delta " +
      "contributing") {
    import org.apache.spark.sql.functions._
    val cust = Tables.customer(spark, sf)
    val ord = Tables.orders(spark, sf)
    val recompute = cust.join(ord,
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(graft.functions.Fns.dec2(col("o_totalprice")))
          .cast("double").as("total_price"))
      .orderBy(col("c_mktsegment")).collect().toSeq
    assert(q("rel_incremental_join_agg").collect().toSeq == recompute,
      "summary-delta merge must equal the plain join-aggregate")
    // both paths do work: the stored summary covers most rows, the
    // delta legs are non-empty (the join spec above pins all four)
    val deltaRows = cust.filter(col("c_custkey") % 13 === 0)
      .join(ord, col("c_custkey") === col("o_custkey")).count()
    assert(deltaRows > 0 && deltaRows < cust.join(ord,
      col("c_custkey") === col("o_custkey")).count())
  }

  test("rel_incremental_delete: negated summary-delta equals the " +
      "post-delete recompute; counts strictly shrink and never go " +
      "negative") {
    import org.apache.spark.sql.functions._
    val cust = Tables.customer(spark, sf)
    val ord = Tables.orders(spark, sf)
    val on = col("c_custkey") === col("o_custkey")
    val recompute = cust.join(ord.filter(col("o_orderkey") % 11 =!= 0), on)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(graft.functions.Fns.dec2(col("o_totalprice")))
          .cast("double").as("total_price"))
      .orderBy(col("c_mktsegment")).collect().toSeq
    val maintained = q("rel_incremental_delete").collect().toSeq
    assert(maintained == recompute,
      "counting-algorithm merge must equal the post-delete recompute")
    // the delete batch genuinely removed rows from every group it hit
    val before = cust.join(ord, on).groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = maintained.map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after.exists { case (k, v) => v < before(k) },
      "the fixture must exercise an actual deletion")
    assert(after.values.forall(_ > 0), "no group may go negative")
  }

  test("rel_incremental_topk: buffer-maintained top-k equals the full " +
      "recompute, the stored state is k-per-group bounded, and a delta " +
      "row genuinely enters the leaderboard") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val k = 5
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val recompute = ord
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= k)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rn")).collect().toSeq
    val maintained = q("rel_incremental_topk").collect().toSeq
    assert(maintained == recompute,
      "insert-monotone merge must equal the plain full-table top-k")
    // the stored artifact is k·groups-sized, never corpus-sized
    val base = ord.filter(col("o_orderkey") % 7 =!= 0)
    val nGroups = base.select(col("o_orderpriority")).distinct().count()
    val bufferRows = base.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).count()
    assert(bufferRows <= k * nGroups)
    assert(bufferRows < base.count(),
      "fixture degenerate: buffer must be smaller than the base corpus")
    // the merge is non-trivial: some delta row displaced a buffer row
    assert(maintained.exists(r => r.getLong(2) % 7 == 0),
      "no delta row reached the top-k — the merge was never exercised")
  }
}
