package graft

import org.scalacheck.{Gen, Prop, Properties}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ScalaCheck properties (SURVEY.md §5.3): order-insensitivity of the
  * exact-decimal aggregates, dedup idempotence, cosine-similarity math.
  * Spark jobs are expensive per case, so each property runs a bounded
  * number of cases over small generated inputs.
  */
object GraftProperties extends Properties("graft") {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(5)

  private val moneyGen: Gen[List[Double]] =
    Gen.listOfN(50, Gen.chooseNum(0, 999999).map(_ / 100.0))

  property("decimal sum is partition-order independent") =
    Prop.forAll(moneyGen) { xs =>
      xs.isEmpty || {
        import spark.implicits._
        val a = xs.toDF("v").repartition(7)
          .agg(sum(graft.functions.Fns.dec2($"v")).cast("double"))
          .collect()(0).getDouble(0)
        val b = xs.reverse.toDF("v").repartition(3)
          .agg(sum(graft.functions.Fns.dec2($"v")).cast("double"))
          .collect()(0).getDouble(0)
        a == b
      }
    }

  private val docGen: Gen[List[String]] =
    Gen.listOfN(8, Gen.listOfN(6,
      Gen.oneOf("the", "fox", "dog", "ran", "far", "joy")).map(_.mkString(" ")))

  property("exact dedup is idempotent") = Prop.forAll(docGen) { texts =>
    import spark.implicits._
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = graft.api.GraftPipelines.dedupExact(docs)
    val keepers = once.select($"keeper").as[Long].collect().toSet
    val again = graft.api.GraftPipelines.dedupExact(
      docs.filter($"doc_id".isin(keepers.toSeq: _*)))
    again.agg(max($"n_copies")).collect()(0).getLong(0) <= 1
  }

  // the pigeonhole behind llm_simhash_pairs: 4 blocks of 8 bits, probes
  // = block value ∪ one-bit flips; any pair within hamming 6 MUST agree
  // on some (block, probe) key, or the banded join would lose pairs.
  // Pure bit math — no Spark job, so run the full default case count.
  private val hammingPairGen: Gen[(Long, Long)] = for {
    base <- Gen.chooseNum(0L, 0xFFFFFFFFL)
    k <- Gen.chooseNum(0, 6)
    bits <- Gen.pick(k, 0 until 32)
  } yield (base, bits.foldLeft(base)((v, b) => v ^ (1L << b)))

  property("simhash one-bit multi-probe is lossless at hamming <= 6") =
    Prop.forAll(hammingPairGen) { case (a, b) =>
      def block(v: Long, i: Int): Long = (v >> (8 * i)) & 255L
      def probes(v: Long, i: Int): Set[Long] =
        Set(block(v, i)) ++ (0 until 8).map(j => block(v, i) ^ (1L << j))
      java.lang.Long.bitCount(a ^ b) > 6 ||
        (0 until 4).exists(i => probes(b, i).contains(block(a, i)))
    }

  private val vecGen: Gen[(List[Float], List[Float])] = for {
    a <- Gen.listOfN(8, Gen.chooseNum(-100, 100).map(_ / 100.0f))
    b <- Gen.listOfN(8, Gen.chooseNum(-100, 100).map(_ / 100.0f))
    if a.exists(_ != 0f) && b.exists(_ != 0f)
  } yield (a, b)

  // Random pair lists: both dupClusters paths (driver union-find under
  // the cap, star rounds above it) must agree with a reference
  // union-find on every component. Each list carries self-pairs, a
  // duplicate and a reversed edge, and a row with a null endpoint,
  // which no path may label.
  private val edgeGen: Gen[List[(Option[Long], Option[Long])]] = for {
    n <- Gen.chooseNum(2, 20)
    m <- Gen.chooseNum(1, 25)
    node = Gen.chooseNum(0L, n.toLong - 1)
    edges <- Gen.listOfN(m, Gen.zip(node, node))
    self <- node
    loose <- node
    nullFirst <- Gen.oneOf(true, false)
  } yield {
    val (a, b) = edges.head
    val withNull = if (nullFirst) (None, Some(loose)) else (Some(loose), None)
    (edges ++ Seq((a, b), (b, a), (self, self)))
      .map { case (x, y) => (Option(x), Option(y)) } :+ withNull
  }

  /** dupClusters at the default cap, at cap 0, and at caps of exactly
    * and one below the row count (driver path at exactly the cap, star
    * rounds one row above it) all equal the reference union-find, with
    * one output schema. */
  private def ccAgrees(rows: List[(Option[Long], Option[Long])]): Boolean = {
    import spark.implicits._
    val expected = referenceLabels(rows.collect {
      case (Some(a), Some(b)) => (a, b)
    })
    val pairs = rows.toDF("d1", "d2")
    val n = rows.size.toLong
    // (cap, whether that cap takes the driver path)
    val caps = Seq(None -> true, Some(0L) -> (n == 0L),
      Some(n) -> true, Some(n - 1) -> false)
    val runs = caps.map { case (cap, driver) =>
      val (out, rounds) = cap.fold(
        graft.api.GraftPipelines.dupClustersWithRounds(pairs))(c =>
        graft.api.GraftPipelines.dupClustersWithRounds(pairs, cap = c))
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1))
      (got.length == got.toMap.size && got.toMap == expected &&
        (rounds == 0) == driver, out.schema)
    }
    runs.forall(_._1) && runs.map(_._2).distinct.size == 1
  }

  /** Reference union-find: every node of `edges` → its component's
    * minimum id. */
  private def referenceLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // strict: find path-compresses into `parent`, and an update can
    // resize the map under a live key view, which then skips a key
    parent.keys.toList.map(x => x -> find(x)).toMap
  }

  // The first base graph of seed
  // aF6Jl4mGBLivtsxBFJyaO2IHfTR6-V2Y_cqMKsi5uLE=: 11 nodes, on which a
  // live-view read-off of referenceLabels lost node 19.
  private val seedGraph = List((0L, 12L), (0L, 10L), (14L, 10L), (6L, 0L),
    (15L, 0L), (10L, 1L), (8L, 0L), (1L, 0L), (13L, 19L), (19L, 6L),
    (12L, 1L), (0L, 12L), (12L, 0L), (9L, 9L))

  // empty input and the seed graph, checked once rather than once per
  // generated case
  private lazy val fixedAgrees = ccAgrees(Nil) &&
    ccAgrees(seedGraph.map { case (a, b) => (Some(a), Some(b)) })

  property("dupClusters matches a union-find reference on random graphs") =
    Prop.forAll(edgeGen)(rows => fixedAgrees && ccAgrees(rows))

  // One chain step's inputs: a base graph over edgeGen's nodes (0..19)
  // without repeated rows (a published pair set never has any), a
  // random subset of its nodes to delete, and new pairs that each have
  // a fresh endpoint (20..25) and touch no deleted node.
  private val chainGen = for {
    base <- edgeGen.map(_.collect { case (Some(a), Some(b)) => (a, b) }
      .distinct)
    nodes = base.flatMap { case (a, b) => Seq(a, b) }.distinct
    del <- Gen.someOf(nodes).map(_.toSet)
    live = nodes.filterNot(del)
    fresh = Gen.chooseNum(20L, 25L)
    k <- Gen.chooseNum(0, 6)
    added <- Gen.listOfN(k, Gen.zip(fresh,
        if (live.isEmpty) fresh else Gen.oneOf(fresh, Gen.oneOf(live)))
      .flatMap { case (a, b) => Gen.oneOf((a, b), (b, a)) })
  } yield (base, del, added)

  /** chainStep over a prior chain of `base` equals a rebuild over
    * (base minus every edge touching `del`) plus `added`: the labels
    * match the reference union-find and the pairs that edge set. Each
    * case runs twice: with the true row counts (the counted broadcasts)
    * and with counts above the cap (the unhinted joins). */
  private def chainStepAgrees(base: List[(Long, Long)], del: Set[Long],
      added: List[(Long, Long)]): Boolean = Seq(false, true).forall { over =>
    import spark.implicits._
    def rows(n: Int) =
      if (over) graft.api.GraftPipelines.BroadcastRowCap + 1 else n.toLong
    val (pairs, labels) = graft.operators.DedupOps.chainStep(spark,
      base.toDF("d1", "d2"), referenceLabels(base).toSeq
        .toDF("doc_id", "cluster_id"),
      (del.toSeq.toDF("del_id"), rows(del.size)),
      (added.toDF("d1", "d2"), rows(added.size)))
    val edges = base.filterNot { case (a, b) => del(a) || del(b) } ++ added
    val gotLabels = labels.as[(Long, Long)].collect()
    val gotPairs = pairs.as[(Long, Long)].collect()
    gotLabels.length == gotLabels.toMap.size &&
      gotLabels.toMap == referenceLabels(edges) &&
      gotPairs.length == gotPairs.toSet.size && gotPairs.toSet == edges.toSet
  }

  private lazy val seedStepAgrees =
    chainStepAgrees(seedGraph.distinct, Set(1L), Nil)

  property("chainStep equals a rebuild over the surviving and new pairs") =
    Prop.forAllNoShrink(chainGen) { case (base, del, added) =>
      seedStepAgrees && chainStepAgrees(base, del, added) &&
        chainStepAgrees(base, Set.empty, added) &&
        chainStepAgrees(base, del, Nil)
    }

  private val chunkGen: Gen[(Int, Int, Int)] = for {
    width <- Gen.chooseNum(1, 12)
    stride <- Gen.chooseNum(1, width)
    nWords <- Gen.chooseNum(1, 40)
  } yield (width, stride, nWords)

  property("chunking covers every word, respects width, stable keys") =
    Prop.forAll(chunkGen) { case (width, stride, nWords) =>
      import spark.implicits._
      val words = (1 to nWords).map(i => s"w$i")
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val chunks = graft.api.GraftPipelines
        .chunkDocuments(df, width, stride).collect()
        .map(r => r.getInt(1) -> r.getString(3)).toMap
      val nChunks = 1 + math.ceil(math.max(nWords - width, 0).toDouble / stride).toInt
      val covered = chunks.values.flatMap(_.split(" ")).toSet
      chunks.keySet == (0 until nChunks).toSet &&       // contiguous idx
        covered == words.toSet &&                        // full coverage
        chunks.values.forall(_.split(" ").length <= width) &&
        chunks.filter(_._1 < nChunks - 1)                // only the tail short
          .values.forall(_.split(" ").length == width)
    }

  private val corpusGen: Gen[List[String]] = {
    val word = Gen.oneOf("spark", "merge", "dup", "x", "y", "z")
    Gen.listOfN(8, Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))))
  }

  property("bm25 matches an independent in-memory reference") =
    Prop.forAll(corpusGen) { texts =>
      import spark.implicits._
      val terms = Seq("spark", "merge", "dup")
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // plain-Scala reference, same formula and operation order
      val n = docs.size.toDouble
      val words = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val avgdl = words.values.map(_.size.toLong).sum.toDouble / n
      val dfm = terms.map(t =>
        t -> docs.count { case (id, _) => words(id).contains(t) }.toDouble).toMap
      val expect = docs.map { case (id, _) =>
        val dl = words(id).size.toDouble
        id -> terms.map { t =>
          val tf = words(id).count(_ == t).toDouble
          val idf = (n - dfm(t) + 0.5) / (dfm(t) + 0.5)
          idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
        }.reduceLeft(_ + _)
      }.filter(_._2 > 0).toMap
      val got = api.GraftPipelines
        .bm25RationalIdf(docs.toDF("doc_id", "text"), terms, topK = 100)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      got.keySet == expect.keySet &&
        got.forall { case (id, s) => math.abs(s - expect(id)) < 1e-12 }
    }

  property("quantized components bounded, extreme hits ±127, norm ≥ max|x|") =
    Prop.forAll(vecGen) { case (a, _) =>
      import spark.implicits._
      val out = graft.api.GraftPipelines
        .quantizeEmbeddings(Seq((1L, a.toArray)).toDF("vec_id", "embedding"))
        .collect().head
      val q = out.getString(2).split(",").map(_.toLong)
      val maxAbs = a.map(x => math.abs(x.toDouble)).max
      q.forall(v => v >= -127 && v <= 127) &&
        q.exists(v => math.abs(v) >= 126) && // the max-|x| component
        out.getDouble(1) >= maxAbs - 1e-9    // l2norm dominates any |x_i|
    }

  property("temperature rates: bigger sources get smaller keep rates") =
    Prop.forAll(Gen.listOfN(3, Gen.chooseNum(5, 60))) { sizes =>
      import spark.implicits._
      val docs = sizes.zipWithIndex.flatMap { case (n, s) =>
        (0 until n).map(i => (s * 1000L + i, s"src$s", "text"))
      }.toDF("doc_id", "source", "text")
      val rates = graft.api.GraftPipelines.temperatureMix(docs).collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
          r.getAs[Long]("rate_ppm"))).toMap
      val byN = rates.values.toSeq.sortBy(_._1)
      byN.zip(byN.tail).forall { case ((n1, r1), (n2, r2)) =>
        (n1 == n2 && r1 == r2) || (n1 < n2 && r1 >= r2)
      } && rates.values.map(_._2).max == 1000000L // smallest keeps all
    }

  private val overlapDocsGen: Gen[List[(Long, String)]] = for {
    nDocs <- Gen.chooseNum(2, 5)
    docs <- Gen.listOfN(nDocs, Gen.chooseNum(3, 20).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("substringOverlap matches a brute-force reference (n=3)") =
    Prop.forAll(overlapDocsGen) { docs =>
      import spark.implicits._
      val n = 3
      // brute force: every stride-1 3-gram per doc with its position
      val grams = docs.map { case (id, t) =>
        val w = t.split(" ")
        id -> w.sliding(n).map(_.mkString(" ")).zipWithIndex.toList
      }.toMap
      val sharedSet = grams.toList
        .flatMap { case (id, gs) => gs.map(g => (g._1, id)) }
        .groupBy(_._1).collect { case (g, xs)
          if xs.map(_._2).distinct.size > 1 => g }.toSet
      val expected = grams.collect { case (id, gs) if gs.nonEmpty =>
        val hitIdx = gs.collect { case (g, i) if sharedSet(g) => i }
        val runs = hitIdx.foldLeft(List.empty[Int]) { (acc, i) =>
          if (acc.nonEmpty && hitIdx.contains(i - 1)) (acc.head + 1) :: acc.tail
          else 1 :: acc
        }
        id -> (gs.size, hitIdx.size.toLong,
          if (runs.isEmpty) 0L else runs.max.toLong + (n - 1))
      }
      val got = graft.api.GraftPipelines
        .substringOverlap(docs.toDF("doc_id", "text"), n).collect()
        .map(r => r.getLong(0) -> (r.getAs[Int]("n_grams"),
          r.getAs[Long]("n_shared"), r.getAs[Long]("max_dup_words"))).toMap
      got == expected
    }

  property("cosine symmetric, bounded, self-sim ≈ 1") =
    Prop.forAll(vecGen) { case (a, b) =>
      import spark.implicits._
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val r = df.select(
        graft.api.GraftPipelines.cosine($"a", $"b").as("ab"),
        graft.api.GraftPipelines.cosine($"b", $"a").as("ba"),
        graft.api.GraftPipelines.cosine($"a", $"a").as("aa"))
        .collect()(0)
      val (ab, ba, aa) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      ab == ba && ab >= -1.0000001 && ab <= 1.0000001 &&
        math.abs(aa - 1.0) < 1e-9
    }

  // Two random versions of a keyed table: keys 0..11, each present in
  // old/new independently, values drawn small so collisions (unchanged
  // rows) actually occur and exercise the <=> drop path. Some values
  // null to exercise null-safe comparison.
  private val versionGen: Gen[(List[(Long, Option[Int], String)],
      List[(Long, Option[Int], String)])] = {
    val rowGen = for {
      v <- Gen.option(Gen.chooseNum(0, 3))
      s <- Gen.oneOf("a", "b")
    } yield (v, s)
    val tableGen = Gen.sequence[List[Option[(Option[Int], String)]],
        Option[(Option[Int], String)]](
      (0L until 12L).map(_ => Gen.option(rowGen)).toList)
      .map(_.zipWithIndex.collect {
        case (Some((v, s)), k) => (k.toLong, v, s)
      })
    for { o <- tableGen; n <- tableGen } yield (o, n)
  }

  property("snapshotDiff → replay reproduces the new version exactly") =
    Prop.forAll(versionGen) { case (oldRows, newRows) =>
      import spark.implicits._
      val vOld = oldRows.toDF("k", "v", "s")
      val vNew = newRows.toDF("k", "v", "s")
      val diff = graft.api.GraftPipelines
        .snapshotDiff(vOld, vNew, Seq("k")).collect()
      val oldMap = oldRows.map(r => r._1 -> ((r._2, r._3))).toMap
      val newMap = newRows.map(r => r._1 -> ((r._2, r._3))).toMap
      val replayed = diff.foldLeft(oldMap) { (acc, r) =>
        val k = r.getLong(0)
        r.getString(1) match {
          case "D" => acc - k
          case _ => acc + (k ->
            ((Option(r.get(3)).map(_.asInstanceOf[Int]), r.getString(5))))
        }
      }
      // inverse property + minimality (every emitted row is a change)
      replayed == newMap && diff.forall { r =>
        r.getString(1) match {
          case "I" => !oldMap.contains(r.getLong(0))
          case "D" => !newMap.contains(r.getLong(0))
          case "U" => oldMap(r.getLong(0)) != newMap(r.getLong(0))
          case _ => false
        }
      }
    }

  // random docs over a tiny alphabet so shingle collisions are common —
  // the hard case for the prefix/positional/size prunes
  private val ppDocGen: Gen[List[String]] =
    Gen.listOfN(10, Gen.choose(3, 9).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))))

  property("ppjoinPairs is lossless vs brute force at θ=1/2 and θ=1/3") =
    Prop.forAll(ppDocGen) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val sets = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      }
      Seq((1, 2), (1, 3)).forall { case (num, den) =>
        val got = graft.api.GraftPipelines.ppjoinPairs(docs, num, den)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
          .toSet
        val want = (for {
          (a, sa) <- sets; (b, sb) <- sets if a < b
          inter = (sa & sb).size
          if inter * (num + den) >= (sa.size + sb.size) * num
        } yield (a, b, inter.toLong)).toSet
        got == want
      }
    }

  private val countsGen: Gen[List[Int]] =
    Gen.listOfN(6, Gen.choose(1, 40))

  property("budgetWaterfill: exact budget, supply bounds, max-min fairness") =
    Prop.forAll(countsGen, Gen.choose(1, 150)) { (ns, b) =>
      import spark.implicits._
      val counts = ns.zipWithIndex
        .map { case (n, i) => (s"s$i", n.toLong) }.toDF("source", "n")
      val total = ns.map(_.toLong).sum
      val budget = math.min(b.toLong, total)
      val rows = graft.api.GraftPipelines
        .budgetWaterfill(counts, Seq(budget).toDF("budget")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      val allocs = rows.map(_._4)
      // exact budget when feasible, never exceed supply, and max-min
      // fairness: every capped stratum's alloc ≥ any smaller stratum's
      val sumOk = allocs.sum == budget
      val boundOk = rows.forall { case (_, n, _, a) => a <= n && a >= 0 }
      val cappedAllocs = rows.filter(_._3 == 1).map(_._4)
      val fairOk = cappedAllocs.isEmpty ||
        rows.filter(_._3 == 0).forall(_._4 <= cappedAllocs.max)
      sumOk && boundOk && fairOk
    }
}
