package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.api.GraftPipelines
import graft.streaming.EventStreaming

/** Executes one benchmark run from a plan file and writes its raw record.
  *
  * Usage: `Harness <plan file> <result file>`. The JSON plan (written by
  * `perfbench/run.py`) names the workload, the corpus, the run directory,
  * the set-up entries and the timed operations in their seeded order.
  * Every layer is timed from outside the engine: the harness calls only
  * public entry points (`SparkEntry.queries`, the action on the returned
  * DataFrame, `EventStreaming.upsertLoop` triggers) and, when tracing,
  * attaches Spark's public listeners.
  */
object Harness {

  /** The plan: a JSON object written by `perfbench/run.py`. */
  final case class Plan(node: JsonNode) {
    def apply(k: String): String = node.get(k).asText
    def list(k: String): Seq[JsonNode] =
      Option(node.get(k)).toSeq.flatMap(_.elements().asScala)
    def strings(k: String): Seq[String] = list(k).map(_.asText)
  }

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def nowS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The SparkSession configuration of `graft.Bench.main`, at this
    * machine's core count, with the run's own scratch directories. */
  def sessionConf(cores: Int, run: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> new File(run, "local").getPath,
    "spark.sql.warehouse.dir" -> new File(run, "warehouse").getPath)

  def main(args: Array[String]): Unit = {
    val plan = Plan(mapper.readTree(new File(args(0))))
    val resultPath = args(1)
    val run = new File(plan("rundir"))
    val cores = plan("cores").toInt
    val traced = plan("trace") == "1"
    val workload = plan("workload")
    val corpus = plan("corpus")
    val deadlineNs = System.nanoTime() + (plan("deadline_s").toDouble * 1e9).toLong
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()

    // ---- set-up, once, timed from process start: session, write-once
    // fixtures, and for `maintain` the store bootstrap trigger
    val tmp = new File(sys.props("java.io.tmpdir"))
    val warehouse = new File(run, "warehouse")
    val t0 = System.nanoTime()
    val b = SparkSession.builder()
    sessionConf(cores, run).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(run, "ckpt").getPath)
    val tracer = if (traced) { val t = new Tracer; t.attach(spark); t } else null
    val sessionS = nowS(t0)
    val tf = System.nanoTime()
    // write-once fixtures: `graft_*` directories in java.io.tmpdir, and
    // tables (rel_join_bucketed) in the run's warehouse
    val guards = Seq(new FixtureGuard(Seq(tmp)), new FixtureGuard(Seq(warehouse), ""))
    val fixBefore = guards.map(_.snapshot())
    plan.strings("fixtures").foreach(n => runEntry(spark, n, corpus))
    val fixtures = guards.zip(fixBefore).map { case (g, s) => g.created(s).size }.sum
    val fixtureS = nowS(tf)
    val tb = System.nanoTime()
    val stream = if (workload == "maintain")
      Some(new Maintain(spark, corpus, new File(run, "state").getPath, plan))
      else None
    val bootS = nowS(tb)
    out("setup") = Map(
      "total_s" -> (System.currentTimeMillis() - plan("launch_ms").toLong) / 1e3,
      "session_s" -> sessionS, "fixture_s" -> fixtureS, "fixtures" -> fixtures,
      "bootstrap_s" -> bootS)
    out("config") = (sessionConf(cores, run).filterNot {
        case (k, _) => k.endsWith(".dir") } ++
      Seq("jvm.heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
        "jvm.args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.filter(_.startsWith("-X")).mkString(" ")))
      .toMap

    // ---- timed region: a closed loop with one client
    val ops = ArrayBuffer[Map[String, Any]]()
    val results = ArrayBuffer[Seq[Row]]()
    if (traced) tracer.drain(spark)
    val c0 = Tracer.counters()
    val dataBefore = fileSet(run)
    val startMs = System.currentTimeMillis()
    val tr0 = System.nanoTime()
    val opNames = if (workload == "maintain")
      plan.list("triggers").indices.map(i => s"trigger$i")
      else plan.strings("ops")
    opNames.zipWithIndex.foreach { case (name, idx) =>
      if (System.nanoTime() < deadlineNs) {
        val cBefore = if (traced) Tracer.counters() else Map.empty[String, Long]
        val before = guards.map(_.snapshot())
        val opStartMs = System.currentTimeMillis()
        val s0 = System.nanoTime()
        var buildEnd = s0
        var buildEndMs = opStartMs
        var rows: Seq[Row] = Seq.empty
        val err: Option[String] =
          try {
            stream match {
              case Some(m) =>
                buildEnd = System.nanoTime(); buildEndMs = System.currentTimeMillis()
                m.trigger(idx)
              case None =>
                val df = SparkEntry.queries(name)(spark, corpus)
                buildEnd = System.nanoTime(); buildEndMs = System.currentTimeMillis()
                rows = df.collect().toSeq
            }
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val s1 = System.nanoTime()
        val opEndMs = System.currentTimeMillis()
        val created = guards.zip(before).flatMap { case (g, s) => g.created(s) }
        val cAfter = if (traced) Tracer.counters() else Map.empty[String, Long]
        if (stream.isEmpty) spark.catalog.clearCache()
        results += rows
        ops += Map("id" -> idx, "name" -> name,
          "start_ms" -> opStartMs, "build_end_ms" -> buildEndMs, "end_ms" -> opEndMs,
          "wall_s" -> (s1 - s0) / 1e9, "build_s" -> (buildEnd - s0) / 1e9,
          "error" -> err.orNull, "fixtures_created" -> created,
          "counters" -> cAfter.map { case (k, v) => k -> (v - cBefore(k)) })
      }
    }
    val wallS = nowS(tr0)
    val endMs = System.currentTimeMillis()
    out("wall_s") = wallS
    out("timed_start_ms") = startMs
    out("timed_end_ms") = endMs
    out("planned") = opNames.size
    out("files_written") = (fileSet(run) -- dataBefore).size
    if (traced) {
      tracer.drain(spark)
      val c1 = Tracer.counters()
      out("counters") = c1.map { case (k, v) => k -> (v - c0(k)) }
      out("trace") = tracer.toJson
    }

    // ---- checks, outside the timed region
    stream match {
      case Some(m) =>
        out("maintain") =
          try m.finish()
          catch { case e: Throwable =>
            Map("clusters_match" -> false, "error" -> e.toString,
              "live_docs" -> 0, "state_bytes" -> 0, "state_files" -> 0)
          }
      case None =>
        out("digests") = ops.zip(results).map { case (op, rows) =>
          if (op("error") != null) null else Digest.of(rows)
        }
        if (plan("record") == "1") {
          opNames.distinct.foreach { n =>
            SparkEntry.queries(n)(spark, corpus).write.mode("overwrite")
              .parquet(new File(run, s"out/$n").getPath)
          }
          mapper.writeValue(new File(run, "oracle_sql.json"),
            SparkEntry.oracleSql.filter { case (k, _) => opNames.contains(k) })
        }
    }
    out("ops") = ops.toSeq
    mapper.writeValue(new File(resultPath), out.toMap)
    spark.stop()
  }

  /** Builds and runs an entry to completion, as in the timed loop. */
  def runEntry(spark: SparkSession, name: String, corpus: String): Unit = {
    SparkEntry.queries(name)(spark, corpus).collect()
    spark.catalog.clearCache()
  }

  /** Every file path under `root`, skipping Spark's block-manager dirs. */
  def fileSet(root: File): Set[String] = {
    val acc = Set.newBuilder[String]
    def walk(f: File): Unit = Option(f.listFiles()).toSeq.flatten.foreach { c =>
      if (c.isDirectory) { if (!c.getName.startsWith("local")) walk(c) }
      else acc += c.getPath
    }
    walk(root)
    acc.result()
  }

  /** Bytes and file count under a directory. */
  def dirSize(root: File): (Long, Int) = {
    var bytes = 0L
    var files = 0
    def walk(f: File): Unit = Option(f.listFiles()).toSeq.flatten.foreach { c =>
      if (c.isDirectory) walk(c) else { bytes += c.length; files += 1 }
    }
    walk(root)
    (bytes, files)
  }

  /** The `maintain` workload: an `EventStreaming.upsertLoop` query over a
    * store bootstrapped from the plan's seed documents, fed one seeded
    * batch of fresh adds and deletes per trigger. */
  final class Maintain(spark: SparkSession, corpus: String, statePath: String,
      plan: Plan) {
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val texts: Map[Long, String] =
      spark.read.parquet(s"$corpus/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect().toMap
    private def ids(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq
    private val seedIds = ids(plan.node.get("maintain_seed"))
    private val batches = plan.list("triggers").map(t => (ids(t.get("adds")), ids(t.get("dels"))))
    private val mem = MemoryStream[(String, Long, String)]
    private val query: StreamingQuery = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"), statePath)()
    private var fed = 0
    feed(seedIds, Seq.empty)

    private def feed(adds: Seq[Long], dels: Seq[Long]): Unit = {
      mem.addData(adds.map(i => ("add", i, texts(i))) ++
        dels.map(i => ("del", i, null: String)): _*)
      query.processAllAvailable()
      query.exception.foreach(e => throw e)
    }

    def trigger(i: Int): Unit = {
      val (a, d) = batches(i)
      feed(a, d)
      fed = i + 1
    }

    def stop(): Unit = query.stop()

    /** Stops the stream and checks the maintained cluster map against a
      * batch rebuild over (seed - deletes) + adds. */
    def finish(): Map[String, Any] = {
      stop()
      val applied = batches.take(fed)
      val live = (seedIds.toSet -- applied.flatMap(_._2)) ++ applied.flatMap(_._1)
      val chain = new File(statePath, "chain")
      val gens = Option(chain.list()).toSeq.flatten.filter(_.startsWith("g="))
        .map(_.stripPrefix("g=").toLong)
      val stream = spark.read.parquet(s"${chain.getPath}/g=${gens.max}/labels")
        .as[(Long, Long)].collect().toMap
      val docs = live.toSeq.sorted.map(i => (i, texts(i), "en", "s0", texts(i).length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val twin = GraftPipelines.dupClusters(GraftPipelines.nearDuplicates(docs, 0.7))
        .as[(Long, Long)].collect().toMap
      val (bytes, files) = dirSize(new File(statePath))
      Map("triggers" -> fed, "live_docs" -> live.size, "labels" -> stream.size,
        "clusters_match" -> (stream == twin), "state_bytes" -> bytes,
        "state_files" -> files)
    }
  }
}
