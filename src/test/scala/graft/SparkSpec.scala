package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession + fixture helpers for all specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Write a micro-fixture table set into a temp sfDir-shaped directory. */
  def tempSfDir(tables: (String, DataFrame)*): String = {
    val dir = Files.createTempDirectory("graft_fixture").toString
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  def q(name: String, dir: String = sf): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** `body`'s result and the `spark.job.description` of every job
    * started while it ran, from any thread, in start order. Listener
    * delivery is asynchronous, so a sentinel job before and after
    * `body` marks the points by which every earlier job start has been
    * delivered.
    */
  def jobDescriptions[T](body: => T): (Seq[String], T) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def drain(): Seq[String] = {
      val tag = s"sentinel-${java.util.UUID.randomUUID()}"
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(0), 1).count() // exactly one job
      finally sc.setJobDescription(null)
      Iterator.continually(
          seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(d => { assert(d != null, "sentinel never delivered"); d })
        .takeWhile(_ != tag).toSeq
    }
    sc.addSparkListener(listener)
    try {
      drain()
      val out = body
      (drain(), out)
    } finally sc.removeSparkListener(listener)
  }
}
