package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef,
  LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.graftbridge.Bridge

import graft.sources.GraftIO

/** The analyzed-plan memo behind [[SparkEntry.queries]]: a repeat visit
  * of an entry gets a fresh DataFrame over the analyzed plan its last
  * build produced, instead of running the builder (and re-analyzing
  * its plan) again. An interactive browse re-opens the same views;
  * what a repeat paid for was re-deriving an unchanged plan. Only the
  * plan is kept, never rows: every served visit optimizes, plans and
  * runs all of its jobs afresh. [[Tables.read]] is the layer below it,
  * for the visits that do build.
  *
  *  - Admission: a build's plan is stored only if the build scheduled
  *    no Spark job (a job tag on the build, read back from the status
  *    store once the listener bus has drained), every expression in it
  *    is deterministic, and every leaf is a file scan, local rows, a
  *    range or a CTE reference. A builder that collects a value,
  *    checkpoints or writes a fixture is built again on every visit
  *    until it builds without a job; an RDD, JDBC or other source leaf
  *    carries no stamp, so it is never stored.
  *  - Key: the session and the entry name. The stored value carries
  *    the corpus dir, a snapshot of `spark.conf.getAll` and the stamps;
  *    a visit with another dir or conf builds and replaces it, so a
  *    session holds at most one plan per entry.
  *  - Validity: every visit re-takes the [[GraftIO.stamp]] of the
  *    corpus dir (taken before the build, so a write racing the build
  *    invalidates it) and of every file-scan root outside it (write-once
  *    fixtures, warehouse tables), and serves only when none changed.
  *    The corpus-dir stamp also covers what the plan cannot name: a
  *    fixture path keyed on a corpus table's mtime.
  */
object PlanMemo {
  private final case class Key(spark: SparkSession, name: String)
  private final case class Stored(dir: String, confs: Map[String, String],
      stamps: Seq[(Path, GraftIO.Stamp)], plan: LogicalPlan)
  private val memo = new ConcurrentHashMap[Key, Stored]()
  private val tags = new AtomicLong

  private def stamp(spark: SparkSession, p: Path): GraftIO.Stamp =
    GraftIO.stamp(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)

  /** `build` served through the memo under the entry `name`. */
  def apply(name: String, build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (spark, dir) => {
    val key = Key(spark, name)
    val confs = spark.conf.getAll
    val hit = memo.get(key)
    if (hit != null && hit.dir == dir && hit.confs == confs &&
        hit.stamps.forall { case (p, s) => stamp(spark, p) == s })
      Bridge.ofRows(spark, hit.plan)
    else {
      val dirPath = new Path(dir)
      val dirStamp = stamp(spark, dirPath)
      val sc = spark.sparkContext
      val tag = s"graft-plan-memo-${tags.incrementAndGet()}"
      sc.addJobTag(tag)
      val df = try build(spark, dir) finally sc.removeJobTag(tag)
      val plan = df.queryExecution.analyzed
      if (storable(plan) && Bridge.drainListenerBus(sc) &&
          sc.statusTracker.getJobIdsForTag(tag).isEmpty) {
        val under = dirPath.getFileSystem(sc.hadoopConfiguration)
          .makeQualified(dirPath).toString + "/"
        val roots = fileRoots(plan).filterNot(_.toString.startsWith(under))
        memo.put(key, Stored(dir, confs,
          (dirPath -> dirStamp) +: roots.map(r => r -> stamp(spark, r)), plan))
      } else memo.remove(key)
      df
    }
  }

  /** Whether a plan for `name` is stored for `spark`. */
  private[graft] def stored(spark: SparkSession, name: String): Boolean =
    memo.containsKey(Key(spark, name))

  private def nodes(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collectWithSubqueries { case p => p }

  private def storable(plan: LogicalPlan): Boolean =
    plan.deterministic && nodes(plan).forall { p =>
      p.expressions.forall(_.deterministic) && (p.children.nonEmpty ||
        (p match {
          case lr: LogicalRelation => lr.relation.isInstanceOf[HadoopFsRelation]
          case _: LocalRelation | _: Range | _: OneRowRelation |
              _: CTERelationRef => true
          case _ => false
        }))
    }

  private def fileRoots(plan: LogicalPlan): Seq[Path] =
    nodes(plan).flatMap {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths
        case _ => Nil
      }
      case _ => Nil
    }.distinct
}
