package perfbench

import java.io.File

/** Detects a write-once fixture built inside a timed call.
  *
  * The engine keys write-once fixtures into `java.io.tmpdir`
  * (`graft_*` directories) and, for bucketed tables, into the Spark
  * warehouse. The benchmark builds all of them during set-up; a timed
  * call that still creates one has moved set-up work into the
  * measurement, and that operation is failed. Only entries whose name
  * starts with `prefix` count; an empty prefix watches every entry.
  */
final class FixtureGuard(dirs: Seq[File], prefix: String = "graft_") {

  def snapshot(): Set[String] = dirs.flatMap { d =>
    Option(d.list()).toSeq.flatten.filter(_.startsWith(prefix))
      .map(n => new File(d, n).getPath)
  }.toSet

  /** Fixtures that exist now but not in `before`. */
  def created(before: Set[String]): Seq[String] =
    (snapshot() -- before).toSeq.sorted
}
