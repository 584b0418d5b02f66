package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class FixtureGuardSpec extends AnyFunSuite {
  test("a graft_* fixture created during the call trips the guard") {
    val dir = Files.createTempDirectory("guard").toFile
    new java.io.File(dir, "graft_old_index_1").mkdir()
    val guard = new FixtureGuard(Seq(dir))
    val before = guard.snapshot()
    // the "timed call": builds a fixture mid-call, plus an unrelated dir
    new java.io.File(dir, "graft_ppjoin_index_abc").mkdir()
    new java.io.File(dir, "unrelated").mkdir()
    assert(guard.created(before).map(new java.io.File(_).getName) ==
      Seq("graft_ppjoin_index_abc"))
  }

  test("a call that builds nothing passes, and a missing dir is empty") {
    val dir = Files.createTempDirectory("guard").toFile
    val guard = new FixtureGuard(Seq(dir, new java.io.File(dir, "absent")))
    val before = guard.snapshot()
    assert(guard.created(before).isEmpty)
  }

  test("with an empty prefix every new entry trips the guard") {
    val dir = Files.createTempDirectory("warehouse").toFile
    val guard = new FixtureGuard(Seq(dir), "")
    val before = guard.snapshot()
    new java.io.File(dir, "cust_bkt_1").mkdir()
    assert(guard.created(before).map(new java.io.File(_).getName) == Seq("cust_bkt_1"))
  }
}
