package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Drill.{Fault, verdict}

/** The executor-loss drill's verdict: a PASS needs a kill that landed
  * while the faulted run was in flight and cost it tasks, and a result
  * that hashes like the clean run's. */
class DrillSpec extends AnyFunSuite {

  private val hit = Fault(killedPid = Some(4242L), killedAt = 1000L,
    finishedAt = 5000L, execsRemoved = 1, lostTasks = 3)

  test("a kill that cost the run tasks and left the hash unchanged passes") {
    assert(verdict("17", Right("17"), hit).isEmpty)
  }

  test("a kill after the query finished is rejected") {
    // the removed event still arrives, but no task of the run was lost
    val late = hit.copy(killedAt = 6000L, lostTasks = 0)
    assert(verdict("17", Right("17"), late) ==
      Seq("kill landed after the run finished", "no task lost to the kill"))
  }

  test("a diverged hash is rejected") {
    assert(verdict("17", Right("18"), hit) == Seq("hash 18 != clean 17"))
  }

  test("no kill, no removed event, or a failed run is rejected") {
    val missed = Fault(None, Long.MaxValue, 5000L, 0, 0)
    assert(verdict("17", Right("17"), missed) == Seq("no executor killed",
      "no executor-removed event", "no task lost to the kill"))
    assert(verdict("17", Right("17"), hit.copy(execsRemoved = 0)) ==
      Seq("no executor-removed event"))
    assert(verdict("17", Left("Checkpoint block rdd_3_0 not found"), hit) ==
      Seq("faulted run failed: Checkpoint block rdd_3_0 not found"))
  }
}
