package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  private def plan(expr: Int, planId: Int, rdd: Int, hash: String, dir: String) =
    s"""(5) Scan ExistingRDD
       |Output [2]: [qid#${expr}L, qvec#${expr + 1}]
       |Arguments: [qid#${expr}L, qvec#${expr + 1}], MapPartitionsRDD[$rdd] at localCheckpoint at IvfIndex.scala:${rdd % 97}, ExistingRDD
       |Arguments: IdentityBroadcastMode, [plan_id=$planId]
       |Output [1]: [sq8_asymmetric_l2(sq#${expr + 2}, qvec#${expr + 1}, [F@$hash) AS __score#${expr + 3}]
       |Location: InMemoryFileIndex [file:/tmp/$dir/base/v=1000]""".stripMargin

  test("normalized dumps of one plan from two runs are equal") {
    val a = PlanDump.normalize(plan(579, 11226, 270, "652ca38a", "graft_entry_ivf_pq6843375993528450530"))
    val b = PlanDump.normalize(plan(12, 81, 3, "7af5ecb4", "graft_entry_ivf_pq4664153560061558426"))
    assert(a === b)
    assert(a.contains("qid#1L, qvec#2") && a.contains("MapPartitionsRDD[1] at localCheckpoint, "))
    assert(a.contains("[plan_id=1]") && a.contains("[F) AS") && a.contains("/tmp/graft_entry_ivf_pq/"))
    // a changed plan still differs
    assert(PlanDump.normalize(plan(12, 81, 3, "7af5ecb4", "graft_entry_ivf_sq8123456789/x")) !== b)
  }
}
