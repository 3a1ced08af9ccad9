package graft.bench

import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {

  test("an injected failing operation is recorded as failed and keeps no time") {
    val recs = Loop.run(seconds = 60, limit = 3) { i =>
      Loop.timed(i) {
        if (i == 1) throw new IllegalStateException("injected")
        Thread.sleep(5)
      }
    }
    assert(recs.map(_.index) == Vector(0, 1, 2))
    assert(recs.map(_.ok) == Vector(true, false, true))
    assert(recs(1).wallS.isEmpty)
    assert(recs(1).error.exists(_.contains("injected")))
    assert(recs.filter(_.ok).forall(_.wallS.exists(_ >= 0.005)))
  }

  test("the loop starts no cycle that would end after the deadline") {
    val t0 = System.nanoTime()
    val recs = Loop.run(seconds = 0.1, limit = 1000) { i =>
      Loop.timed(i)(Thread.sleep(20))
    }
    assert(recs.size >= 3 && recs.size <= 5)
    assert((System.nanoTime() - t0) / 1e9 < 0.1 + 0.03)
  }

  test("the first cycle runs even when it is longer than the run") {
    val recs = Loop.run(seconds = 0.001, limit = 10)(i => Loop.timed(i)(Thread.sleep(20)))
    assert(recs.size == 1 && recs.head.ok)
  }

  test("the loop runs whole cycles only") {
    val one = Loop.run(seconds = 0.001, limit = 100, cycle = 3)(i => Loop.timed(i)(Thread.sleep(5)))
    assert(one.map(_.index) == Vector(0, 1, 2))
    val capped = Loop.run(seconds = 60, limit = 7, cycle = 3)(i => Loop.timed(i)(()))
    assert(capped.map(_.index) == (0 until 6).toVector)
  }

  test("a call site yields its repository frames, innermost first") {
    val site =
      """org.apache.spark.sql.Dataset.count(Dataset.scala:1499)
        |graft.core.Caching$.eagerCounted(Caching.scala:58)
        |graft.llm.Admission$.auditWithFps(Admission.scala:58)
        |graft.bench.AdmissionService.op(Workloads.scala:101)""".stripMargin
    assert(Attribution.frames(site) == Seq(("core", "Caching.scala"),
      ("llm", "Admission.scala"), ("bench", "Workloads.scala")))
    assert(Attribution.frames("org.apache.spark.rdd.RDD.collect(RDD.scala:1)").isEmpty)
    assert(Attribution.frames("graft.Verify$.main(Verify.scala:30)") == Seq(("graft", "Verify.scala")))
  }
}
