package graft.tools

import graft.core.Sessions

/** Dev audit: per-query physical-plan stats — join strategies, exchange
  * count, scan column width — the things that must look right before a
  * 100x scale-up. Usage: runMain graft.tools.PlanAudit [sfDir]
  * Exits non-zero when any query fails to plan.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.build("plan-audit")
    val failed = graft.SparkEntry.registry.count { q =>
      try {
        val df = q.fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).size
        println(f"AUDIT ${q.name}%-36s bhj=${n("BroadcastHashJoin")}%2d smj=${n("SortMergeJoin")}%2d " +
          f"nlj=${n("BroadcastNestedLoopJoin")}%2d exch=${n("Exchange")}%2d " +
          f"sort=${n("[+-] Sort ")}%2d scans=${n("Scan parquet")}%2d wsc=${n("\\*\\(\\d+\\)")}%2d")
        false
      } catch {
        case e: Throwable =>
          println(s"AUDIT ${q.name} ERROR ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(80)}")
          true
      } finally spark.catalog.clearCache() // eager() caches build during fn()
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[plan-audit] $failed of ${graft.SparkEntry.registry.size} queries failed")
      sys.exit(1)
    }
  }
}
