package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.core.Sessions

/** Dev tool: write each registered query's `.explain("formatted")`
  * physical plan to `<outDir>/<name>_<tag>.txt` — the round's
  * before/after plan evidence (plans/rNN/). Usage:
  *   runMain graft.tools.DumpPlans <outDir> <tag> [sfDir] [nameFilter...]
  * With no filters, dumps every registered query. Exits non-zero when
  * any picked query fails to plan, so a broken dump never passes for
  * evidence.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DumpPlans <outDir> <tag> [sfDir] [nameFilter...]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val filters = args.drop(3)
    Files.createDirectories(outDir)
    val spark = Sessions.build("dump-plans")
    val picked =
      if (filters.isEmpty) graft.SparkEntry.registry
      else graft.SparkEntry.registry.filter(q => filters.exists(q.name.contains))
    val failed = picked.count { q =>
      try {
        val df = q.fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${q.name}_$tag.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"[dump-plans] wrote ${q.name}_$tag.txt")
        false
      } catch {
        case e: Throwable =>
          println(s"[dump-plans] ${q.name} ERROR ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(120))
          true
      } finally spark.catalog.clearCache()
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[dump-plans] $failed of ${picked.size} queries failed")
      sys.exit(1)
    }
  }
}
