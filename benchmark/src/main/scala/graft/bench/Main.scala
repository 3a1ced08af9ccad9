package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.core.Sessions

/** The benchmark's JVM side: builds the session, sets the workload up,
  * runs its warm-up and then its timed operations for `--seconds`, and
  * writes everything measured to `--result` as one JSON object.
  * Correctness is checked afterwards by the caller (`run.py`), against
  * DuckDB; this side only records what each operation produced.
  *
  * Arguments: --workload ads_nightly|admission_service
  * --input <dir> --work <dir> --seconds <s> --trace 0|1 --result <file>
  * --launch-ms <epoch ms at which the caller started this JVM>
  */
object Main {
  val AdmissionOracle = "q98_incremental_admission"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val input = args("input")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val launchMs = args("launch-ms").toLong

    val spark = Sessions.build("graft-bench")
    val sessionMs = System.currentTimeMillis()
    val tracer = new Tracer(spark)
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val (wl, oracleRows): (Workload, Seq[String]) = workload match {
      case "ads_nightly" =>
        val rows = graft.queries.AdsPipelines.all
        (new AdsNightly(spark, tracer, input, work, rows), rows.map(_.name))
      case "admission_service" =>
        (new AdmissionService(spark, tracer, input, work, batchSize = 10,
          compactEvery = 4), Seq(AdmissionOracle))
      case other => sys.error(s"unknown workload $other")
    }

    def timedS[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val (setupS, setupInfo) = timedS(tracer.setupSpan(trace, "bench", "setup")(wl.setup()))
    val warm = (1 to wl.warmups).map(w => timedS(wl.op(-w)))
    System.gc()

    var infos = Map.empty[Int, Map[String, String]]
    var counters = Map.empty[Int, Map[String, Double]]
    val ops = Loop.run(seconds, wl.limit, wl.cycle) { i =>
      tracer.begin(i, trace)
      val rec = Loop.timed(i) {
        infos += i -> tracer.span("bench", "op")(wl.op(i))
      }
      counters += i -> tracer.end()
      // a full GC between operations, as graft.Bench does between
      // queries: no operation pays for the previous one's garbage
      System.gc()
      rec
    }
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    if (trace) tracer.write(s"$work/spans.jsonl")

    def strMap(m: Map[String, String]) = Json.obj(m.map { case (k, v) => k -> Json.str(v) })
    val opsJson = ops.map { r =>
      Json.obj(Seq(
        "i" -> r.index.toString,
        "ok" -> r.ok.toString,
        "wall_s" -> r.wallS.map(Json.num).getOrElse("null"),
        "error" -> r.error.map(Json.str).getOrElse("null"),
        "info" -> strMap(infos.getOrElse(r.index, Map.empty)),
        "counters" -> Json.obj(counters.getOrElse(r.index, Map.empty)
          .map { case (k, v) => k -> Json.num(v) })))
    }
    val oracles = oracleRows.map(n => n -> Json.str(registry(n).oracle.get))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cores" -> Sessions.cpus.toString,
      "session_start_s" -> Json.num((sessionMs - launchMs) / 1e3),
      "setup_step_s" -> Json.num(setupS),
      "setup" -> strMap(setupInfo),
      "warmup_s" -> Json.arr(warm.map(w => Json.num(w._1))),
      "warmups" -> Json.arr(warm.map(w => strMap(w._2))),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "oracles" -> Json.obj(oracles),
      "ops" -> Json.arr(opsJson)))
    Files.write(Paths.get(args("result")), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
