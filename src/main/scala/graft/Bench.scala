package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.core.Sessions

/** Headline benchmark: times each bench-flagged query end-to-end
  * (plan + execution, result forced through the noop sink) on SPARK_GRAFT_SF_DIR.
  *
  * Output contract (driver records it as BENCH_r{N}.json):
  *  - ONE JSON line on stdout, prefixed by nothing (run / outputStrategy
  *    = StdoutOutput in build.sbt keeps sbt's logger from wrapping it);
  *  - the same line written to BENCH_OUT.json in the working directory,
  *    so a log-scraping failure can never lose the numbers again
  *    (round-1 BENCH "parsed" was null from sbt [info] noise);
  *  - a query that throws is reported in "errors" with its exception —
  *    never as a silently-fast elapsed time (round-1 Bench swallowed
  *    Throwable and recorded the time anyway).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.build("graft-bench")
    // one warmup action to pay JVM/codegen startup outside the timings
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // measured per-query floor: a trivial one-stage aggregation over
    // the 5-row region table, warm-then-timed exactly like the real
    // queries. Local-mode job scheduling + planning dominate sf0.1
    // timings (real queries run 5-20 AQE stages, so this single-job
    // number is a LOWER bound per query); reported as "floor_sec" so a
    // reader comparing the total against an in-process engine can see
    // how much of it is per-query overhead that amortizes at scale.
    def floorRun(): Unit = {
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_regionkey").count().count(); ()
    }
    floorRun()
    // min of 3 samples: a single observation of a ~0.3s quantity
    // inherits full GC/load jitter; the floor claim needs the best case
    val floorSec = (1 to 3).map { _ =>
      val tf = System.nanoTime(); floorRun()
      (System.nanoTime() - tf) / 1e9
    }.min
    // dev convenience: `runMain graft.Bench q30 q32` times only queries
    // whose name contains one of the args; the driver passes none.
    // Registry rows NOT bench-flagged (and therefore absent from every
    // BENCH file, deliberately): q88_bpe_merges_batched — it runs the
    // batched BPE trainer at batchSize=1, whose plan reduces by
    // construction to q81's sequential trainer (and whose oracle IS
    // q81's, replayed), so a q88 timing would duplicate q81's row
    // under a second name. Everything else in the registry benches,
    // including q86 (whose delta over q82 is the model-persistence
    // round-trip).
    val picked =
      if (args.isEmpty) SparkEntry.benchQueries
      else SparkEntry.benchQueries.filter(q => args.exists(q.name.contains))
    // One timed execution of `q`, with the standing error policy:
    // NonFatal + LinkageError are recorded per run (a missing optional
    // class leaves the JVM healthy; aborting would lose BENCH_OUT.json
    // for every other query); VirtualMachineErrors propagate — timings
    // recorded after one would be garbage published as valid numbers.
    // Caches are dropped and a GC forced after every execution: each
    // query is timed standalone, building its own persists and
    // shuffles, and the explicit GC lets the ContextCleaner release
    // broadcast + shuffle blocks NOW instead of at the next full GC —
    // without it, ~90 executions of accumulated blocks made late-bench
    // queries degrade 5-30x (round-1 q26 113s-vs-6s anomaly).
    // Force through the noop sink, NOT count(): under count() the
    // optimizer prunes every column and ELIMINATES a left outer join
    // whose build side is key-unique — several registered plans end in
    // exactly that shape (doc-spine left-join of a per-key aggregate),
    // so count() was timing a plan with the query's whole compute
    // subtree optimizer-deleted (caught at sf10: q72 "ran" 100× data
    // in flat 0.25 s while its real explode+agg pipeline costs
    // seconds). The noop writer materializes every output column of
    // the EXACT registered plan and discards rows at the sink.
    def force(q: graft.QueryDef): Unit =
      q.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    def timedRun(q: graft.QueryDef): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val runErr =
        try { force(q); None }
        catch {
          case e @ (scala.util.control.NonFatal(_) | _: LinkageError) =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
        }
      val s0 = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      System.gc()
      (s0, runErr)
    }
    // PASS 1, registry order: two untimed warmups per query (JMH
    // style — per-plan Janino codegen + C2 JIT dominate cold runs at
    // toy scale and amortize to nothing at the 100 TB design point;
    // measured: q30 11 s cold vs 2.3 s warm) followed by one timed
    // run.
    val firstPass: Map[String, (Double, Option[String])] = picked.map { q =>
      (1 to 2).foreach { _ =>
        try force(q)
        catch { case scala.util.control.NonFatal(_) | (_: LinkageError) => () }
        spark.catalog.clearCache()
      }
      System.gc()
      q.name -> timedRun(q)
    }.toMap
    // PASS 2, REVERSE order, one timed run per (already codegen-warm)
    // query. Taking the per-query min across the two passes serves two
    // ends at once: min-of-N is the steady-state estimator under
    // ambient GC/load jitter (the same commit benched 30.2 s and
    // 36.7 s total purely by machine noise), and reversing the order
    // decorrelates NEIGHBOR bleed — in the single-order r4 bench,
    // q21-q25 ran 2-4x slower with no source change purely because
    // they followed the heaviest query; in the reversed pass they
    // precede it, so the min sees each query at least once without the
    // pressure of its heavy neighbor.
    val secondPass: Map[String, (Double, Option[String])] =
      picked.reverse.map { q => q.name -> timedRun(q) }.toMap
    // PASS 3, forward again: by now the JVM is fully C2-hot across
    // every query's codegen, so this pass samples true steady state;
    // min-of-3 tightens the estimator against ambient GC/load spikes
    // that a min-of-2 still inherits ~1/4 of the time.
    val thirdPass: Map[String, (Double, Option[String])] =
      picked.map { q => q.name -> timedRun(q) }.toMap
    val line = resultLine(sfDir, floorSec, picked.map { q =>
      q.name -> Seq(firstPass(q.name), secondPass(q.name), thirdPass(q.name))
    })
    Files.write(Paths.get("BENCH_OUT.json"),
      (line + "\n").getBytes(StandardCharsets.UTF_8))
    println(line)
    spark.stop()
  }

  /** The one output line, from each query's three (seconds, error)
    * samples in pass order. */
  private[graft] def resultLine(sfDir: String, floorSec: Double,
      perQuery: Seq[(String, Seq[(Double, Option[String])])]): String = {
    val results = perQuery.map { case (name, runs) =>
      // a query that succeeds on ANY of its three samples is
      // measurable: a transient failure must not erase a valid timing
      // from another pass; only a query that failed all three is an
      // error row
      val okRuns = runs.filter(_._2.isEmpty)
      val err = if (okRuns.nonEmpty) None else runs.last._2
      val sec = (if (okRuns.nonEmpty) okRuns else runs).map(_._1).min
      (name, sec, err, runs)
    }
    // JSON escape incl. ALL control chars (<0x20), and locale-free
    // number formatting — a comma-decimal default locale or a control
    // byte in an exception message must not corrupt the one line this
    // program exists to emit.
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
    def jnum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val ok = results.filter(_._3.isEmpty)
    val qs = ok.map { case (k, v, _, _) => jstr(k) + ":" + jnum(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m), _) => jstr(k) + ":" + jstr(m) }
      .mkString("{", ",", "}")
    // every per-pass sample, not just the min: min-of-3 is the right
    // steady-state estimator, but it can HIDE a warm-path regression
    // behind one lucky sample — the raw samples keep that visible to a
    // reader diffing BENCH_OUT across commits. A FAILED run's elapsed
    // time is emitted as null, not a number: a fast failure would
    // otherwise read as a genuine 30x-faster warm sample.
    val samples = results.map { case (k, _, _, runs) =>
      jstr(k) + ":[" + runs.map { case (sec, e) =>
        if (e.isEmpty) jnum(sec) else "null"
      }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"n_ok":${ok.size},"n_err":${results.size - ok.size},"floor_sec":${jnum(floorSec)},"samples":$samples,"sf":${jstr(sfDir)}}"""
  }
}
