package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts — the properties that make the queries
  * scale, pinned as tests so a refactor that silently loses a pushdown
  * or broadcasts-turned-cartesian fails CI, not the 100 TB run.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def planOf(name: String): String = {
    val fn = SparkEntry.queries(name)
    fn(spark, SparkTestBase.sf).queryExecution.executedPlan.toString
  }

  test("q02: filter and projection reach the parquet scan") {
    val p = planOf("q02_scan_pushdown")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"expected non-empty PushedFilters:\n$p")
    // projection pruning: the scan schema must not include all lineitem columns
    assert(!p.contains("l_comment"), "scan must prune unused columns")
  }

  test("q03: dims broadcast, never sort-merge") {
    val p = planOf("q03_join_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no SMJ expected:\n$p")
  }

  test("q24: region-overall rollup is one Expand, not a double pass") {
    val p = planOf("q24_rollup_overall")
    assert(p.contains("Expand"), "GROUPING SETS must plan an Expand")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"rollup must scan the fact table exactly once:\n$p")
  }

  test("no unbounded cartesian or inequality-only join anywhere in the registry") {
    // ONE pass over the registry (each fn() materializes eager caches
    // and runs q59/q67's full clustering — two separate passes double
    // that) asserting two contracts per query:
    //  (a) CartesianProduct = non-broadcast cross join: always a scale
    //      bug. (BroadcastNestedLoopJoin appears only with a bounded
    //      broadcast side — the audited exact-verifier twins.)
    //  (b) a join whose condition carries NO equality predicate
    //      compares |L|×|R| pairs — at 100× rows that is 10,000× the
    //      work, the classic scale-killer hiding behind a green
    //      toy-scale run (the r5 q31 regression: an all-pairs Hamming
    //      verification twin inside a registered plan). Allowed ONLY
    //      where one side is a bounded broadcast by construction — the
    //      audited exact-verifier paths whose query side is capped
    //      (vec_id < 50 → ≤50 rows) regardless of corpus size.
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val boundedBroadcastAudited =
      Set("q29_topk_similarity", "q32_ann_lsh", "q70_ann_ivf")
    SparkEntry.registry.foreach { q =>
      val qe = q.fn(spark, SparkTestBase.sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct")
      if (!boundedBroadcastAudited(q.name)) {
        qe.optimizedPlan.collect { case j: Join => j }.foreach { j =>
          val equi = j.condition.exists(_.find {
            case _: EqualTo | _: EqualNullSafe => true
            case _                             => false
          }.isDefined)
          assert(j.condition.isEmpty || equi,
            s"${q.name} plans an inequality-only join " +
            s"(condition: ${j.condition.map(_.sql)}) — an all-pairs scan at scale")
        }
      }
      // Caching.eager materializes during fn() — drop per query, not
      // once at the end, or ~50 queries' caches pile up in one JVM
      spark.catalog.clearCache()
    }
  }

  test("q33: bucketed near-dup joins on bands, never an all-pairs loop") {
    // the r3 form self-joined on a.id < b.id alone — a
    // BroadcastNestedLoopJoin scanning |n²| pairs; the bucketed
    // rewrite must plan only equi-joins
    val q = SparkEntry.registry.find(_.name == "q33_cosine_neardup").get
    val p = q.fn(spark, SparkTestBase.sf).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q33 must not plan an all-pairs join:\n$p")
    spark.catalog.clearCache()
  }

  test("hamming banding pair-gen join strategy dispatches on TRUE exploded size") {
    // Generate (posexplode) reports its CHILD's size estimate, so the
    // C(blocks, keyBlocks)·n keyed frame inherits the cached (id, sh)
    // frame's 16 bytes/doc — at ~500k docs that sits UNDER the 10 MB
    // broadcast threshold while the true exploded side is gigabytes
    // (measured: a 6.5 GiB driver-side broadcast build at 500k docs ×
    // 120 combos, r16 geometry probe, SCALE.md). The operator
    // therefore dispatches on fp.count() × combos, never the estimate:
    // explicit broadcast in the provably-small regime, a MERGE hint above
    // it.
    import spark.implicits._
    val small = graft.core.Caching.eager(
      (0L until 2000L).map(i => (i, i * 2654435761L)).toDF("id", "sh"))
    val pSmall = graft.llm.Dedup.hammingCandidatesFromFp(small, 0, 7, 0)
      .queryExecution.executedPlan.toString
    assert(pSmall.contains("BroadcastHashJoin"),
      s"2000 docs × 36 combos is provably small — broadcast:\n$pSmall")
    // 150k × 36 = 5.4M keyed rows > BroadcastKeyedRows → sort-merge
    val big = graft.core.Caching.eager(
      spark.range(0L, 150000L).selectExpr("id", "id * 2654435761 AS sh"))
    val pBig = graft.llm.Dedup.hammingCandidatesFromFp(big, 0, 7, 0)
      .queryExecution.executedPlan.toString
    assert(pBig.contains("SortMergeJoin"),
      s"5.4M keyed rows must sort-merge:\n$pBig")
    assert(!pBig.contains("BroadcastHashJoin"),
      s"the over-threshold keyed self-join must never broadcast:\n$pBig")
    spark.catalog.clearCache()
  }

  test("WIDE hamming banding pair-gen dispatches on TRUE exploded size too") {
    // the r16 Generate-estimate fix carried into the 128-bit path:
    // same dispatch rule, two-Long fingerprint. 2000 docs × 36 combos
    // (auto h=7 → (9,2)) = 72k keyed rows → explicit broadcast; 150k
    // docs × 36 = 5.4M > BroadcastKeyedRows → MERGE-pinned sort-merge.
    import spark.implicits._
    val small = graft.core.Caching.eager(
      (0L until 2000L).map(i => (i, i * 2654435761L, i * 40503L))
        .toDF("id", "lo", "hi"))
    val pSmall = graft.llm.Dedup.hammingCandidatesFromFp128(small, 0, 7, 0)
      .queryExecution.executedPlan.toString
    assert(pSmall.contains("BroadcastHashJoin"),
      s"2000 docs × 36 combos is provably small — broadcast:\n$pSmall")
    val big = graft.core.Caching.eager(
      spark.range(0L, 150000L)
        .selectExpr("id", "id * 2654435761 AS lo", "id * 40503 AS hi"))
    val pBig = graft.llm.Dedup.hammingCandidatesFromFp128(big, 0, 7, 0)
      .queryExecution.executedPlan.toString
    assert(pBig.contains("SortMergeJoin"),
      s"5.4M keyed rows must sort-merge:\n$pBig")
    assert(!pBig.contains("BroadcastHashJoin"),
      s"the over-threshold keyed self-join must never broadcast:\n$pBig")
    spark.catalog.clearCache()
  }

  test("hamming PROBE banding joins broadcast the BATCH side by true size") {
    // The probe's store-side frame sk is Generate-shaped too, so the
    // planner can see the un-exploded store scan's bytes and pick the
    // gigabyte store side as the broadcast build. The probe instead
    // broadcasts the side whose TRUE exploded size is known — the
    // counted batch (nBatch × combos) — and pins sort-merge above
    // ProbeBroadcastKeyedRows (the probe's own bound, tighter than
    // pair-gen's: the probe executes inside its consumer's broadcast
    // subtree, where a 1.8M-row build measured 2× slower than
    // sort-merge even though the same build is 2.5× faster isolated)
    // so neither join ever depends on a size estimate of a Generate
    // output.
    import spark.implicits._
    val store = (0L until 9000L).map(i => (i, i * 2654435761L)).toDF("id", "sh")
    // 3000 docs: above bruteBelow (2048) → banding path; × 36 combos
    // = 108k keyed rows → batch-side broadcast
    val batch = (100000L until 103000L).map(i => (i, i * 40503L)).toDF("id", "sh")
    val pSmall = graft.llm.Dedup.hammingProbeTouch(store, batch)
      .queryExecution.executedPlan.toString
    assert(pSmall.contains("BroadcastHashJoin"),
      s"3000-doc batch × 36 combos is provably small — broadcast:\n$pSmall")
    assert(!pSmall.contains("SortMergeJoin"),
      s"no probe join should sort-merge in the small regime:\n$pSmall")
    // 8000 batch docs × 36 = 288k keyed rows > ProbeBroadcastKeyedRows
    // → both candidate joins sort-merge (the hot-bucket semi-join
    // stays broadcast: its build is the distinct (combo, key) set)
    val bigBatch = spark.range(200000L, 208000L)
      .selectExpr("id", "id * 2654435761 AS sh")
    val pBig = graft.llm.Dedup.hammingProbeTouch(store, bigBatch)
      .queryExecution.executedPlan.toString
    assert(pBig.contains("SortMergeJoin"),
      s"288k keyed batch rows must sort-merge:\n$pBig")
    spark.catalog.clearCache()
  }

  test("q62: point side is aggregated to day grain BELOW the range join") {
    // the final output only needs per-(flag,status) sums + a distinct
    // order count — feeding raw lineitem rows through the join is a
    // ~40× larger join input for the same answer. Pin the rewrite
    // structurally: the join's subtree must contain an Aggregate, and
    // the plan must still contain no nested-loop shape.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val df = SparkEntry.queries("q62_range_join_windows")(spark, SparkTestBase.sf)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty, "q62 lost its range join")
    assert(joins.exists(j => j.collectLeaves().size >= 2 &&
        (j.left.collect { case a: Aggregate => a }.nonEmpty ||
         j.right.collect { case a: Aggregate => a }.nonEmpty)),
      s"q62 must pre-aggregate the point side below the join:\n${df.queryExecution.optimizedPlan}")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q62 must stay an equi-join on bucket id:\n$p")
  }

  test("q68: vdvx10 scan pushes the IN predicate into rec; parsing") {
    val p = planOf("q68_vdv_pushdown")
    assert(p.contains("PushedFilters: [") && p.contains("In(LINE_ABBR"),
      s"vdvx10 scan must show the pushed IN filter:\n$p")
  }

  test("ads pipelines broadcast their dims") {
    Seq("q39_ads_travel_info_pipeline", "q40_ads_travel_time_pipeline",
        "q45_ads_travel_distance_pipeline", "q47_ads_fare_revenue_pipeline",
        "q55_ads_fare_revenue_service_type", "q57_ads_revenue_route")
      .foreach { name =>
        val p = planOf(name)
        assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
          s"$name lost its dim broadcasts")
        spark.catalog.clearCache()
      }
  }

  test("q78: the benchmark gram set is broadcast, not shuffled") {
    // the corpus side must stay map-side: the eval set's distinct gram
    // table is the small side by contract (fixed-size benchmarks vs an
    // unbounded corpus) and has to reach the join as a broadcast
    val p = planOf("q78_decontamination")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"q78 lost the benchmark-gram broadcast:\n$p")
    spark.catalog.clearCache()
  }

  test("q94: the paragraph keeper is a hash agg, never a sort-window") {
    // the q90 discipline at paragraph granularity: a 10^7-occurrence
    // boilerplate paragraph must never force a single-partition sort —
    // the keeper is min(struct) inside HashAggregate, and NO Window
    // node may exist anywhere in the plan
    val p = planOf("q94_paragraph_dedup")
    assert(!p.contains("Window"),
      s"q94 plans a window — the keeper must stay a hash agg:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"q94 lost its hash-agg keeper:\n$p")
    spark.catalog.clearCache()
  }

  test("q92: decontamination gram set broadcasts; packing rides the shard sort") {
    val p = planOf("q92_training_freeze")
    // the benchmark gram probe must stay a broadcast (q78's contract,
    // composed) ...
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"q92 lost the benchmark-gram broadcast:\n$p")
    // ... and the tail must hold exactly ONE exchange keyed on the
    // shard column: the packing window and the order window share the
    // q89 partitioning instead of adding their own
    val shardEx = "hashpartitioning\\(shard".r.findAllIn(p).size
    assert(shardEx <= 1,
      s"q92 pack tail re-exchanges on shard ($shardEx):\n$p")
    spark.catalog.clearCache()
  }

  test("q98: probe keeps its hot-bucket semi-join; one batch-sized window") {
    val p = planOf("q98_incremental_admission")
    // the band-index probe must keep q95's hot-bucket restriction (only
    // batch-hit buckets ever shuffle) ...
    assert(p.contains("LeftSemi"),
      s"q98 lost the probe's hot-bucket semi-join:\n$p")
    // ... and the only Window node is the intra-batch first-keeper
    // over the batch's fingerprints — batch-sized by construction; a
    // second window would mean a corpus-sized rank crept in (count the
    // exact `Window [` node print, which WindowGroupLimit etc. cannot
    // match)
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows == 1, s"q98 expected exactly one Window node, " +
      s"found $windows:\n$p")
    // round-11 shape: the corpus-sized sides (band index, fp store,
    // corpus texts) are never exchanged — every join against them is
    // broadcast (the batch-bounded side builds). A SortMergeJoin here
    // means a corpus-sized shuffle crept back into the arrival path
    // (the round-10 weak: 64.9 s/arrival at 5M docs, 4x the fixed
    // plan).
    assert(!p.contains("SortMergeJoin"),
      s"q98 audit must not sort-merge any corpus-sized side:\n$p")
    spark.catalog.clearCache()
  }

  test("q102: the paragraph store is scanned once, never shuffled; rebuild only for changed docs") {
    val p = planOf("q102_incremental_paragraph_dedup")
    assert(p.contains("LeftSemi"),
      s"q102 lost the store-vs-batch-hashes semi-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q102 must not sort-merge the corpus-sized store:\n$p")
    // the keeper is a hash agg (min-struct), never a sort-window
    assert(!p.contains("Window ["),
      s"q102 keeper must be a hash agg, not a window:\n$p")
    spark.catalog.clearCache()
  }

  test("q100: no candidate-sized global rank — every row_number Window is partitioned") {
    // the 25% cut runs as the bins-bounded distributed selection; a
    // regression back to the global rank shows up as a row_number
    // Window with an EMPTY partition spec (plan text: two bracket
    // groups instead of three). The histogram CUMSUM windows are
    // legitimately unpartitioned — their input is the groupBy(__bin)
    // aggregate, ≤ bins (4096) rows by construction — so the pin
    // targets ranking windows, whose input is the candidate set.
    val p = planOf("q100_importance_resampling")
    val offenders = p.linesIterator
      .filter(l => l.contains("Window [") && l.contains("row_number"))
      .filterNot(_.contains("WindowGroupLimit"))
      .filter(l => "\\], \\[".r.findAllIn(l).size < 2)
      .toSeq
    assert(offenders.isEmpty,
      s"global rank window in q100's plan:\n${offenders.mkString("\n")}")
    // and the boundary-bin rank must exist, partitioned
    assert(p.linesIterator.exists(l =>
      l.contains("row_number") && "\\], \\[".r.findAllIn(l).size >= 2),
      s"expected the partitioned boundary-bin rank:\n$p")
    spark.catalog.clearCache()
  }

  test("q101: drop-set joins carry no broadcast hint (drop sides are corpus-proportional)") {
    // dropped ids = every non-canonical member of every near-dup
    // cluster — at realistic dup rates that is O(corpus), and a forced
    // broadcast() is a hint the planner MUST honor: at the 100× decade
    // it materializes 10⁸-10⁹ longs on the driver. The contract is
    // planner/AQE choice (broadcast only when runtime stats are small),
    // so the logical join must carry NO hint on either side.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = SparkEntry.queries("q101_multimodal_freeze")(
      spark, SparkTestBase.sf).queryExecution.optimizedPlan
    val dropCols = Set("__tid", "__iid", "__aid")
    val dropJoins = lp.collect {
      case j: Join if j.condition.exists(
        _.references.exists(a => dropCols.contains(a.name))) => j
    }
    assert(dropJoins.size == 3,
      s"expected the three drop-set joins, found ${dropJoins.size}:\n$lp")
    dropJoins.foreach { j =>
      assert(j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty,
        s"drop-set join must tolerate an unbounded drop side " +
          s"(no forced broadcast), got hint ${j.hint}:\n$j")
    }
    spark.catalog.clearCache()
  }

  test("q46: the six slice/dim/audit consumers read the cached projection") {
    // the 4 quarter-month slices, the LINE dim and the audit watermark
    // must all come from ONE cached scan — day-of-month predicates
    // prune nothing, so each uncached consumer is a full fact re-scan
    // (the InMemoryRelation node reprints its one-time build plan —
    // a FileScan — under every consumer, so count cache READS instead
    // of asserting the absence of parquet-scan text)
    val p = planOf("q46_ads_route_trips_pipeline")
    val reads = "InMemoryTableScan".r.findAllIn(p).size
    assert(reads >= 6,
      s"q46 expected >=6 cached-projection reads, found $reads:\n$p")
    spark.catalog.clearCache()
  }

  test("q39/q15: avg-daily folds aggregate scaled Longs, not doubles") {
    // the order-independence fix is structural: the fold's sum must be
    // over the integer ratio column (sum(ratio_e6)), never a double sum
    Seq("q39_ads_travel_info_pipeline", "q15_avg_daily_fold").foreach { n =>
      val a = SparkEntry.queries(n)(spark, SparkTestBase.sf)
        .queryExecution.optimizedPlan.toString
      assert(a.contains("ratio_e6") || a.contains("__ratio_e6"),
        s"$n no longer folds through the scaled-Long ratio:\n$a")
      spark.catalog.clearCache()
    }
  }
}
