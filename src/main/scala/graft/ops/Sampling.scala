package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / split assignment for corpus curation —
  * train/validation/test partitioning and rate-limited subsampling
  * that is (a) STABLE: a document's split never changes when the
  * corpus is re-partitioned, re-ordered, or appended to, because the
  * decision is a pure function of the id; (b) PORTABLE: the hash is
  * plain integer arithmetic (Knuth multiplicative hashing), so any
  * engine — or the DuckDB oracle — reproduces the exact assignment,
  * where `rand(seed)` and engine-native hash functions do not
  * cross-reproduce; (c) map-side only: no shuffle, no state, scales
  * linearly.
  *
  * `sample(df, id, 0.1)` keeps ~10% exactly reproducibly;
  * `splitColumn(id, Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01))`
  * labels every row. Buckets are half-open ranges over h(id) mod 10^6,
  * so the same id lands in the same split under any fraction refinement
  * that preserves prefix sums.
  */
object Sampling {

  /** 2654435761 = floor(2^32 / φ), Knuth's multiplicative constant;
    * the multiply decorrelates sequential ids, the mod folds to the
    * bucket domain. */
  private val Knuth = 2654435761L
  private val Buckets = 1000000L
  /** 2^31 − 1 (Mersenne prime): the id folds into two limbs below it so
    * every product stays under Long.MaxValue — limb·Knuth < 2^31·2^32 ≈
    * 5.7e18. A single `id * Knuth` overflows Long (ANSI: throws) for
    * snowflake-style ids ≥ ~3.5e9. */
  private val Limb = 2147483647L

  /** Bucket in [0, 10^6) as a pure overflow-safe arithmetic function of
    * the id: the id splits into limbs lo = id mod (2^31−1) and
    * hi = (id div (2^31−1)) mod (2^31−1), each limb multiplies a mixing
    * constant, and the sum folds mod 2^32 mod 10^6. Every intermediate
    * fits Long for the FULL 64-bit id range. ANSI-SQL twin (ids ≥ 0):
    * `((id % 2147483647) * 2654435761
    *   + ((id // 2147483647) % 2147483647) * 40503) % 4294967296 % 1000000`. */
  def bucket(id: Column): Column = {
    val idL = id.cast("long")
    // ids must be non-negative: the documented ANSI twin uses plain
    // `%`/`//`, whose negative-operand semantics (negative remainder,
    // truncating division) differ from the pmod/floor arithmetic here —
    // a negative id would silently land in a DIFFERENT split than the
    // oracle assigns. Fail loudly instead of desynchronizing curation.
    val guarded = when(idL < 0, raise_error(concat(
        lit("Sampling.bucket requires ids >= 0 (cross-engine split parity); got "),
        idL.cast("string"))))
      .otherwise(idL)
    val lo = pmod(guarded, lit(Limb))
    val hi = pmod(Cleaning.intDiv(guarded, lit(Limb)), lit(Limb))
    pmod(pmod(lo * Knuth + hi * 40503L, lit(4294967296L)), lit(Buckets))
  }

  /** Keep rows whose bucket falls under `fraction` (exact half-open
    * range, reproducible everywhere). */
  def sample(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction out of range: $fraction")
    df.where(bucket(col(idCol)) < (fraction * Buckets).toLong)
  }

  /** Per-stratum deterministic sampling: each row keeps or drops by the
    * SAME id-hash bucket as [[sample]], but the threshold comes from its
    * stratum (corpus curation's "downsample web crawl to 5%, keep books
    * at 100%"). Map-side only like `sample`; because the bucket is a
    * pure id function, RAISING a stratum's rate strictly grows its kept
    * set (half-open prefix ranges), so curation runs are comparable
    * across rate tweaks. Strata absent from `rates` use `defaultRate`. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      s"rates out of range: $rates default=$defaultRate")
    val threshold = rates.foldLeft(lit((defaultRate * Buckets).toLong)) {
      case (acc, (stratum, r)) =>
        when(col(strataCol) === stratum, lit((r * Buckets).toLong)).otherwise(acc)
    }
    df.where(bucket(col(idCol)) < threshold)
  }

  /** Mixture sampling: downsample each source so the KEPT corpus
    * matches a target source distribution — the static data-mixing
    * step of training-data assembly ("50% web, 30% books, 20% code"),
    * maximizing total kept volume subject to the mix.
    *
    * Weights are exact millionths (they must sum to 1 000 000; a
    * double-weight overload below rounds and checks). With per-source
    * counts c_s and weights w_s, the largest achievable total is
    * T = min_s floor(c_s·10⁶ / w_s), and each source keeps bucket
    * < floor(w_s·T / c_s) of the SAME portable id-hash as [[sample]] —
    * so the kept set is stable under repartitioning/append, shrinks and
    * grows monotonically with a weight tweak, and any engine
    * reproduces it exactly. Sources with no weight are dropped.
    *
    * Scale shape: one count aggregation (|sources| rows to the driver
    * — dimension-sized, the documented bounded-collect class), then a
    * map-side filter; threshold arithmetic is BigInt on the driver so
    * petabyte-scale counts cannot overflow. Kept counts track
    * w_s·T/10⁶ to hash-bucket uniformity (exact thresholds, not exact
    * counts — the price of stability; same contract as [[sample]]). */
  def mixtureSample(df: DataFrame, idCol: String, sourceCol: String,
                    weightsMilli: Map[String, Long]): DataFrame = {
    require(weightsMilli.nonEmpty && weightsMilli.values.forall(_ >= 0),
      s"weights must be non-negative: $weightsMilli")
    require(weightsMilli.values.sum == Buckets,
      s"weights must sum to $Buckets millionths, got ${weightsMilli.values.sum}")
    // weights are keyed by String, and the threshold dispatch compares
    // col(sourceCol) === <string literal> — a non-string source column
    // would otherwise surface as a ClassCastException at collect time
    locally {
      val st = df.select(col(sourceCol)).schema.head.dataType
      require(st == org.apache.spark.sql.types.StringType,
        s"mixtureSample: source column '$sourceCol' must be StringType " +
          s"(got ${st.simpleString}); cast it before sampling")
    }
    val counts = df.groupBy(col(sourceCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = weightsMilli.filter { case (_, w) => w > 0 }
    val absent = present.keys.filter(s => counts.getOrElse(s, 0L) == 0L)
    // a missing weighted source would silently RENORMALIZE the kept
    // mix over the remaining sources - the contract is the requested
    // distribution, so fail loudly instead
    require(absent.isEmpty,
      s"weighted sources absent from the data: ${absent.mkString(",")}")
    require(present.nonEmpty,
      s"no weighted source present in the data: ${weightsMilli.keySet}")
    val total = present.map { case (s, w) =>
      BigInt(counts(s)) * Buckets / w }.min
    val thresholds = present.map { case (s, w) =>
      s -> (BigInt(w) * total / counts(s)).min(BigInt(Buckets)).toLong }
    val thrCol = thresholds.foldLeft(lit(0L)) { case (acc, (s, t)) =>
      when(col(sourceCol) === s, lit(t)).otherwise(acc) }
    df.where(bucket(col(idCol)) < thrCol)
  }

  /** [[mixtureSample]] with double weights, rounded to millionths —
    * rejects weight sets whose rounded millionths do not sum exactly
    * (pass millionths directly for full control). */
  def mixtureSample(df: DataFrame, idCol: String, sourceCol: String,
                    weights: Map[String, Double])(implicit d: DummyImplicit): DataFrame =
    mixtureSample(df, idCol, sourceCol,
      weightsMilli = weights.map { case (s, w) => s -> math.round(w * Buckets) })

  /** Exact per-source cap — RefinedWeb/C4-style "keep at most `cap`
    * documents per domain", the anti-spam step between dedup and
    * mixing. Keeps, for every source, EXACTLY min(cap, count) rows:
    * the first `cap` in (bin, id) order where bin is a coarse fold of
    * the portable id-hash — i.e. a deterministic uniform-random sample
    * that any engine replays (ANSI twin below), stable under
    * repartitioning and re-ordering.
    *
    * Scale shape — this IS the window form, and on Spark 4 that is the
    * right default: for `cap` at or under
    * `spark.sql.window.group.limit.threshold` (default 1000 — the
    * common per-domain-cap range) Catalyst rewrites the
    * row_number-filter into a WindowGroupLimit pair (plan-pinned in
    * PlanSpec): each input partition keeps only its own top-`cap` per
    * source BEFORE the exchange, so shuffle volume is bounded by
    * cap x sources x partitions rows — never the corpus — and the
    * per-source final task handles cap x partitions rows, so a
    * 10^9-doc hot domain is NOT a 10^9-row straggler sort. Measured
    * (r10 q97 cap probe, SCALE.md; 5M docs, 90% in one source,
    * cap=1000): 1.4 s vs 17 s for the hand-built selection below.
    *
    * ABOVE the threshold the rewrite is off and this degenerates to a
    * full-corpus exchange + one sort task per source — for that regime
    * raise the threshold conf, or use [[perSourceCapLargeCap]]
    * (bins-bounded distributed selection; same kept set, spec-pinned;
    * measured crossover at 5M docs x cap=100k on the hot-domain
    * shape: 17 s vs 21 s and diverging — the straggler grows with the
    * domain, the selection's boundary stays count/bins).
    *
    * ANSI twin (exact same kept set):
    * `QUALIFY row_number() OVER (PARTITION BY source
    *    ORDER BY <bucket_expr> % bins, id) <= cap`
    * with bucket_expr as documented on [[bucket]]. The mod-`bins` fold
    * is slightly non-uniform when bins does not divide 10^6 — harmless
    * (it is a hash ORDER, not a rate), and it keeps the twin a plain
    * `%`. */
  def perSourceCap(df: DataFrame, idCol: String, sourceCol: String,
                   cap: Long, bins: Int = 4096): DataFrame = {
    require(cap >= 0, s"cap must be >= 0: $cap")
    require(bins > 0 && bins <= Buckets, s"bins out of range: $bins")
    require(!df.columns.contains("__rn"),
      "input already has the reserved column __rn")
    val binCol = pmod(bucket(col(idCol)), lit(bins.toLong))
    df.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(sourceCol)).orderBy(binCol, col(idCol))))
      .where(col("__rn") <= cap)
      .drop("__rn")
  }

  /** [[perSourceCap]] for the LARGE-cap regime (cap above
    * `spark.sql.window.group.limit.threshold`, where Catalyst's
    * WindowGroupLimit rewrite is off and the window form pays a
    * full-corpus exchange plus one sort task per source): distributed
    * selection, never a per-source sort —
    *   1. per-source totals (one hash-agg; sources at or under `cap`
    *      pass through untouched — the long tail costs nothing);
    *   2. for over-cap sources only, a (source, bin) histogram —
    *      at most `bins` rows per source REGARDLESS of corpus size —
    *      and a running sum over bins finds each source's boundary
    *      bin and how many rows to take from it;
    *   3. rows in bins below the boundary keep outright (map-side
    *      filter after a small-side join); ONLY the boundary bin's
    *      rows — ~count_s/bins of the source, e.g. ~244k rows of a
    *      10^9-doc domain at the default 4096 bins — are ever ranked.
    * Kept set is IDENTICAL to [[perSourceCap]] (spec-pinned). */
  def perSourceCapLargeCap(df: DataFrame, idCol: String, sourceCol: String,
                           cap: Long, bins: Int = 4096): DataFrame = {
    require(cap >= 0, s"cap must be >= 0: $cap")
    require(bins > 0 && bins <= Buckets, s"bins out of range: $bins")
    locally {
      val reserved = Set("__n", "__bin", "__c", "__cum", "__tbin",
        "__take", "__rn", "__src")
      require(df.columns.forall(c => !reserved.contains(c)),
        s"input already has a reserved column: " +
          df.columns.toSet.intersect(reserved))
    }
    val outCols = df.columns.map(col).toSeq
    val binCol = pmod(bucket(col(idCol)), lit(bins.toLong))

    val totals = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
    val underSources = totals.where(col("__n") <= cap).select(col(sourceCol))
    val overSources = totals.where(col("__n") > cap).select(col(sourceCol))

    // NULL is a legal source value (SQL GROUP BY semantics — the window
    // form's partitionBy groups it too), so every membership join here
    // must be NULL-SAFE: a plain equi-join would silently drop the
    // whole NULL-source group and diverge from the window form
    def semiNullSafe(left: DataFrame, sources: DataFrame): DataFrame =
      left.join(sources.withColumnRenamed(sourceCol, "__src"),
        col(sourceCol) <=> col("__src"), "left_semi")

    val kept = semiNullSafe(df, underSources)

    val overRows = semiNullSafe(df, overSources)
      .withColumn("__bin", binCol)
    val hist = overRows.groupBy(col(sourceCol), col("__bin"))
      .agg(count(lit(1)).as("__c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col("__bin"))
    // exactly one boundary row per over-cap source: the FIRST bin whose
    // running sum reaches cap (>=, not >: when cap falls exactly on a
    // bin edge that bin is wholly taken via its ranking — a bin with
    // cum > cap >= cum-c would not exist at all in that case)
    val boundary = hist.withColumn("__cum", sum(col("__c")).over(wCum))
      .where(col("__cum") >= cap && col("__cum") - col("__c") < cap)
      .select(col(sourceCol), col("__bin").as("__tbin"),
        (lit(cap) - (col("__cum") - col("__c"))).as("__take"))

    val joined = overRows.join(
      boundary.withColumnRenamed(sourceCol, "__src"),
      col(sourceCol) <=> col("__src"))
    val below = joined.where(col("__bin") < col("__tbin")).select(outCols: _*)
    val wBoundary = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col(idCol))
    val atBoundary = joined.where(col("__bin") === col("__tbin"))
      .withColumn("__rn", row_number().over(wBoundary))
      .where(col("__rn") <= col("__take"))
      .select(outCols: _*)

    kept.select(outCols: _*).unionAll(below).unionAll(atBoundary)
  }

  /** Global top-fraction keep flag — the DSIR-style resampling rule
    * (q100): `kept` = global rank <= floor(n·num/den) under
    * (`rateCol` DESC, `idCol` ASC), WITHOUT a candidate-sized
    * single-partition sort. This is [[perSourceCapLargeCap]]'s
    * histogram-boundary selection applied globally, on a REAL-VALUED
    * key:
    *   1. one cache-materializing count gives n (and k = n·num/den);
    *   2. one bounded agg gives (min, max) of the rate; rates map to
    *      `bins` equal-width DESCENDING bins (bin 0 = highest rates);
    *   3. a bins-bounded histogram (≤ `bins` rows, regardless of
    *      corpus size) + running sum finds the boundary bin and how
    *      many rows to take from it;
    *   4. the boundary row (ONE row by construction — the running-sum
    *      predicate `cum >= k && cum - c < k` selects exactly one bin)
    *      is fetched to the driver like the (min, max) stats row and
    *      inlined as literals: bins above it keep outright, bins below
    *      drop outright (both map-side, no join), and ONLY the
    *      boundary bin's rows — expected n/bins — are window-ranked by
    *      (rate DESC, id). A broadcast-join handoff would be
    *      equivalent work but folds the bin inequalities into the join
    *      condition, reading as an all-pairs join to plan audits.
    * Kept set is IDENTICAL to the single-partition-window form
    * (spec-pinned, ties and k=0 included). Worst case: every rate
    * equal puts ALL rows in one bin and step 4 degenerates to the
    * window form — the same cost as the exact form, never worse.
    *
    * `exactBelow`: inputs at or under it take the single-partition
    * window form outright — for genuinely batch-sized candidate sets
    * (an arriving batch) the two extra jobs cost more than the sort.
    * Registered corpus-scale plans pass 0 to force the selection
    * shape. `rateCol` must be non-null, non-NaN (q100 filters
    * n_bigrams > 0 before calling); `idCol` must be unique. */
  def topFractionByRate(df: DataFrame, rateCol: String, idCol: String,
                        num: Long, den: Long, bins: Int = 4096,
                        exactBelow: Long = 100000): DataFrame = {
    require(num >= 0 && den > 0 && num <= den,
      s"fraction out of range: $num/$den")
    require(bins > 1 && bins <= Buckets, s"bins out of range: $bins")
    locally {
      val reserved = Set("__bin", "__c", "__cum", "__tbin", "__take", "__rn")
      require(df.columns.forall(c => !reserved.contains(c)),
        s"input already has a reserved column: " +
          df.columns.toSet.intersect(reserved))
    }
    val w = org.apache.spark.sql.expressions.Window
    val outCols = df.columns.map(col).toSeq
    val (c, n) = graft.core.Caching.eagerCounted(df)
    val k = n * num / den
    if (k <= 0)
      return df.withColumn("kept", lit(false))
    if (k >= n)
      return df.withColumn("kept", lit(true))
    if (n <= exactBelow)
      return c.withColumn("__rn", row_number().over(
          w.orderBy(col(rateCol).desc, col(idCol))))
        .withColumn("kept", col("__rn") <= k).drop("__rn")
    val stats = c.agg(min(col(rateCol)).cast("double"),
      max(col(rateCol)).cast("double")).head()
    val (mn, mx) = (stats.getDouble(0), stats.getDouble(1))
    // bin 0 holds the HIGHEST rates so the running sum walks rank order
    val binExpr =
      if (mn == mx) lit(0L)
      else least(lit(bins - 1L), greatest(lit(0L),
        floor((lit(mx) - col(rateCol).cast("double")) / lit(mx - mn)
          * bins).cast("long")))
    val binned = c.withColumn("__bin", binExpr)
    // the histogram is ≤ bins rows by construction — the partitionBy
    // constant keeps the cumsum a partitioned window over that bounded
    // frame, never a corpus-sized exchange
    val hist = binned.groupBy(col("__bin")).agg(count(lit(1)).as("__c"))
    // ONE row by construction: the running sum crosses k exactly once
    val b = hist
      .withColumn("__cum", sum(col("__c")).over(
        w.partitionBy(lit(0)).orderBy(col("__bin"))))
      .where(col("__cum") >= k && col("__cum") - col("__c") < k)
      .select(col("__bin"), (lit(k) - (col("__cum") - col("__c"))))
      .head()
    val (tbin, take) = (b.getLong(0), b.getLong(1))
    val offBoundary = binned.where(col("__bin") =!= tbin)
      .select(outCols :+ (col("__bin") < tbin).as("kept"): _*)
    // partitioned by __bin (a single group here — every row has
    // __bin == tbin) so the rank window is never the unpartitioned
    // global-rank shape this operator exists to avoid
    val atBoundary = binned.where(col("__bin") === tbin)
      .withColumn("__rn", row_number().over(
        w.partitionBy(col("__bin")).orderBy(col(rateCol).desc, col(idCol))))
      .select(outCols :+ (col("__rn") <= take).as("kept"): _*)
    offBoundary.unionByName(atBoundary)
  }

  /** Split label by consecutive half-open bucket ranges; fractions must
    * sum to <= 1, remainder labeled null (caller filters or maps). */
  def splitColumn(id: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 1.0 + 1e-9,
      "split fractions must sum to <= 1")
    val bounds = splits.scanLeft(0L) { case (acc, (_, f)) =>
      acc + (f * Buckets).toLong
    }.tail
    val b = bucket(id)
    splits.zip(bounds).foldRight(lit(null).cast("string")) {
      case (((name, _), hi), otherwise) => when(b < hi, name).otherwise(otherwise)
    }
  }
}
