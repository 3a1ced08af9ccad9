package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BPE merge training (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" §3.2) — the
  * iterative continuation of [[Spans.vocabulary]]'s counting pass: in
  * each round, count adjacent symbol-pair frequencies across the word
  * table (weighted by word occurrence count), merge the most frequent
  * pair everywhere, record it. The merge list IS the tokenizer model.
  *
  * Scale shape (100 TB): training runs over the DISTINCT-WORD table
  * (one explode + hash-agg over the corpus builds it — vocabulary
  * grows sub-linearly in corpus size), so each round is
  *  1. one map-side pair explode + hash agg over the word table,
  *  2. a `limit(1)` TakeOrdered collect — ONE row to the driver,
  *  3. one codegen'd rewrite pass
  *     ([[graft.functions.BpeKernels.merge_pair]]) over the word
  *     table, `localCheckpoint`ed to cut the growing lineage —
  *     the same one-job-per-round discipline as
  *     [[Dedup.connectedComponents]]'s pointer jumping.
  * Nothing per-round scales with the CORPUS — only with the
  * vocabulary, which must fit the cluster anyway to train any
  * tokenizer on it.
  *
  * Determinism: ties on pair count break by (left, right) symbol
  * order — byte order on both engines for the alnum-filtered
  * alphabet — so the merge SEQUENCE is reproducible anywhere; the
  * q81 oracle replays all rounds in DuckDB (bounded unrolling) and
  * hash-gates the full sequence.
  */
object Bpe {

  /** One trained merge: rank (1-based round), the pair, its
    * concatenation, and the pair's weighted frequency when chosen. */
  final case class Merge(merge_rank: Int, lhs: String, rhs: String,
                         merged: String, pair_count: Long)

  /** The word table BPE trains on: occurrence-counted alnum tokens,
    * each split into single-character symbols. The `[a-z0-9]+` filter
    * keeps the symbol alphabet ASCII so the paren-delimited DuckDB
    * oracle twin and byte-order tie-breaks are exact. */
  /** The corpus tokens BPE sees: whitespace tokens of lower(trim())
    * restricted to the alnum alphabet (see [[wordCounts]]). Public so
    * the encode-side query tokenizes identically to training. */
  def alnumTokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(Spans.nonEmptyTokens(text), w => w.rlike("^[a-z0-9]+$"))

  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(alnumTokens(col(textCol))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("syms",
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))))

  /** Train `rounds` merges; returns them as a DataFrame ordered by
    * rank (row count = rounds, or fewer if the vocabulary exhausts —
    * no mergeable pair remains). */
  def trainMerges(docs: DataFrame, textCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10000,
      s"rounds out of range: $rounds")
    val spark = docs.sparkSession
    var words = wordCounts(docs, textCol)
      .select(col("cnt"), col("syms")).localCheckpoint()
    // the checkpoint CURRENTLY backing `words`' lineage — checkpoints
    // are taken every CkptEvery rounds (r17), not every round: each
    // localCheckpoint is its own Spark job, and at 4 rounds per
    // checkpoint the pair-count job re-applies at most 3 codegen'd
    // merge_pair kernels map-side (far cheaper than the job it saves)
    // while the lineage stays bounded for arbitrary `rounds`
    var lastCkpt = words
    val CkptEvery = 4
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      // pair counts: map-side explode + hash agg over the word table;
      // the argmax is a TakeOrdered over (count desc, pair) — one row
      // ships to the driver per round
      val top = words
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
                        element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        val c = top(0).getLong(2)
        merges += Merge(round, l, r, l + r, c)
        // the FINAL round's rewrite is dead work — no later pair count
        // reads it, and the merge list (not the word table) is the
        // model — so it is skipped outright (r17; one checkpoint job
        // plus one kernel pass per training run)
        if (round < rounds) {
          words = words.withColumn("syms",
            graft.functions.BpeKernels.merge_pair(col("syms"), l, r))
          if (round % CkptEvery == 0) {
            words = words.localCheckpoint()
            lastCkpt.unpersist()
            lastCkpt = words
          }
        }
        round += 1
      }
    }
    mergesToDf(spark, merges.toSeq)
  }

  /** Batched BPE training — the structural fix for the sequential
    * trainer's driver-round-trip regime: [[trainMerges]] runs ONE
    * Spark job cycle (pair count + one-row collect + rewrite) PER
    * MERGE, which at real vocabulary sizes (30-50k merges) is 30-50k
    * driver round-trips even though each is cheap and flat. This
    * variant trains up to `batchSize` merges per cycle: one pair
    * count, one `batchSize * 8`-row TakeOrdered collect, a
    * driver-side greedy scan that accepts candidates in (count desc,
    * pair) order while they are pairwise NON-INTERACTING, and one
    * fused rewrite projection applying the whole batch. Driver round
    * trips drop to ~vocab/batchSize; per-cycle work still scales with
    * the distinct-word table only.
    *
    * Non-interacting: two accepted merges may share NO symbol among
    * {lhs, rhs, lhs+rhs}. That makes the batch's rewrites commutative
    * (each pattern consumes and produces only symbols no other batch
    * member touches, so the fused projection equals any sequential
    * order) and each accepted count remains the pair's true
    * frequency at the start of the cycle.
    *
    * MODEL CONTRACT — this is a documented approximation, behind this
    * separate entry point, never silently substituted: classic BPE
    * recounts after every merge, so a pair CREATED by batch member i
    * (count ≤ member i's count) can out-rank batch member j > i;
    * sequential training would then pick it first and the two models
    * diverge from that round on. With `batchSize = 1` the selection,
    * counts, and tie-breaks reduce exactly to [[trainMerges]]
    * (spec-pinned), which is why q88 routes this entry point through
    * q81's hash-gating oracle at batch size 1. Output adds a `pass`
    * column (which cycle trained each merge) after the
    * [[trainMerges]] schema; ranks stay 1-based and contiguous.
    *
    * A cycle whose candidate pool is saturated by one hot symbol can
    * accept fewer than `batchSize` merges (the pool is finite); the
    * first pool row is always accepted, so every cycle makes
    * progress and exhaustion is still detected by an empty pool. */
  def trainMergesBatched(docs: DataFrame, textCol: String, rounds: Int,
                         batchSize: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 100000,
      s"rounds out of range: $rounds")
    require(batchSize >= 1 && batchSize <= 512,
      s"batchSize out of range: $batchSize")
    val spark = docs.sparkSession
    var words = wordCounts(docs, textCol)
      .select(col("cnt"), col("syms")).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    val passOf = scala.collection.mutable.ArrayBuffer.empty[Int]
    var pass = 1
    var exhausted = false
    while (merges.size < rounds && !exhausted) {
      val want = math.min(batchSize, rounds - merges.size)
      // pool ≥ 8× the batch: each acceptance blocks only candidates
      // sharing one of its ≤3 touched symbols, so 8× under-fills only
      // when the top of the distribution is saturated by few symbols —
      // and an under-filled cycle is correct, just less batched
      val pool = words
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
                        element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(math.max(want * 8, 64))
        .collect()
      if (pool.isEmpty) exhausted = true
      else {
        val touched = scala.collection.mutable.Set.empty[String]
        val accepted =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        pool.iterator.takeWhile(_ => accepted.size < want).foreach { row =>
          val l = row.getString(0); val r = row.getString(1)
          val syms = Seq(l, r, l + r)
          if (!syms.exists(touched.contains)) {
            accepted += ((l, r, row.getLong(2))); touched ++= syms
          }
        }
        accepted.foreach { case (l, r, c) =>
          merges += Merge(merges.size + 1, l, r, l + r, c)
          passOf += pass
        }
        // the final cycle's rewrite is dead work — no later pair count
        // reads it (r17, same reasoning as the sequential trainer)
        if (merges.size < rounds) {
          val old = words
          words = words
            .withColumn("syms", accepted.foldLeft(col("syms")) {
              case (s, (l, r, _)) =>
                graft.functions.BpeKernels.merge_pair(s, l, r)
            })
            .localCheckpoint()
          old.unpersist()
        }
        pass += 1
      }
    }
    mergesToDf(spark, merges.toSeq).withColumn("pass",
      element_at(
        typedLit(passOf.toSeq), col("merge_rank")))
  }

  private def mergesToDf(spark: SparkSession,
                         merges: Seq[Merge]): DataFrame = {
    val schema = StructType(Seq(
      StructField("merge_rank", IntegerType, nullable = false),
      StructField("lhs", StringType, nullable = false),
      StructField("rhs", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.map(m =>
        Row(m.merge_rank, m.lhs, m.rhs, m.merged, m.pair_count)), 1),
      schema)
  }

  /** Persist a trained merge table — the tokenizer MODEL ARTIFACT any
    * downstream trainer needs — as parquet at `path`. One file: the
    * model is vocabulary-sized (one row per merge), and a single file
    * keeps the artifact atomic-rename-friendly for model registries. */
  def saveMerges(merges: DataFrame, path: String): Unit =
    merges.select(col("merge_rank"), col("lhs"), col("rhs"),
        col("merged"), col("pair_count"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a persisted merge table back into the rank-ordered pair
    * list [[encodeTokens]] consumes. The collect is MODEL-sized (one
    * row per trained merge — the same object every executor must hold
    * to encode anything), never corpus-sized. SpansSpec pins the
    * round-trip: encode(load(save(train))) == encode(train). */
  def loadMergePairs(spark: SparkSession, path: String): Seq[(String, String)] =
    spark.read.parquet(path)
      .orderBy(col("merge_rank"))
      .select(col("lhs"), col("rhs"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Apply a trained merge sequence to a token column — the ENCODE
    * side of the tokenizer: split to characters, then replay every
    * merge in rank order through the codegen'd rewrite kernel. */
  def encodeTokens(docs: DataFrame, tokenCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    // sequence(1, 0) generates DESCENDING [1, 0] in Spark, so an
    // empty token must short-circuit to an empty symbol array rather
    // than two empty-string symbols; a NULL token stays NULL (the
    // kernel chain is null-preserving, so the column stays NULL).
    val chars = when(col(tokenCol).isNull, lit(null).cast("array<string>"))
      .when(length(col(tokenCol)) > 0,
        transform(sequence(lit(1), length(col(tokenCol))),
          i => col(tokenCol).substr(i, lit(1))))
      .otherwise(array().cast("array<string>"))
    val encoded = merges.foldLeft(chars) { case (syms, (l, r)) =>
      graft.functions.BpeKernels.merge_pair(syms, l, r)
    }
    docs.withColumn("bpe_symbols", encoded)
  }
}
