package graft.bench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.QueryDef
import graft.core.Tables
import graft.io.Sinks
import graft.llm.{Admission, Dedup, TextStats}

/** One benchmark workload, driven by [[Main]]: a set-up step, untimed
  * warm-up operations, then timed operations in whole cycles. Every
  * operation leaves its outputs on disk for the correctness check and
  * returns the facts the check and the metrics need. */
trait Workload {
  def setup(): Map[String, String]
  def warmups: Int
  /** Operation `i` (warm-ups are i < 0). */
  def op(i: Int): Map[String, String]
  /** How many operations the inputs allow. */
  def limit: Int
  /** Operations per cycle: a run times whole cycles, so every run
    * measures the same mix of operations. */
  def cycle: Int
}

/** The nightly batch: one pass builds every ads_/dwd_/dim_ registry row
  * through its pipeline entry point and publishes it atomically under
  * `<work>/out/<op>/<row>`. There is no warm-up: a nightly batch runs in
  * a fresh JVM, so its users pay code generation and JIT every night. */
final class AdsNightly(spark: SparkSession, tracer: Tracer, input: String,
                       work: String, rows: Seq[QueryDef]) extends Workload {
  // nothing to set up: the pipelines load their inputs themselves
  def setup(): Map[String, String] = Map.empty
  def warmups: Int = 0
  def limit: Int = Int.MaxValue
  def cycle: Int = 1
  def op(i: Int): Map[String, String] = {
    val out = s"$work/out/op$i"
    rows.foreach { q =>
      val df = tracer.span("pipelines", "pipelines.build")(q.fn(spark, input))
      tracer.span("io", "io.publish")(Sinks.publishAtomic(df, s"$out/${q.name}"))
      spark.catalog.clearCache()
    }
    Map("out" -> out)
  }
}

/** The incremental admission service: four mb_ stores (seen documents,
  * band index, fingerprints, audits) seeded with the corpus, then one
  * arrival batch per operation through `Admission.processMicroBatch`,
  * with `Admission.compactStore` over every store after the last arrival
  * of each cycle of `compactEvery`. The warm-up arrival compacts too,
  * so the timed cycles start on compacted stores and with the compaction
  * code warm. */
final class AdmissionService(spark: SparkSession, tracer: Tracer, input: String,
                             work: String, batchSize: Int, compactEvery: Int)
    extends Workload {
  private var root = ""
  private var batches: Vector[Vector[(Long, String)]] = Vector.empty
  private def store(name: String) = s"$root/$name"
  private val stores = Seq("seen", "index", "fps", "audit")
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def setup(): Map[String, String] = {
    root = s"$work/stores"
    val docs = tracer.span("core", "core.load")(
      Tables.documents(spark, input).select(col("doc_id"), col("text")))
    // the q98 split: every doc_id % 10 == 7 arrives, the rest is the corpus
    val corpus = docs.where(col("doc_id") % 10 =!= 7)
    corpus.write.parquet(s"${store("seen")}/mb_init")
    corpus.select(TextStats.fingerprint(col("text")).as("fp"))
      .write.parquet(s"${store("fps")}/mb_init")
    val t0 = System.nanoTime()
    tracer.span("llm", "llm.index_build") {
      Dedup.minhashBandIndex(corpus, "doc_id", "text")
        .write.parquet(s"${store("index")}/mb_init")
    }
    val indexBuildS = (System.nanoTime() - t0) / 1e9
    new java.io.File(store("audit")).mkdirs()
    val arriving = docs.where(col("doc_id") % 10 === 7).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toVector
    batches = arriving.grouped(batchSize).toVector
    Map("corpus_docs" -> corpus.count().toString, "arrivals" -> batches.size.toString,
      "index_build_s" -> indexBuildS.toString)
  }

  def warmups: Int = 1
  def limit: Int = batches.size - warmups
  def cycle: Int = compactEvery

  private def storeDirs: Int = stores.map { s =>
    Option(new java.io.File(store(s)).listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
  }.sum

  def op(i: Int): Map[String, String] = {
    val k = if (i < 0) -i - 1 else warmups + i
    val rows = batches(k)
    val dirs = storeDirs
    val batch: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, t) => Row(id, t) }: _*), schema)
    tracer.span("llm", "llm.admit") {
      Admission.processMicroBatch(batch, k.toLong, "doc_id", "text",
        store("seen"), store("index"), store("fps"), store("audit"))
    }
    val compact = (k + 1 - warmups) % compactEvery == 0
    if (compact) tracer.span("llm", "llm.compact") {
      stores.foreach(s => Admission.compactStore(spark, store(s), safeBelow = k.toLong))
    }
    Map("batch" -> k.toString, "docs" -> rows.size.toString,
      "batch_bytes" -> rows.map(_._2.getBytes("UTF-8").length.toLong).sum.toString,
      "store_dirs" -> dirs.toString, "compacted" -> compact.toString,
      "first_id" -> rows.head._1.toString, "last_id" -> rows.last._1.toString,
      "audit" -> store("audit"))
  }
}
