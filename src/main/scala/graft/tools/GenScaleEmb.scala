package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** Embeddings-only decade generator for the r10 q96 IVF decade probe
  * (SCALE.md): the GenScale rotation family is exhausted past 64 replicas
  * (only 64 distinct cyclic shifts of a 64-dim vector exist), so the next
  * decade uses a per-replica SIGN-FLIP bijection instead: replica k
  * multiplies dimension j by -1 iff bit j of a per-replica 64-bit hash
  * mask is set (mask 0 for k=0, so replica 0 is the input verbatim).
  * A diagonal ±1 map is orthonormal, so intra-replica dots — and hence
  * every cosine/top-k result — are bit-preserved per replica, while
  * cross-replica dots become random-sign sums that decorrelate to
  * background similarity, exactly the "10x data = 10x work, not 100x"
  * contract GenScale documents for its rotation map.
  *
  * Usage: runMain graft.tools.GenScaleEmb <inDir> <outDir> <replicas>
  */
object GenScaleEmb {
  def main(args: Array[String]): Unit = {
    val inDir  = if (args.length > 0) args(0) else "/root/repo/testdata-sf10"
    val outDir = if (args.length > 1) args(1) else "/root/repo/testdata-sf100emb"
    val n      = if (args.length > 2) args(2).toInt else 10
    val spark  = Sessions.build("graft-genscale-emb")

    val KeyOff = 10000000000L // above every existing fixture id range
    val base = Tables.embeddings(spark, inDir)
    val out = (0 until n).map { k =>
      // splitmix64-style avalanche of the replica number; mask 0 keeps
      // replica 0 byte-identical to the input
      val mask = if (k == 0) 0L else {
        var z = (k + 1).toLong * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      val signs: Seq[Float] =
        (0 until 64).map(j => if (((mask >>> j) & 1L) == 1L) -1.0f else 1.0f)
      val flipped =
        if (mask == 0L) col("embedding")
        else zip_with(col("embedding"), typedLit(signs), (x, sg) => x * sg)
      base.withColumn("vec_id", col("vec_id") + lit(k * KeyOff))
        .withColumn("embedding", flipped)
    }.reduce(_ unionAll _)
    out.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"""{"gen":"$outDir","replicas":$n,"tables":["embeddings"]}""")
    spark.stop()
  }
}
