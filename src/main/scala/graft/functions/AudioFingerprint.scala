package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StructField, StructType}

/** Acoustic fingerprinting over canonical 16-bit PCM WAV payloads —
  * the audio leg of the near-dup dedup mandate, completing the
  * SimHash-text / dHash-image family with a fingerprint the SAME
  * Hamming-banding infrastructure ([[graft.llm.Dedup
  * .hammingCandidatesFromFp]]) dedups at scale.
  *
  * The signature is a Haitsma–Kalker-style energy-difference sign
  * sketch (ISMIR 2002, "A Highly Robust Audio Fingerprinting System"),
  * simplified to TIME-domain band energies so it is pure integer DSP —
  * no FFT, no floats — and therefore exactly replayable by a SQL
  * oracle (q84 pins it):
  *
  *  - channel-0 samples are split into a 9×8 grid of 72 equal
  *    contiguous TIME cells (cell k covers samples
  *    [k·n/72, (k+1)·n/72));
  *  - cell energy E(k) = Σ s² over the cell (Long-exact: n ≤ 2^31
  *    samples of |s| ≤ 2^15 keep the sum well under 2^63);
  *  - bit y·8+x is set iff E(y·9+x) > E(y·9+x+1) — the same
  *    row-structured sign-of-gradient layout as the image dHash, so
  *    the banding geometry (blocks=9, maxHamming=7, keyBlocks=2) and
  *    every exhaustiveness argument carry over unchanged.
  *
  * Energy comparisons are invariant under uniform volume scaling
  * (E scales by g² everywhere) and under sample-sign flips (energy is
  * even), and robust to small additive noise — the re-encode /
  * re-normalization duplicate classes an audio corpus dedup targets.
  * They are NOT time-shift invariant; alignment-insensitive matching
  * is a retrieval problem, not a dedup gate, and is out of scope.
  *
  * Decode contract (same canonical-header convention as
  * [[graft.llm.Multimodal.decodeWav]], tightened to the strict layout
  * so the byte walk is unambiguous): RIFF/WAVE magic, "fmt " chunk at
  * offset 12 with PCM format 1 and 16 bits/sample, "data" chunk at
  * offset 36; sample i of channel 0 is the signed LE int16 at
  * 44 + i·blockAlign. Payloads that fail the contract — or carry
  * fewer than 72 frames, too short to fill the grid — fingerprint to
  * NULL and drop out of the dedup join, exactly like undecodable
  * images. */
object AudioFingerprint {

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
    ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  private def leShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  /** Signed 16-bit LE sample. */
  private def leSample(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) | (b(off + 1) << 8)).toShort.toInt

  /** Number of channel-0 frames actually present, bounded by BOTH the
    * declared data length and the physical payload (a truncated file
    * must not read past the array; a padded one must not read junk). */
  private def frameCount(b: Array[Byte]): Int = {
    val blockAlign = leShort(b, 32)
    val declared = leInt(b, 40).toLong & 0xFFFFFFFFL
    val physical = (b.length - 44).toLong
    (math.min(declared, physical) / blockAlign).toInt
  }

  /** Can [[fp64]] fingerprint this payload? True exactly for strict
    * canonical-layout PCM16 WAVs with at least 72 frames. */
  def isFingerprintable(b: Array[Byte]): Boolean =
    b != null && b.length >= 44 + 72 * 2 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E' &&
      b(12) == 'f' && b(13) == 'm' && b(14) == 't' && b(15) == ' ' &&
      b(36) == 'd' && b(37) == 'a' && b(38) == 't' && b(39) == 'a' &&
      leShort(b, 20) == 1 && leShort(b, 34) == 16 &&
      leShort(b, 22) >= 1 && leShort(b, 32) >= 2 * leShort(b, 22) && {
        frameCount(b) >= 72
      }

  /** 64-bit energy-gradient fingerprint; caller guarantees
    * [[isFingerprintable]]. */
  def fp64(b: Array[Byte]): Long = {
    val blockAlign = leShort(b, 32)
    val n = frameCount(b)
    val e = new Array[Long](72)
    var k = 0
    while (k < 72) {
      val start = (k.toLong * n / 72).toInt
      val end = ((k + 1).toLong * n / 72).toInt
      var acc = 0L
      var i = start
      while (i < end) {
        val s = leSample(b, 44 + i * blockAlign)
        acc += s.toLong * s
        i += 1
      }
      e(k) = acc
      k += 1
    }
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (e(y * 9 + x) > e(y * 9 + x + 1)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Boxed entry for the codegen'd kernel; java null when the payload
    * fails the decode contract. */
  def fp64Boxed(b: Array[Byte]): java.lang.Long =
    if (isFingerprintable(b)) java.lang.Long.valueOf(fp64(b)) else null

  /** Can [[fpWide]] fingerprint this payload? [[isFingerprintable]]
    * plus enough frames to fill the doubled grid (136 cells). A
    * payload wide-fingerprintable is always 64-fingerprintable; the
    * converse can fail on 72–135-frame clips, which keep the 64-bit
    * path only. */
  def isFingerprintableWide(b: Array[Byte]): Boolean =
    isFingerprintable(b) && frameCount(b) >= 136

  /** The WIDE (128-bit) acoustic fingerprint: the SAME
    * energy-gradient sign sketch on a DOUBLED 17×8 time grid — 136
    * equal contiguous cells, bit y·16+x set iff E(y·17+x) >
    * E(y·17+x+1), 16 comparisons per row × 8 rows = 128 bits,
    * returned as (lo = bits 0–63, hi = bits 64–127). Doubling the
    * grid rather than adding a second sketch KIND keeps the measured
    * robustness class (neighbor-order comparisons; volume-scale and
    * sign-flip invariant) while doubling every banding block's width:
    * the r17 wide-threshold probe (SCALE.md) measured same-family
    * fixture pairs all within
    * Hamming 7 of 128 with the closest cross-family pair at 31 —
    * where the refuted average-energy companion (mean comparisons
    * flip for cells NEAR the mean) spread true pairs to 31 with
    * non-pairs at 8, inseparable at any threshold. One pass over the
    * samples; caller guarantees [[isFingerprintableWide]]. */
  def fpWide(b: Array[Byte]): Array[Long] = {
    val blockAlign = leShort(b, 32)
    val n = frameCount(b)
    val cells = 136
    val e = new Array[Long](cells)
    var k = 0
    while (k < cells) {
      val start = (k.toLong * n / cells).toInt
      val end = ((k + 1).toLong * n / cells).toInt
      var acc = 0L
      var i = start
      while (i < end) {
        val s = leSample(b, 44 + i * blockAlign)
        acc += s.toLong * s
        i += 1
      }
      e(k) = acc
      k += 1
    }
    var lo = 0L
    var hi = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 16) {
        if (e(y * 17 + x) > e(y * 17 + x + 1)) {
          val idx = y * 16 + x
          if (idx < 64) lo |= 1L << idx else hi |= 1L << (idx - 64)
        }
        x += 1
      }
      y += 1
    }
    Array(lo, hi)
  }

  /** [[fpWide]] as an InternalRow (lo, hi) for the codegen'd struct
    * expression; java null when the payload fails the wide decode
    * contract. */
  def fpWideRow(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    if (isFingerprintableWide(b)) {
      val h = fpWide(b)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h(0), h(1)))
    } else null

  /** Column API: 64-bit acoustic fingerprint of a canonical PCM16 WAV
    * payload; NULL on anything else. */
  def audio_fp(payload: Column): Column =
    GraftSqlBridge.column(WavFp64(GraftSqlBridge.expression(payload)))

  /** Column API: the 128-bit wide fingerprint as STRUCT<lo: BIGINT,
    * hi: BIGINT> ([[fpWide]]); NULL struct on undecodable or
    * sub-136-frame payloads. */
  def audio_fp_wide(payload: Column): Column =
    GraftSqlBridge.column(WavFpWide(GraftSqlBridge.expression(payload)))
}

/** Codegen'd BINARY → LONG acoustic fingerprint (see
  * [[AudioFingerprint]]); NULL for payloads failing the PCM16 decode
  * contract. */
case class WavFp64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expected BINARY, got $t")
  }
  override def nullSafeEval(b: Any): Any =
    AudioFingerprint.fp64Boxed(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { c =>
      val h = ctx.freshName("afp")
      s"""
      java.lang.Long $h = graft.functions.AudioFingerprint.fp64Boxed($c);
      if ($h != null) {
        ${ev.value} = $h.longValue();
      } else {
        ${ev.isNull} = true;
      }"""
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Codegen'd BINARY → STRUCT<lo: BIGINT, hi: BIGINT> wide acoustic
  * fingerprint (see [[AudioFingerprint.fpWide]]); NULL for payloads
  * failing the wide decode contract (PCM16 + >= 136 frames). */
case class WavFpWide(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("lo", LongType, nullable = false),
    StructField("hi", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expected BINARY, got $t")
  }
  override def nullSafeEval(b: Any): Any =
    AudioFingerprint.fpWideRow(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { c =>
      val r = ctx.freshName("afpw")
      s"""
      org.apache.spark.sql.catalyst.InternalRow $r =
        graft.functions.AudioFingerprint.fpWideRow($c);
      if ($r != null) {
        ${ev.value} = $r;
      } else {
        ${ev.isNull} = true;
      }"""
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
