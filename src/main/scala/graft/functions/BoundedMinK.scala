package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-state top-k accumulator for the capped Hamming banding:
  * the k SMALLEST (id, sh) members of a group plus the group's TRUE
  * size, in one hash aggregation whose per-group state is O(k) — a
  * size-k max-heap — regardless of group width.
  *
  * Why not `sort_array(collect_list(...))` + `slice`: collect_list
  * materializes the ENTIRE group in one unspillable aggregation
  * buffer before the slice truncates, so the width-10^7 degenerate
  * family the bucket cap exists for builds a ~10^7-struct array per
  * (combo, key) buffer — executor OOM at real executor sizes even
  * though the capped OUTPUT is tiny. Why not a rank window
  * (row_number <= k+1 → WindowGroupLimit): bounded too, but it pays a
  * per-partition SORT of every keyed row — measured 1.6-1.9× slower
  * than the hash-agg collect at 10^4-10^6 widths (r13 capped-banding
  * probe, SCALE.md) — and
  * silently loses the map-side truncation when k crosses
  * spark.sql.window.group.limit.threshold. This aggregate keeps the
  * hash-agg shape (ObjectHashAggregate; map-side partial merge bounds
  * shuffle volume at k+heap per group per map task) with heap state.
  *
  * Mergeable: partial buffers merge by re-inserting members and
  * summing true counts, so AQE/speculative retries compose exactly.
  * Output: struct(ms: array<struct<id,sh>> — the k smallest, id ASC —
  * n: the true group size). ids must be unique within a group (the
  * banding explodes each id once per combo), making the result
  * deterministic. */
object BoundedMinK {
  def collect_min_k(id: Column, sh: Column, k: Int): Column =
    GraftSqlBridge.column(CollectMinK(
      GraftSqlBridge.expression(id), GraftSqlBridge.expression(sh), k)
      .toAggregateExpression())

  /** [[collect_min_k]] for the WIDE (128-bit) banding: the payload is
    * the fingerprint's two Long halves. Same O(k) heap, same true
    * count, output struct(ms: array<struct<id,lo,hi>>, n). */
  def collect_min_k2(id: Column, lo: Column, hi: Column, k: Int): Column =
    GraftSqlBridge.column(CollectMinK2(
      GraftSqlBridge.expression(id), GraftSqlBridge.expression(lo),
      GraftSqlBridge.expression(hi), k)
      .toAggregateExpression())
}

/** O(k) max-heap on id: keeps the k smallest ids seen, counts all. */
final class MinKState(val k: Int) {
  val ids = new Array[Long](k)
  val shs = new Array[Long](k)
  var size = 0
  var total = 0L

  private def swap(i: Int, j: Int): Unit = {
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val ts = shs(i); shs(i) = shs(j); shs(j) = ts
  }
  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && ids((i - 1) / 2) < ids(i)) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }
  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && ids(l) > ids(m)) m = l
      if (r < size && ids(r) > ids(m)) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }
  /** Offer a member without counting (merge path). */
  def offer(id: Long, sh: Long): Unit = {
    if (size < k) { ids(size) = id; shs(size) = sh; size += 1; siftUp(size - 1) }
    else if (k > 0 && id < ids(0)) { ids(0) = id; shs(0) = sh; siftDown() }
  }
}

case class CollectMinK(idExpr: Expression, shExpr: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MinKState] {
  require(k >= 1, s"k out of range: $k")

  override def children: Seq[Expression] = Seq(idExpr, shExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("ms", ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sh", LongType, nullable = false))),
      containsNull = false), nullable = false),
    StructField("n", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (idExpr.dataType == LongType && shExpr.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected (BIGINT, BIGINT), got ${idExpr.dataType} / ${shExpr.dataType}")

  override def createAggregationBuffer(): MinKState = new MinKState(k)

  override def update(b: MinKState, input: InternalRow): MinKState = {
    // `n` is the TRUE group size including null members — the
    // count(lit(1)) this aggregate replaced counted every keyed row,
    // and the over-cap sentinel keys off `n`, so a bucket straddling
    // the cap only via null-fingerprint rows must still trip it.
    // Null members stay out of the heap (as collect_list dropped them).
    b.total += 1
    val id = idExpr.eval(input)
    val sh = shExpr.eval(input)
    if (id != null && sh != null)
      b.offer(id.asInstanceOf[Long], sh.asInstanceOf[Long])
    b
  }

  override def merge(b: MinKState, o: MinKState): MinKState = {
    b.total += o.total
    var i = 0
    while (i < o.size) { b.offer(o.ids(i), o.shs(i)); i += 1 }
    b
  }

  override def eval(b: MinKState): Any = {
    val pairs = (0 until b.size).map(i => (b.ids(i), b.shs(i))).sortBy(_._1)
    new GenericInternalRow(Array[Any](
      new GenericArrayData(pairs.map { case (id, sh) =>
        new GenericInternalRow(Array[Any](id, sh)): Any
      }.toArray),
      b.total))
  }

  override def serialize(b: MinKState): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + 16 * b.size)
    bb.putLong(b.total).putInt(b.size)
    var i = 0
    while (i < b.size) { bb.putLong(b.ids(i)).putLong(b.shs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MinKState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new MinKState(k)
    b.total = bb.getLong()
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val id = bb.getLong(); val sh = bb.getLong()
      b.offer(id, sh)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectMinK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectMinK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CollectMinK =
    copy(idExpr = c(0), shExpr = c(1))
}

/** [[MinKState]] with a two-Long payload (the 128-bit fingerprint's
  * halves): same O(k) max-heap on id. */
final class MinK2State(val k: Int) {
  val ids = new Array[Long](k)
  val los = new Array[Long](k)
  val his = new Array[Long](k)
  var size = 0
  var total = 0L

  private def swap(i: Int, j: Int): Unit = {
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val tl = los(i); los(i) = los(j); los(j) = tl
    val th = his(i); his(i) = his(j); his(j) = th
  }
  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && ids((i - 1) / 2) < ids(i)) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }
  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && ids(l) > ids(m)) m = l
      if (r < size && ids(r) > ids(m)) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }
  def offer(id: Long, lo: Long, hi: Long): Unit = {
    if (size < k) {
      ids(size) = id; los(size) = lo; his(size) = hi
      size += 1; siftUp(size - 1)
    } else if (k > 0 && id < ids(0)) {
      ids(0) = id; los(0) = lo; his(0) = hi; siftDown()
    }
  }
}

/** [[CollectMinK]] with a (lo, hi) fingerprint payload — the capped
  * path of [[graft.llm.Dedup.hammingCandidatesFromFp128]]. Same
  * null/count contract: `n` counts every keyed row, null-fingerprint
  * members stay out of the heap. */
case class CollectMinK2(idExpr: Expression, loExpr: Expression,
                        hiExpr: Expression, k: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MinK2State] {
  require(k >= 1, s"k out of range: $k")

  override def children: Seq[Expression] = Seq(idExpr, loExpr, hiExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("ms", ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("lo", LongType, nullable = false),
      StructField("hi", LongType, nullable = false))),
      containsNull = false), nullable = false),
    StructField("n", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (idExpr.dataType == LongType && loExpr.dataType == LongType &&
        hiExpr.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected (BIGINT, BIGINT, BIGINT), got ${idExpr.dataType} / " +
        s"${loExpr.dataType} / ${hiExpr.dataType}")

  override def createAggregationBuffer(): MinK2State = new MinK2State(k)

  override def update(b: MinK2State, input: InternalRow): MinK2State = {
    b.total += 1
    val id = idExpr.eval(input)
    val lo = loExpr.eval(input)
    val hi = hiExpr.eval(input)
    if (id != null && lo != null && hi != null)
      b.offer(id.asInstanceOf[Long], lo.asInstanceOf[Long],
        hi.asInstanceOf[Long])
    b
  }

  override def merge(b: MinK2State, o: MinK2State): MinK2State = {
    b.total += o.total
    var i = 0
    while (i < o.size) { b.offer(o.ids(i), o.los(i), o.his(i)); i += 1 }
    b
  }

  override def eval(b: MinK2State): Any = {
    val rows = (0 until b.size)
      .map(i => (b.ids(i), b.los(i), b.his(i))).sortBy(_._1)
    new GenericInternalRow(Array[Any](
      new GenericArrayData(rows.map { case (id, lo, hi) =>
        new GenericInternalRow(Array[Any](id, lo, hi)): Any
      }.toArray),
      b.total))
  }

  override def serialize(b: MinK2State): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + 24 * b.size)
    bb.putLong(b.total).putInt(b.size)
    var i = 0
    while (i < b.size) {
      bb.putLong(b.ids(i)).putLong(b.los(i)).putLong(b.his(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MinK2State = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new MinK2State(k)
    b.total = bb.getLong()
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val id = bb.getLong(); val lo = bb.getLong(); val hi = bb.getLong()
      b.offer(id, lo, hi)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectMinK2 =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectMinK2 =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CollectMinK2 =
    copy(idExpr = c(0), loExpr = c(1), hiExpr = c(2))
}
