package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF surface (SURVEY.md §2.5 "UDF/UDAF/UDTF"): a custom
  * `Aggregator[IN, BUF, OUT]` — Spark's idiomatic replacement for the
  * reference's per-type mapper hooks when the extension point is an
  * aggregate rather than a scalar.
  *
  * Weighted average with an exact-decimal buffer: each product is
  * rounded to DECIMAL scale 6 exactly like `CAST(x AS DECIMAL(38,6))`
  * (valueOf shortest-repr + HALF_UP, mirroring Spark's Cast), so the
  * result is order-independent and reproducible by the DuckDB oracle —
  * the same stabilization trick as the `dsum` helper. */
object WeightedAvg extends Aggregator[(Double, Double), (JBigDecimal, JBigDecimal), Double] {

  private def d6(x: Double): JBigDecimal =
    JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)

  override def zero: (JBigDecimal, JBigDecimal) =
    (JBigDecimal.ZERO, JBigDecimal.ZERO)

  override def reduce(b: (JBigDecimal, JBigDecimal), in: (Double, Double)): (JBigDecimal, JBigDecimal) = {
    val (x, w) = in
    (b._1.add(d6(x * w)), b._2.add(d6(w)))
  }

  override def merge(a: (JBigDecimal, JBigDecimal), b: (JBigDecimal, JBigDecimal)): (JBigDecimal, JBigDecimal) =
    (a._1.add(b._1), a._2.add(b._2))

  override def finish(r: (JBigDecimal, JBigDecimal)): Double =
    if (r._2.signum() == 0) Double.NaN
    else r._1.doubleValue() / r._2.doubleValue()

  override def bufferEncoder: Encoder[(JBigDecimal, JBigDecimal)] =
    Encoders.tuple(Encoders.DECIMAL, Encoders.DECIMAL)

  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** Single-pass SimHash: folds the 60 bit-votes of each md5 token hash
  * into one vote array per document, so the exchange carries ONE partial
  * buffer row per doc instead of the 60 vote rows the groupBy-bits
  * formulation shuffles. Bit b of the fingerprint is set when the
  * accumulated vote for bit b of the token-hash nibbles is positive —
  * exactly the arithmetic of the DuckDB oracle
  * (`(strpos('0123456789abcdef', substr(h, b//4+1, 1))-1 >> b%4) & 1`,
  * votes summed as `bit*2-1`, fingerprint `Σ 1<<b where vote>0`). */
object SimHashAgg extends Aggregator[String, Array[Int], Long] {
  private val Bits = 60

  override def zero: Array[Int] = new Array[Int](Bits)

  override def reduce(votes: Array[Int], h: String): Array[Int] = {
    var b = 0
    while (b < Bits) {
      val digit = Character.digit(h.charAt(b / 4), 16)
      votes(b) += (((digit >> (b % 4)) & 1) * 2) - 1
      b += 1
    }
    votes
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < Bits) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(votes: Array[Int]): Long = {
    var acc = 0L
    var b = 0
    while (b < Bits) { if (votes(b) > 0) acc |= 1L << b; b += 1 }
    acc
  }

  // public API only: the catalyst ExpressionEncoder is private-ish and
  // unstable across Spark versions; kryo round-trips Array[Int] fine and
  // only pays serialization at the exchange boundary
  override def bufferEncoder: Encoder[Array[Int]] = Encoders.kryo[Array[Int]]

  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** Count-Min Sketch (Cormode & Muthukrishnan, "An improved data stream
  * summary: the count-min sketch and its applications") as a NATIVE
  * Catalyst aggregate (`TypedImperativeAggregate`): the whole token
  * stream of a partition reduces to one d×w long matrix, partials merge
  * by elementwise addition at the exchange, and the final buffer is the
  * sketch — the single-pass frequency summary a 100 TB pipeline keeps
  * when exact per-term counts would need a corpus-wide shuffle.
  *
  * The input is the PRE-HASHED bucket vector (one bucket per sketch
  * row, computed by codegen'd md5 expressions in the query — the repo's
  * hex-fold hash family both engines evaluate identically), so the
  * aggregate itself only counts: update is d array increments. The
  * sketch is exact-deterministic (pure integer counting), which is what
  * lets a DuckDB oracle replicate estimates bit-for-bit.
  */
case class CountMinAgg(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    d: Int,
    w: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]] {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val bs = child.eval(input).asInstanceOf[ArrayData]
    if (bs != null) {
      var j = 0
      while (j < d) { buf(j * w + bs.getInt(j)) += 1L; j += 1 }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression]): CountMinAgg =
    copy(child = c.head)
}

object CountMin {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  /** `count_min(bucketVector) -> ARRAY<BIGINT>[d*w]` over an
    * `ARRAY<INT>` column of per-row bucket indices. */
  def apply(buckets: Column, d: Int, w: Int): Column =
    ColumnBridge.column(
      CountMinAgg(ColumnBridge.expression(buckets), d, w).toAggregateExpression())
}

/** Bounded single-pass posting-list collector for [[graft.queries.LlmPipeline.buckets]]
  * (opt r17, guide §2.4 — remove shuffles outright): one aggregate
  * yields BOTH the exact group count `n` AND the complete sorted member
  * list for under-cap groups, so the bucket machinery's old two-pass
  * shape (a df count pass + left-anti hot-drop + a second full shuffle
  * into collect_list) collapses to ONE exchange.
  *
  * Memory contract — the reason the two-pass shape existed: a
  * degenerate key ("all rights reserved" at corpus scale) must not grow
  * an unbounded collect_list buffer on its reducer. Here the buffer
  * stops accumulating the moment its count exceeds `cap` (the list is
  * dropped, only the exact count keeps counting), so per-group state is
  * bounded by cap longs. That bounds memory, not the shuffle: `buckets`
  * hash-partitions the raw `(key, doc_id)` rows before this aggregate,
  * whose partial and final phases then both run behind that exchange —
  * in effect complete mode — so no capped partial buffer crosses it.
  *
  * Counting law: only non-null ids count toward `n` (and enter the
  * list), so `n` is `size(collect_list(id))`, not the group's row
  * count; callers whose ids are non-null see the two agree. Callers
  * drop over-cap groups on `n > cap`, and under-cap groups are never
  * trimmed, so their `ids` is the complete set — the same list as
  * `sort_array(collect_list(id))`. Eval sorts the surviving ≤cap list. */
case class CappedCollectAgg(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[CappedCollectAgg.Buf] {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("ids", ArrayType(LongType, containsNull = false), nullable = true)))

  override def createAggregationBuffer(): CappedCollectAgg.Buf =
    new CappedCollectAgg.Buf(0L, new Array[Long](math.min(cap, 16)), 0)

  override def update(buf: CappedCollectAgg.Buf, input: InternalRow): CappedCollectAgg.Buf = {
    val v = child.eval(input)
    if (v != null) {
      buf.n += 1L
      if (buf.n <= cap) {
        if (buf.len == buf.ids.length) {
          val grown = new Array[Long](math.min(cap, buf.ids.length * 2))
          System.arraycopy(buf.ids, 0, grown, 0, buf.len)
          buf.ids = grown
        }
        buf.ids(buf.len) = v.asInstanceOf[Long]
        buf.len += 1
      } else buf.len = 0 // over cap: the list is dead weight, drop it
    }
    buf
  }

  override def merge(a: CappedCollectAgg.Buf, b: CappedCollectAgg.Buf): CappedCollectAgg.Buf = {
    a.n += b.n
    if (a.n <= cap) {
      // both sides under cap by construction (n = len for each)
      if (a.len + b.len > a.ids.length) {
        val grown = new Array[Long](math.min(cap, math.max(a.len + b.len, a.ids.length * 2)))
        System.arraycopy(a.ids, 0, grown, 0, a.len)
        a.ids = grown
      }
      System.arraycopy(b.ids, 0, a.ids, a.len, b.len)
      a.len += b.len
    } else a.len = 0
    a
  }

  override def eval(buf: CappedCollectAgg.Buf): Any = {
    val out = java.util.Arrays.copyOf(buf.ids, buf.len)
    java.util.Arrays.sort(out)
    InternalRow(buf.n, new GenericArrayData(out))
  }

  override def serialize(buf: CappedCollectAgg.Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + buf.len * 8)
    bb.putLong(buf.n).putInt(buf.len)
    var i = 0
    while (i < buf.len) { bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedCollectAgg.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getLong()
    val len = bb.getInt()
    val ids = new Array[Long](math.max(len, 1))
    var i = 0
    while (i < len) { ids(i) = bb.getLong(); i += 1 }
    new CappedCollectAgg.Buf(n, ids, len)
  }

  override def withNewMutableAggBufferOffset(o: Int): CappedCollectAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedCollectAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression]): CappedCollectAgg =
    copy(child = c.head)
}

object CappedCollectAgg {
  /** Mutable aggregation state: exact group count + the first ≤cap
    * members (complete whenever n ≤ cap; abandoned once n exceeds it). */
  final class Buf(var n: Long, var ids: Array[Long], var len: Int)
}

object CappedCollect {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  /** `capped_collect(id, cap) -> STRUCT<n: BIGINT, ids: ARRAY<BIGINT>>`:
    * exact count of non-null ids + their complete sorted list iff n ≤ cap. */
  def apply(id: Column, cap: Int): Column =
    ColumnBridge.column(
      CappedCollectAgg(ColumnBridge.expression(id), cap).toAggregateExpression())
}
