package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Size-capped distinct-id bucket collector — the shared membership
  * aggregate for every LSH bucket builder (MinHash bands, SimHash
  * pigeonhole chunks, the n-gram posting index, embedding LSH codes).
  *
  * Why not `collect_set(id)` + `filter(size BETWEEN lo AND hi)`: that
  * shape enforces the skew cap AFTER the aggregate, so a hot bucket's
  * FULL membership (boilerplate mega-buckets: millions of identical-
  * signature documents at corpus scale) materializes in one
  * ObjectHashAggregate buffer — and ships through the exchange — before
  * the size filter can drop it. Exactly the executor-OOM shape the caps
  * exist to prevent, one plan step too late.
  *
  * [[CappedCollectLong]] moves the cap INTO the aggregation: the buffer
  * stops holding ids the moment its count exceeds `hi` (membership can
  * never be needed again — counts only grow), so every partial buffer
  * is bounded at `hi` ids (8 KB at hi=1000) regardless of bucket heat,
  * the shuffle carries at most `hi` ids per (map partition, hot key)
  * instead of the full membership, and over-cap buffers free their
  * array immediately. Same single-shuffle ObjectHashAggregate plan as
  * `collect_set`, same output for every surviving bucket: a bucket with
  * n ≤ hi is never truncated, and a truncated bucket is by construction
  * over-cap and dropped.
  *
  * It is a Long-specialized Catalyst [[TypedImperativeAggregate]], not
  * an `Aggregator`+`udaf` wrapper: the wrapper pays an encoder
  * round-trip per input row and a product-encoder buffer serde, which a
  * micro A/B (round 14, sf0.1 MinHash band build, docs/BENCH_NOTES) measured
  * at ~1.35× `collect_set`; this form reads the id straight off the
  * InternalRow into a growth-doubled primitive array and serializes
  * buffers as (n, len, ids) bytes.
  *
  * CONTRACT: input rows must be duplicate-free per group — (key, id)
  * pairs appear once — so count(*) ≡ count(DISTINCT id) and the
  * collected list IS the member set (unlike `collect_set`, duplicates
  * are NOT absorbed). Three callers satisfy it structurally: a doc
  * contributes one row per MinHash band / SimHash chunk, and an
  * embedding contributes one row per LSH table. The n-gram posting
  * caller satisfies it modulo xxhash64: `TextKernels.shingles` emits
  * DISTINCT strings per doc, but the postings group by the HASHED
  * shingle, so an intra-doc hash collision (~k²/2⁶⁵ per ~300-shingle
  * doc ≈ 10⁻⁶⁰) would duplicate a (key, id) row that collect_set used
  * to absorb — the same accepted collision class already documented on
  * the family's hashed shingle space, and any occurrence surfaces as a
  * DuckDB oracle mismatch. Groups whose count falls outside [lo, hi]
  * emit an EMPTY array (callers filter `size(ids) > 0`; lo ≥ 1 always,
  * so empty is unambiguous). NULL ids are skipped, as `collect_set`
  * skips them.
  *
  * Member order is accumulation order (nondeterministic across runs,
  * like `collect_set`) — every consumer sorts (`sort_array` /
  * `sortedLongPairsKernel`) before emitting pairs.
  */
object CappedCollect {

  /** Mutable (count, members) accumulator. `len` ids are live;
    * `ids.length` is capacity (growth-doubled, capped at hi). Past the
    * cap the array is freed and only `n` keeps counting. */
  final class CappedLongBuf(var n: Long, var ids: Array[Long], var len: Int)

  /** `capped_id_set(id)` aggregate column: collect the group's id set
    * iff the group size lands in [lo, hi], else an empty array. */
  def cappedIdSet(lo: Int, hi: Int, id: Column): Column = {
    require(lo >= 1 && hi >= lo, s"capped_id_set bounds [$lo, $hi]")
    // explicit ceiling: past 2^30 the growth doubling in update() could
    // overflow to a negative capacity — fail loudly at plan time instead
    require(hi <= (1 << 30), s"capped_id_set cap $hi exceeds 2^30")
    bridge.column(
      CappedCollectLong(bridge.expression(id), lo, hi).toAggregateExpression())
  }

  case class CappedCollectLong(
      child: Expression, lo: Int, hi: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedLongBuf]
    with UnaryLike[Expression] {

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"capped_id_set requires a BIGINT id column, got ${child.dataType.sql}")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "capped_id_set"

    override def createAggregationBuffer(): CappedLongBuf =
      new CappedLongBuf(0L, Array.emptyLongArray, 0)

    override def update(b: CappedLongBuf, input: InternalRow): CappedLongBuf = {
      val v = child.eval(input)
      if (v != null) {
        b.n += 1
        if (b.n <= hi) {
          if (b.len == b.ids.length)
            b.ids = java.util.Arrays.copyOf(b.ids,
              math.max(8, math.min(hi, b.ids.length * 2)))
          b.ids(b.len) = v.asInstanceOf[Long]
          b.len += 1
        } else if (b.len > 0) {          // just crossed the cap: free
          b.ids = Array.emptyLongArray
          b.len = 0
        }
      }
      b
    }

    override def merge(x: CappedLongBuf, y: CappedLongBuf): CappedLongBuf = {
      x.n += y.n
      if (x.n <= hi) {
        val out = new Array[Long](x.len + y.len)
        System.arraycopy(x.ids, 0, out, 0, x.len)
        System.arraycopy(y.ids, 0, out, x.len, y.len)
        x.ids = out
        x.len = out.length
      } else if (x.len > 0 || y.len > 0) {
        x.ids = Array.emptyLongArray
        x.len = 0
      }
      x
    }

    override def eval(b: CappedLongBuf): Any =
      if (b.n >= lo && b.n <= hi)
        // len == n here: a surviving bucket was never truncated
        UnsafeArrayData.fromPrimitiveArray(
          if (b.ids.length == b.len) b.ids else java.util.Arrays.copyOf(b.ids, b.len))
      else UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

    override def serialize(b: CappedLongBuf): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + 8 * b.len)
      bb.putLong(b.n).putInt(b.len)
      var i = 0
      while (i < b.len) { bb.putLong(b.ids(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): CappedLongBuf = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getLong()
      val len = bb.getInt()
      val ids = new Array[Long](len)
      var i = 0
      while (i < len) { ids(i) = bb.getLong(); i += 1 }
      new CappedLongBuf(n, ids, len)
    }

    override def withNewMutableAggBufferOffset(o: Int): CappedCollectLong =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): CappedCollectLong =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): CappedCollectLong =
      copy(child = c)
  }
}
