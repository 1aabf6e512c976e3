package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Exact top-k rows per GROUP in O(k) state — the aggregate Spark
  * lacks for the "top N per key" shape, where the built-in route is a
  * window `row_number` + filter that sorts every group in full (see
  * [[BoundedTopK.topKRows]], the one caller-facing selection). This
  * aggregate keeps a k-bounded min-heap per group instead: update is
  * O(log k) per row, partial buffers merge associatively map-side like
  * any sum, and the sort that remains is the final k elements per group.
  *
  * Semantics: keep the k rows with the LARGEST `ord`, ties broken by
  * the SMALLEST `id` — a total order, so the result is deterministic
  * under any partitioning and merge order (spec-verified, and the
  * window-formulation DuckDB oracle hash-matches it). Null `ord`/`id`
  * rows are skipped, matching `row_number` over non-null orderings.
  *
  * State is (Double, Long) pairs for the demo's (score, key) shape;
  * widening the payload to a struct is mechanical (same heap, more
  * serialized fields).
  */
case class BoundedTopK(
    ord: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, "k must be positive")

  // analysis-time validation instead of a runtime ClassCastException in
  // update(); both entry surfaces (boundedTopK, SQL builder) cast their
  // arguments, so a mismatch here means a hand-built expression tree
  override def checkInputDataTypes(): TypeCheckResult =
    if (ord.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"bounded_topk: ord must be DOUBLE, got ${ord.dataType.sql}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bounded_topk: id must be BIGINT, got ${id.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def children: Seq[Expression] = Seq(ord, id)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedTopK =
    copy(ord = newChildren(0), id = newChildren(1))

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ord", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  /** Heap dequeues the WORST kept element (smallest ord; ties: largest
    * id), so eviction is a peek-compare-replace. */
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.by { case (o, i) => (-o, i) }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  /** `cand` beats `worst` iff it sorts strictly earlier in the
    * (ord DESC, id ASC) total order. */
  private def beats(cand: (Double, Long), worst: (Double, Long)): Boolean =
    cand._1 > worst._1 || (cand._1 == worst._1 && cand._2 < worst._2)

  private def add(buf: mutable.PriorityQueue[(Double, Long)],
                  e: (Double, Long)): Unit =
    if (buf.size < k) buf.enqueue(e)
    else if (beats(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null)
      add(buf, (o.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(b1: mutable.PriorityQueue[(Double, Long)],
                     b2: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    b2.foreach(add(b1, _))
    b1
  }

  /** Best-first array (ord DESC, id ASC) — downstream `posexplode`
    * yields rank = pos + 1. */
  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toSeq.sortBy { case (o, i) => (-o, i) }
    new GenericArrayData(sorted.map { case (o, i) =>
      InternalRow(o, i)
    }.toArray[Any])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (o, i) => out.writeDouble(o); out.writeLong(i) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    (1 to n).foreach(_ => buf.enqueue((in.readDouble(), in.readLong())))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "bounded_topk"
}

object BoundedTopK {
  /** DataFrame surface: `boundedTopK(ord, id, k)` aggregate Column.
    * Numeric arguments coerce to (double, long) here, so decimal/int
    * columns work without explicit casts. */
  def boundedTopK(ord: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(
      BoundedTopK(GraftColumnBridge.expression(ord.cast("double")),
        GraftColumnBridge.expression(id.cast("long")), k).toAggregateExpression())

  /** The top `k` rows of every group of `keys` — the one ranked-list
    * selection behind every per-query and per-group top-k (the
    * `sim_search*` / `sim_knn_join*` lists, shortlists and IVF probe
    * cells, `topk_grouped`, `sample_group_k`). Keeps the k largest
    * `ord` per group, ties to the smaller `id`, skipping null
    * `ord`/`id` rows. Returns `keys…, id, ord, rk` with `rk` an int
    * from 1 to ≤ k (a group with fewer than k rows keeps them all).
    * `keys` must be plain named columns: they are read again by name
    * after the aggregate.
    *
    * Why not `row_number() OVER (PARTITION BY keys ORDER BY ord DESC,
    * id ASC) <= k`: the window shuffles every scored row to |groups|
    * partitions and sorts each in full — over a corpus × queries
    * product at 100 TB that sort dwarfs the scoring. The heap reduces
    * each scan partition to a k-bounded summary map-side, so only
    * |groups| × partitions × k rows shuffle. Both spell one total
    * order, so they return the same rows: the DuckDB oracles run the
    * window, and the differential proves heap ≡ full sort. */
  def topKRows(df: DataFrame, keys: Seq[Column], ord: Column, id: Column,
               k: Int): DataFrame =
    df.groupBy(keys: _*)
      .agg(boundedTopK(ord, id, k).as("top"))
      .select(keys :+ posexplode(col("top")): _*)
      .select(keys ++ Seq(col("col.id").as("id"), col("col.ord").as("ord"),
        (col("pos") + 1).cast("int").as("rk")): _*)
}
