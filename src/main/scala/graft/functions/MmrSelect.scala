package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Greedy maximal-marginal-relevance selection as ONE bounded-buffer
  * TypedImperativeAggregate: per group (query), ingest the candidate
  * relevances and the candidate-pair similarities — both already cut
  * to ≤kBranch / ≤kBranch² rows by the caller's bounded-heap harvest —
  * then run the k-step greedy argmax of `7·rel − 3·maxSimToSelected`
  * (λ=0.7 in exact integer micro-units, ties to the smaller id)
  * locally at eval time. Emits
  * array&lt;struct&lt;neighbor_id, rel_micro, max_sim_micro,
  * mmr_micro, sel_rank&gt;&gt; in selection order.
  *
  * Why an aggregate, not a k-step DataFrame fold: the fold's every
  * step is its own join+window+materialization job — measured ~8.5 s
  * of pure job-scheduling latency for 300 rows of real work at sf0.1.
  * Here the same trajectory is one exchange on the query key over the
  * parameter-bounded candidate/pair rows and a local O(k·kBranch)
  * greedy; buffer memory is O(kBranch²) per group BY CONSTRUCTION
  * (the caller feeds only harvested candidates), independent of
  * corpus size. Same ladder rung (b) as [[TopKPairs]]/[[BottomK]]:
  * a custom aggregate where built-in composition cannot express the
  * sequential selection without per-step shuffles.
  *
  * Input rows are the candidate table LEFT-joined to its pair-sim
  * table: (nid, rel, cb, sim), where cb/sim are null for a
  * single-candidate group. Arithmetic is all-integer, so the
  * trajectory is bit-reproducible against the unrolled-CTE oracle.
  */
case class MmrSelect(
    nid: Expression,
    rel: Expression,
    cb: Expression,
    sim: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MmrSelect.Buf]
  with ImplicitCastInputTypes {

  require(k > 0, "k must be positive")

  override def inputTypes: Seq[DataType] =
    Seq(LongType, LongType, LongType, LongType)

  override def children: Seq[Expression] = Seq(nid, rel, cb, sim)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("neighbor_id", LongType, nullable = false),
      StructField("rel_micro", LongType, nullable = false),
      StructField("max_sim_micro", LongType, nullable = false),
      StructField("mmr_micro", LongType, nullable = false),
      StructField("sel_rank", IntegerType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): MmrSelect.Buf = new MmrSelect.Buf()

  override def update(buf: MmrSelect.Buf, input: InternalRow): MmrSelect.Buf = {
    val n = nid.eval(input)
    val r = rel.eval(input)
    if (n != null && r != null) {
      val id = n.asInstanceOf[Long]
      buf.rels.put(id, r.asInstanceOf[Long])
      val c = cb.eval(input)
      val s = sim.eval(input)
      if (c != null && s != null)
        buf.sims.put((id, c.asInstanceOf[Long]), s.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: MmrSelect.Buf, other: MmrSelect.Buf): MmrSelect.Buf = {
    buf.rels.putAll(other.rels)
    buf.sims.putAll(other.sims)
    buf
  }

  override def eval(buf: MmrSelect.Buf): Any = {
    import scala.jdk.CollectionConverters._
    // deterministic id order makes every argmax tie-break explicit
    val ids = buf.rels.keySet().asScala.toArray.sorted
    val selected = new Array[Long](math.min(k, ids.length))
    val out = new Array[Any](selected.length)
    val taken = new java.util.HashSet[Long]()
    var step = 0
    while (step < selected.length) {
      var bestId = Long.MinValue
      var bestScore = Long.MinValue
      var bestRel = 0L
      var bestMax = 0L
      var i = 0
      while (i < ids.length) {
        val id = ids(i)
        if (!taken.contains(id)) {
          val r = buf.rels.get(id)
          var maxSim = 0L
          if (step > 0) {
            maxSim = Long.MinValue
            var j = 0
            while (j < step) {
              // an absent (candidate, selected) pair has no similarity
              // to count — skipped, not read as 0
              val key = (id, selected(j))
              if (buf.sims.containsKey(key)) {
                val s = buf.sims.get(key)
                if (s > maxSim) maxSim = s
              }
              j += 1
            }
            if (maxSim == Long.MinValue) maxSim = 0L
          }
          val score = 7L * r - 3L * maxSim
          // strict >: ids ascend, so ties keep the SMALLER id
          if (score > bestScore) {
            bestScore = score; bestId = id; bestRel = r; bestMax = maxSim
          }
        }
        i += 1
      }
      selected(step) = bestId
      taken.add(bestId)
      out(step) = new GenericInternalRow(
        Array[Any](bestId, bestRel, bestMax, bestScore, step + 1))
      step += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: MmrSelect.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(
      8 + 16 * buf.rels.size() + 24 * buf.sims.size())
    bb.putInt(buf.rels.size())
    bb.putInt(buf.sims.size())
    buf.rels.forEach((id, r) => { bb.putLong(id); bb.putLong(r); () })
    buf.sims.forEach((key, s) => {
      bb.putLong(key._1); bb.putLong(key._2); bb.putLong(s); ()
    })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MmrSelect.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val nr = bb.getInt
    val ns = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < nr) { buf.rels.put(bb.getLong, bb.getLong); i += 1 }
    i = 0
    while (i < ns) {
      buf.sims.put((bb.getLong, bb.getLong), bb.getLong); i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MmrSelect =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MmrSelect =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): MmrSelect =
    copy(nid = c(0), rel = c(1), cb = c(2), sim = c(3))
}

object MmrSelect {

  /** Mutable per-group state: candidate relevances + pair sims, both
    * parameter-bounded by the caller's harvest. */
  final class Buf {
    val rels = new java.util.HashMap[Long, Long]()
    val sims = new java.util.HashMap[(Long, Long), Long]()
  }

  /** Validated SQL builder (same contract as [[TopKPairs.fromExprs]]):
    * `mmr_select(nid, rel, cb, sim, k)` with k a foldable integral
    * literal. */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 5)
      throw new IllegalArgumentException(
        s"mmr_select expects 5 arguments, got ${exprs.length}")
    if (!exprs(4).foldable)
      throw new IllegalArgumentException(
        "mmr_select: k must be a literal, not a column")
    val k = exprs(4).eval(InternalRow.empty) match {
      case i: Int                  => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short                => s.toInt
      case b: Byte                 => b.toInt
      case other => throw new IllegalArgumentException(
        s"mmr_select: k must be an integral literal, got $other")
    }
    MmrSelect(exprs.head, exprs(1), exprs(2), exprs(3), k)
      .toAggregateExpression()
  }

  /** Column-API entry: greedy MMR top-k per group over
    * (nid, rel, cb, sim) candidate/pair rows. */
  def mmrSelect(nid: Column, rel: Column, cb: Column, sim: Column,
      k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      MmrSelect(ColumnBridge.expression(nid), ColumnBridge.expression(rel),
        ColumnBridge.expression(cb), ColumnBridge.expression(sim), k)
        .toAggregateExpression())
  }
}
