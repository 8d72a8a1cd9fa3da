package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, BoundReference, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Whole-operator Catalyst extension #2: a native sorted-merge BOUNDED-RANGE
  * (interval) join — the sibling of [[AsofMergeJoin]].
  *
  * Semantics: inner join emitting every (l, r) pair with `l.key = r.key`
  * and `|l.time − r.time| ≤ window` (times are epoch-microsecond longs).
  * Null keys or times never match, matching the SQL equality + range
  * predicate the oracle runs.
  *
  * Why a physical operator when [[graft.operators.RangeJoin.within]]
  * already composes this from cell replication + equi-join: the bucketed
  * form pays a 3× replication of the left side through the shuffle and
  * re-verifies the range predicate on every candidate; a naive
  * `a.join(b, key && abs(at−bt) ≤ w)` is worse — Spark plans a per-key
  * nested loop. The merge exec shuffles each side ONCE, unreplicated
  * (EnsureRequirements elides even that when a child is already clustered
  * on the key — bucketed tables, upstream aggregates), and then streams
  * both sorted sides with a sliding window buffer. Work is
  * O(|L| + |R| + matches) and retained state is exactly the right rows
  * inside one 2·window span of a single key — the minimum any algorithm
  * must hold. At 100 TB the replication factor and the window-sort of the
  * union are the terms that dominate; this operator has neither.
  *
  * Reference ground: the reference engine's half-open time-range scan
  * (`internal/service/elastic/elastic.go:60-88`) is the 1-sided special
  * case; this generalizes it to a symmetric interval pairing.
  */
case class RangeJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    windowMicros: Long,
    carried: Seq[Attribute],
    carriedOut: Seq[Attribute]
) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ carriedOut
  override def producedAttributes: AttributeSet = AttributeSet(carriedOut)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan,
      newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinPlan(l, r, lk, rk, lt, rt, w, carried, carriedOut) =>
      RangeMergeJoinExec(lk, rk, lt, rt, w, carried, carriedOut, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical sorted-merge bounded-range join.
  *
  * Layout contract (declared; EnsureRequirements inserts or ELIDES the
  * exchanges/sorts): both children clustered on their key, sorted by
  * (key, time asc). Per co-partition the exec runs a two-pointer merge
  * with a sliding buffer:
  *
  *  - advance the right iterator past keys behind the left cursor;
  *  - while the right head has the SAME key and time ≤ lt + w, append a
  *    copied (key, time, carried…) projection to the buffer — each right
  *    row is consumed exactly once per partition;
  *  - evict buffer rows with time < lt − w (left times ascend within a
  *    key, so eviction is monotone — a dropped row can never match a
  *    later left row);
  *  - every surviving buffered row matches: emit left × buffer.
  *
  * The buffer is compacted in place once eviction passes half the array,
  * so memory is O(max rows of one key within 2·window), not O(partition).
  */
case class RangeMergeJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    windowMicros: Long,
    carried: Seq[Attribute],
    carriedOut: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan
) extends BinaryExecNode {

  require(leftTime.dataType == LongType && rightTime.dataType == LongType,
    "range merge join times must be epoch-microsecond longs (use unix_micros)")

  // First-class observability, like every built-in join: pair volume and
  // the peak sliding-buffer population (the operator's memory bound — at
  // scale this is the number that says whether a window is too wide).
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    // accumulators merge by SUM, so the driver shows the sum of
    // per-partition peaks — an upper bound on any single task's buffer
    "peakBufferRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createSizeMetric(sparkContext, "sliding-buffer rows (sum of per-partition peaks)"))

  override def output: Seq[Attribute] = left.output ++ carriedOut

  override def producedAttributes: AttributeSet = AttributeSet(carriedOut)

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan,
      newRight: SparkPlan): RangeMergeJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    val carriedB = carried.map(a => BindReferences.bindReference(a: Expression, right.output))
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val keyDT = leftKey.dataType
    val outAttrs = output
    val w = windowMicros

    // Primitive fast path: when key and both times bind to plain long
    // columns (the common case — keys and unix_micros timestamps), read
    // them with getLong instead of boxing through Expression.eval +
    // interpreted ordering. Measured ~2× on the many-keys direction
    // (NOTES.md "Range-join family: measured crossover"), where per-row
    // overhead, not candidate
    // volume, dominates.
    def longRef(e: Expression): Int = e match {
      case b: BoundReference if b.dataType == LongType => b.ordinal
      case _ => -1
    }
    val lkOrd = longRef(lKeyB); val ltOrd = longRef(lTimeB)
    val rkOrd = longRef(rKeyB); val rtOrd = longRef(rTimeB)
    val allLong = lkOrd >= 0 && ltOrd >= 0 && rkOrd >= 0 && rtOrd >= 0 &&
      leftKey.dataType == LongType && rightKey.dataType == LongType

    val numOutputRows = longMetric("numOutputRows")
    val peakBufferRows = longMetric("peakBufferRows")

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // Buffered rows carry (key, time, carried…) so key-change detection
      // and eviction read the COPY, never a sorter-reused buffer.
      val bufProj = UnsafeProjection.create(Seq(rKeyB, rTimeB) ++ carriedB)
      val bufCarried = UnsafeProjection.create(
        carried.zipWithIndex.map { case (a, i) =>
          BoundReference(i + 2, a.dataType, nullable = true): Expression
        })
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joiner = new JoinedRow
      val rBuf = rIter.buffered

      new Iterator[InternalRow] {
        private val buf = new ArrayBuffer[InternalRow]
        private var head = 0
        private var lRow: InternalRow = null
        private var matchIdx = 0

        // current left cursor (fast path caches the primitives)
        private var lkLong = 0L
        private var ltLong = 0L

        /** Generic advance: interpreted ordering, boxed eval. */
        private def pullRightGeneric(lk: Any, lt: Long): Unit = {
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rk = rKeyB.eval(rBuf.head)
            val rtv = rTimeB.eval(rBuf.head)
            if (rk == null || rtv == null) { rBuf.next() }
            else {
              val kc = keyOrd.compare(rk, lk)
              if (kc < 0) rBuf.next()
              else if (kc == 0 && rtv.asInstanceOf[Long] <= lt + w) {
                buf += bufProj(rBuf.next()).copy()
              } else advancing = false
            }
          }
        }

        /** Primitive advance: getLong, no boxing. */
        private def pullRightLong(lk: Long, lt: Long): Unit = {
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val r = rBuf.head
            if (r.isNullAt(rkOrd) || r.isNullAt(rtOrd)) { rBuf.next() }
            else {
              val rk = r.getLong(rkOrd)
              if (rk < lk) rBuf.next()
              else if (rk == lk && r.getLong(rtOrd) <= lt + w) {
                buf += bufProj(rBuf.next()).copy()
              } else advancing = false
            }
          }
        }

        /** Advance the left cursor until a row with ≥1 match is staged. */
        private def stage(): Unit = {
          while (lRow == null && lIter.hasNext) {
            val row = lIter.next()
            val lkNull = if (allLong) row.isNullAt(lkOrd) || row.isNullAt(ltOrd)
              else { val k = lKeyB.eval(row); val t = lTimeB.eval(row)
                if (k == null || t == null) true else { lkBoxed = k; ltLong = t.asInstanceOf[Long]; false } }
            if (!lkNull) {
              if (allLong) { lkLong = row.getLong(lkOrd); ltLong = row.getLong(ltOrd) }
              val lt = ltLong
              // key changed ⇒ the whole buffer belongs to a previous key
              if (head < buf.length) {
                val changed =
                  if (allLong) buf(head).getLong(0) != lkLong
                  else keyOrd.compare(buf(head).get(0, keyDT), lkBoxed) != 0
                if (changed) { buf.clear(); head = 0 }
              }
              // pull right rows of this key up to lt + w (unconsumed rows
              // beyond the horizon stay for later left rows)
              if (allLong) pullRightLong(lkLong, lt) else pullRightGeneric(lkBoxed, lt)
              if (buf.length - head > 0) peakBufferRows.set(
                math.max(peakBufferRows.value, (buf.length - head).toLong))
              // evict below the window; compact once half the array is dead
              while (head < buf.length && buf(head).getLong(1) < lt - w) head += 1
              if (head == buf.length) { buf.clear(); head = 0 }
              else if (head > 64 && head * 2 > buf.length) {
                val live = buf.slice(head, buf.length)
                buf.clear(); buf ++= live; head = 0
              }
              if (head < buf.length) { lRow = row; matchIdx = head }
            }
          }
        }

        private var lkBoxed: Any = null

        override def hasNext: Boolean = { stage(); lRow != null }

        override def next(): InternalRow = {
          stage()
          val out = resultProj(joiner(lRow, bufCarried(buf(matchIdx))))
          matchIdx += 1
          numOutputRows += 1
          if (matchIdx >= buf.length) lRow = null // all matches emitted
          out
        }
      }
    }
  }
}

/** Construction helper mirroring [[AsofMergeJoin]]: resolves column names
  * against the analyzed children, registers the strategy idempotently, and
  * wraps the custom logical node back into a DataFrame. `carried` maps
  * right-side column name → output name (must not collide with left).
  */
object RangeMergeJoin {
  def apply(
      leftDf: DataFrame,
      rightDf: DataFrame,
      leftKeyCol: String,
      rightKeyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      windowMicros: Long,
      carried: Seq[(String, String)]
  ): DataFrame = {
    val spark = leftDf.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(RangeJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RangeJoinStrategy
    }
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    // Key dtypes must match exactly (ADVICE r5): a mismatched pair (int vs
    // long) passes analysis but mis-reads the unsafe buffer / CCEs in the
    // interpreted ordering at runtime — fail at construction with a clear
    // message instead.
    val lk = attr(lPlan, leftKeyCol)
    val rk = attr(rPlan, rightKeyCol)
    require(lk.dataType == rk.dataType,
      s"range-join key types must match: $leftKeyCol is ${lk.dataType}, " +
        s"$rightKeyCol is ${rk.dataType}")
    val carriedAttrs = carried.map { case (src, _) => attr(rPlan, src) }
    val carriedOut = carried.map { case (src, out) =>
      AttributeReference(out, attr(rPlan, src).dataType, nullable = true)()
    }
    org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(
      spark,
      RangeJoinPlan(
        lPlan, rPlan,
        attr(lPlan, leftKeyCol), attr(rPlan, rightKeyCol),
        attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol),
        windowMicros, carriedAttrs, carriedOut))
  }
}
