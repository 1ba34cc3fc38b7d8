package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet,
  GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The whole-operator rung of the custom-operator ladder (SURVEY §7.3
  * preference (c)): a BROADCAST AS-OF JOIN as a first-class Catalyst
  * operator — logical node, planner strategy, physical exec — injected
  * through `SparkSessionExtensions` by [[graft.GraftExtensions]].
  *
  * [[graft.operators.AsOf.join]] documents when the COMPOSED shape
  * (union → one shuffle → running last) is optimal: both sides large.
  * This operator is the other regime that doc calls out: a small,
  * broadcast-able right side (a dimension-like state table — current
  * prices, config epochs) joined by MANY left rows. Then the composed
  * form still pays a full shuffle + sort of the LEFT side, while this
  * exec ships the right side once and answers each left row with an
  * in-memory binary search — no shuffle, no sort, no window state;
  * the left side streams through untouched (partitioning preserved).
  *
  * Semantics are identical to [[graft.operators.AsOf.join]] by
  * construction and by gate (v29 hash-matches v05's DuckDB ASOF
  * oracle): per key, the latest right row with rts <= lts, equal
  * timestamps match, null-filled when nothing precedes. The right side
  * must be unique per (key, ts) — the same contract.
  */
object AsOfJoin {

  /** Logical node. `asofOut` (the matched-ts + value columns this
    * operator PRODUCES) is fixed at construction so copy()/transform
    * during optimization never re-mints expression ids. */
  final case class AsOfJoinPlan(keyName: String, tsName: String,
      rightVals: Seq[String], asofOut: Seq[Attribute],
      left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
    override def output: Seq[Attribute] = left.output ++ asofOut
    override def producedAttributes: AttributeSet = AttributeSet(asofOut)
    // consume every child column we index by name, so column pruning
    // can never strip the key/ts/value columns out from under the exec
    override def references: AttributeSet =
      AttributeSet(left.output ++ right.output)
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Planner strategy ([[graft.GraftExtensions]] injects it). */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p: AsOfJoinPlan =>
        BroadcastAsOfJoinExec(p.keyName, p.tsName, p.rightVals, p.asofOut,
          planLater(p.left), planLater(p.right)) :: Nil
      case _ => Nil
    }
  }

  /** Physical operator: collect + broadcast the right side as a per-key
    * timestamp-sorted index, stream the left side through a per-row
    * binary search. Requires a LongType key and TimestampType ts (the
    * event-table shape this library's as-of queries use); value columns
    * are carried as opaque internal values of any type. */
  object BroadcastAsOfJoinExec {
    /** Hard cap on the collected right side — well above any dimension
      * table, far below a driver-OOMing fact table. Misuse fails with a
      * diagnostic naming the contract instead of an opaque OOM. */
    val maxRightRows: Int = 10_000_000
  }

  final case class BroadcastAsOfJoinExec(keyName: String, tsName: String,
      rightVals: Seq[String], asofOut: Seq[Attribute],
      left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

    override def output: Seq[Attribute] = left.output ++ asofOut
    override def producedAttributes: AttributeSet = AttributeSet(asofOut)
    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
      copy(left = newLeft, right = newRight)

    protected override def doExecute(): RDD[InternalRow] = {
      val rOut = right.output
      val kIdx = rOut.indexWhere(_.name == keyName)
      val tIdx = rOut.indexWhere(_.name == tsName)
      val vIdx = rightVals.map(c => rOut.indexWhere(_.name == c)).toArray
      val vTypes = vIdx.map(rOut(_).dataType)
      require(kIdx >= 0 && tIdx >= 0 && vIdx.forall(_ >= 0),
        s"right side must expose $keyName, $tsName, $rightVals")

      // driver-side index build: (key -> ts-sorted (tsMicros, packed
      // [rts, v...])) — the broadcast-able-right contract of this exec.
      // executeTake bounds DRIVER memory during the pull itself (a plain
      // executeCollect would OOM before any guard could fire); within
      // the limit the taken rows ARE the full result.
      val collected = right.executeTake(BroadcastAsOfJoinExec.maxRightRows + 1)
      require(collected.length <= BroadcastAsOfJoinExec.maxRightRows,
        s"BroadcastAsOfJoinExec right side exceeds " +
          s"${BroadcastAsOfJoinExec.maxRightRows} rows: this operator " +
          "broadcasts its right side and requires a dimension-sized state " +
          "table; use graft.operators.AsOf.join (shuffle-based) for a " +
          "fact-sized right side")
      val index: Map[Long, (Array[Long], Array[Array[Any]])] =
        collected
          .filter(r => !r.isNullAt(kIdx) && !r.isNullAt(tIdx))
          .groupBy(_.getLong(kIdx))
          .map { case (k, rs) =>
            val sorted = rs.sortBy(_.getLong(tIdx))
            val ts = sorted.map(_.getLong(tIdx))
            val vals = sorted.map { r =>
              r.getLong(tIdx).asInstanceOf[Any] +:
                vIdx.zip(vTypes).map { case (i, dt) =>
                  if (r.isNullAt(i)) null else r.get(i, dt)
                }
            }
            (k, (ts, vals))
          }
      val bc = sparkContext.broadcast(index)

      val lOut = left.output
      val lk = lOut.indexWhere(_.name == keyName)
      val lt = lOut.indexWhere(_.name == tsName)
      require(lk >= 0 && lt >= 0,
        s"left side must expose $keyName and $tsName")
      val width = 1 + vIdx.length
      left.execute().mapPartitions { iter =>
        val joined = new JoinedRow
        val proj = UnsafeProjection.create(output, lOut ++ asofOut)
        val nullRow = new GenericInternalRow(width)
        val idx = bc.value
        iter.map { lrow =>
          val matched =
            if (lrow.isNullAt(lk) || lrow.isNullAt(lt)) nullRow
            else idx.get(lrow.getLong(lk)) match {
              case Some((ts, vals)) =>
                val lts = lrow.getLong(lt)
                val p = java.util.Arrays.binarySearch(ts, lts)
                val pos = if (p >= 0) p else -p - 2 // insertion point - 1
                if (pos >= 0) new GenericInternalRow(vals(pos).toArray)
                else nullRow
              case None => nullRow
            }
          proj(joined(lrow, matched))
        }
      }
    }
  }
}
