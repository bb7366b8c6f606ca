package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Native as-of join — the full custom-operator ladder (SURVEY §2 "as-of
  * join"; the composed union+window formulation lives in
  * [[graft.ops.AsOf]] and stays the oracle-anchored reference):
  *
  *  - [[AsOfJoin]]: a logical `BinaryNode` carrying equi-keys, the two
  *    event-time expressions and the direction;
  *  - [[AsOfJoinKeyPushdown]]: a `Rule[LogicalPlan]` that mirrors
  *    deterministic left-key predicates onto the right side, so partition
  *    pruning / parquet pushdown fire on BOTH scans;
  *  - [[AsOfJoinStrategy]]: a `SparkStrategy` planning the node into
  *  - [[AsOfJoinExec]]: a sort-merge physical operator — both sides hash-
  *    clustered on the keys and sorted by (keys, time), then one linear
  *    interleaved pass per partition with O(1) state (a single remembered
  *    row), no window buffer, no per-key materialization;
  *  - [[GraftExtensions]]: the `SparkSessionExtensions` hook
  *    (`spark.sql.extensions=graft.plans.GraftExtensions`) that installs
  *    rule + strategy at session build — the only install point.
  *
  * Why a custom operator beats the composed form at 100 TB: the
  * union+window plan shuffles BOTH sides into one partition-wide sort and
  * evaluates a `last(..., ignoreNulls)` frame per row, carrying every left
  * column through the union (right rows padded with NULL left columns and
  * vice versa — double-wide shuffle rows). This operator shuffles each
  * side with only its own columns, sorts each side independently (AQE can
  * size the two exchanges separately), and streams the merge with a single
  * remembered right row — the textbook ASOF merge the reference's engine
  * runs, re-expressed as a first-class Catalyst citizen.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean) extends BinaryNode {
  require(leftKeys.length == rightKeys.length, "key arity mismatch")

  // left-outer semantics: every left row survives; right columns nullable
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Mirrors deterministic predicates that touch ONLY left key columns onto
  * the right side (left key i ↔ right key i), e.g.
  * `asof(l, r).filter(l.user_id < 100)` also prunes the right scan. Safe
  * because a right row can only ever attach to a left row with EQUAL keys
  * — rows failing the mirrored predicate could only join to left rows
  * already dropped. The guard (`alreadyMirrored`) keeps the rule
  * idempotent under the optimizer's fixed-point batch.
  */
object AsOfJoinKeyPushdown extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, j: AsOfJoin) =>
      val keyMap: Map[Attribute, Attribute] =
        j.leftKeys.zip(j.rightKeys).collect {
          case (l: Attribute, r: Attribute) => l -> r
        }.toMap
      val leftKeyAttrs = AttributeSet(keyMap.keys)
      val mirrorable = splitConjunctivePredicates(cond).filter(p =>
        p.deterministic && p.references.nonEmpty &&
          p.references.subsetOf(leftKeyAttrs))
      val mirrored = mirrorable.map(_.transform {
        case a: Attribute => keyMap(a)
      }.asInstanceOf[Expression])
      val existing = j.right match {
        case Filter(rc, _) => splitConjunctivePredicates(rc)
        case _ => Nil
      }
      val fresh = mirrored.filterNot(m => existing.exists(_.semanticEquals(m)))
      if (fresh.isEmpty) f
      else f.copy(child = j.copy(right =
        Filter(fresh.reduce(And), j.right)))
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, fwd) =>
      AsOfJoinExec(lk, rk, lt, rt, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of execution. Required layout: both children clustered on
  * the equi-keys (Catalyst inserts the two hash exchanges) and sorted by
  * (keys, time) ascending (Catalyst inserts the sorts). Per partition the
  * merge is one forward pass over both iterators:
  *
  *  - backward (`forward=false`, match = latest right with `rt <  lt`):
  *    consume right rows while they sort strictly before the current left
  *    (key, time); the last consumed same-key row is the match. Strict-<
  *    falls out of NOT consuming `rt == lt` rows.
  *  - forward (`forward=true`, match = earliest right with `rt > lt`):
  *    consume right rows that can never match again (`rt <= lt` under the
  *    current or any later left row of this key); the first UNconsumed
  *    same-key row is the match and is NOT consumed (later left rows may
  *    share it).
  *
  * SQL NULL semantics: a NULL in any key or time column never matches —
  * such right rows are dropped at intake, such left rows emit the null
  * extension. State is one remembered row — no growing buffer, so a key
  * with millions of rows streams through without memory pressure (the
  * window formulation holds the same frame logically; this makes the O(1)
  * explicit and drops the union's double-wide rows).
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // rows stream out in left order, one per left row
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val rt = rightTime
    val fwd = forward
    left.execute().zipPartitions(right.execute()) { (lIterRaw, rIterRaw) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lk.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      val outProj = UnsafeProjection.create(output, lOut ++ rOut)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)

      // right intake: copy (shuffle readers reuse row objects) and drop
      // rows whose key or time is NULL — they can never match
      case class RRow(row: InternalRow, key: UnsafeRow, time: UnsafeRow)
      val rIter = rIterRaw.flatMap { r =>
        val key = rKeyProj(r)
        val time = rTimeProj(r)
        if (key.anyNull || time.isNullAt(0)) None
        else Some(RRow(r.copy(), key.copy(), time.copy()))
      }.buffered

      var lastMatch: InternalRow = null
      var lastMatchKey: UnsafeRow = null

      lIterRaw.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTimeRow = lTimeProj(lRow)
        val lUsable = !lKey.anyNull && !lTimeRow.isNullAt(0)
        var matched: InternalRow = null
        if (lUsable) {
          if (!fwd) {
            // consume strictly-before rows; remember the last same-key one
            var advance = true
            while (advance && rIter.hasNext) {
              val h = rIter.head
              val c = keyOrd.compare(h.key, lKey)
              if (c < 0 || (c == 0 && timeOrd.compare(h.time, lTimeRow) < 0)) {
                if (c == 0) { lastMatch = h.row; lastMatchKey = h.key }
                rIter.next()
              } else advance = false
            }
            if (lastMatch != null && keyOrd.compare(lastMatchKey, lKey) == 0)
              matched = lastMatch
          } else {
            // consume rows that can never match this or any later left row
            var advance = true
            while (advance && rIter.hasNext) {
              val h = rIter.head
              val c = keyOrd.compare(h.key, lKey)
              if (c < 0 || (c == 0 && timeOrd.compare(h.time, lTimeRow) <= 0))
                rIter.next()
              else advance = false
            }
            if (rIter.hasNext) {
              val h = rIter.head
              if (keyOrd.compare(h.key, lKey) == 0) matched = h.row
            }
          }
        }
        numOut += 1
        if (matched != null) { numMatched += 1; outProj(joined(lRow, matched)) }
        else outProj(joined(lRow, nullRight))
      }
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — the engine's one
  * install point: the as-of and range-join strategies, the key-mirror
  * optimizer rule, every graft SQL function and UDAF, all at session
  * build (so `spark.sql("SELECT cosine_similarity…")` works with no
  * registration call). [[graft.core.GraftSession]] sets it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => RangeJoinStrategy)
    e.injectOptimizerRule(_ => AsOfJoinKeyPushdown)
    (graft.functions.GraftFunctions.builders ++
        graft.functions.Aggregators.builders).foreach { case (name, b) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft", name),
        b))
    }
  }
}

/** Public construction API for the native operator. */
object AsOfNative {

  /** As-of join `left` to `right` on equi-keys + event time.
    *
    * @param forward false → latest right with `rt < lt` (backward);
    *                true  → earliest right with `rt > lt`
    *
    * Sides must not share attribute ids (read the right side from its
    * source independently — do not pass two filters of the SAME DataFrame
    * instance); output carries every left column then every right column
    * (rename right columns beforehand if names collide). */
  def joinAsOfNative(left: DataFrame, right: DataFrame,
                     leftKeys: Seq[String], rightKeys: Seq[String],
                     leftTs: String, rightTs: String,
                     forward: Boolean = false): DataFrame = {
    val s = left.sparkSession
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    require(lp.outputSet.intersect(rp.outputSet).isEmpty,
      "as-of sides share attribute ids; re-read the right side from source")
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    GraftSqlBridge.ofRows(s, AsOfJoin(lp, rp,
      leftKeys.map(attr(lp, _)), rightKeys.map(attr(rp, _)),
      attr(lp, leftTs), attr(rp, rightTs), forward))
  }
}
