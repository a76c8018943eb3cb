package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The as-of join operator (SURVEY.md §7.2 escalation (c): custom
  * `LogicalPlan` + `Strategy` + `SparkPlan`) behind
  * `graft.ops.Retrieval.asOfJoin`, which builds every `AsOfJoinPlan`: it
  * projects the feature side, drops feature rows with a NULL key or time,
  * and brings both time columns to one micros type and the TTL to micros.
  *
  * Physical strategy: demand hash clustering on the entity key and
  * (key, ts) ordering from BOTH children — Catalyst's EnsureRequirements
  * inserts the exchanges/sorts — then a single streaming merge pass per
  * co-partition: probes and features advance monotonically, each probe
  * joins the newest feature row with `fts <= ts` within TTL, else NULLs;
  * a probe with a NULL key or time joins NULLs.
  *
  * No union row blow-up, no window state, one buffered feature row per
  * key — O(|probes| + |features|) per partition with two shuffles total
  * (one per side), the same cost shape as a sort-merge join; none at all
  * over bucketed-sorted inputs (AsOfNativeSpec).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeyName: String, leftTsName: String,
    rightKeyName: String, rightTsName: String,
    ttlMicros: Long) extends BinaryNode {
  // Join columns are stored by NAME and resolved against the children's
  // CURRENT outputs: analyzer/optimizer rules (DeduplicateRelations when
  // both sides share a source, column pruning) re-id attributes, and a
  // stored Attribute would go stale.
  def leftKey: Attribute = left.output.find(_.name == leftKeyName).get
  def rightKey: Attribute = right.output.find(_.name == rightKeyName).get
  def leftTs: Attribute = left.output.find(_.name == leftTsName).get
  def rightTs: Attribute = right.output.find(_.name == rightTsName).get

  override lazy val resolved: Boolean = childrenResolved &&
    left.output.exists(_.name == leftKeyName) &&
    right.output.exists(_.name == rightKeyName) &&
    left.output.exists(_.name == leftTsName) &&
    right.output.exists(_.name == rightTsName)

  // declare the join columns as referenced so column pruning keeps them
  override def references: AttributeSet =
    AttributeSet(Seq(leftKey, rightKey, leftTs, rightTs))

  // probe columns unchanged; every feature-side column becomes nullable
  // (probes with no in-TTL feature emit NULLs)
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    ttlMicros: Long) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)),
      ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  // The merge is a per-partition map over the probe side: probe rows keep
  // their partitioning AND (key, ts) order. Declaring both lets
  // EnsureRequirements elide downstream exchanges/sorts (e.g. an ORDER BY
  // on the key, or a second as-of join on the same key), and — with
  // bucketed-sorted inputs, which already satisfy the requirements above —
  // the whole join runs exchange-free and sort-free (AsOfNativeSpec).
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTsOrd = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rKeyOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsOrd = right.output.indexWhere(_.exprId == rightTs.exprId)
    val keyType = leftKey.dataType
    val ordering = TypeUtils.getInterpretedOrdering(keyType)
    val rightWidth = right.output.size
    val ttl = ttlMicros
    val outAttrs = output
    // feature side must bind as NULLABLE or the projection elides null
    // checks and reads 0/garbage from the all-null unmatched row
    val inAttrs = left.output ++ right.output.map(_.withNullability(true))

    left.execute().zipPartitions(right.execute()) { (probes, feats) =>
      val fIter = feats.buffered
      // newest feature row (copied) at or before the last probe; it may
      // belong to an earlier key, so a match re-checks its key
      var curFeature: InternalRow = null
      var curFeatureTs: Long = 0L
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outAttrs, inAttrs)

      probes.map { p =>
        // SQL three-valued logic: a probe with a NULL key or time matches
        // nothing and leaves the merge state as it was (NULLs sort first)
        val matched = !p.isNullAt(lKeyOrd) && !p.isNullAt(lTsOrd) && {
          val k = p.get(lKeyOrd, keyType)
          val t = p.getLong(lTsOrd)
          // advance the feature side up to (k, t)
          var advancing = true
          while (advancing && fIter.hasNext) {
            val f = fIter.head
            val fk = f.get(rKeyOrd, keyType)
            val cmp = ordering.compare(fk, k)
            if (cmp < 0) { fIter.next() }
            else if (cmp == 0 && f.getLong(rTsOrd) <= t) {
              curFeature = fIter.next().copy()
              curFeatureTs = curFeature.getLong(rTsOrd)
            } else advancing = false
          }
          curFeature != null &&
            ordering.compare(curFeature.get(rKeyOrd, keyType), k) == 0 &&
            curFeatureTs >= t - ttl
        }
        project(joined(p, if (matched) curFeature else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical node to the exec (injected via
  * `graft.functions.GraftExtensions` / `injectPlannerStrategy`).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p @ AsOfJoinPlan(l, r, _, _, _, _, ttl) =>
      AsOfJoinExec(planLater(l), planLater(r),
        p.leftKey, p.rightKey, p.leftTs, p.rightTs, ttl) :: Nil
    case _ => Nil
  }
}
