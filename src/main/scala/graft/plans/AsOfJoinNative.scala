package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Native Catalyst as-of join (SURVEY.md §7.3 "optional Strategy later";
  * preference level (c) of the build brief): a custom LogicalPlan +
  * Strategy + BinaryExecNode implementing the backward point-in-time
  * join as a LINEAR MERGE over co-partitioned, (entity, ts)-sorted
  * children.
  *
  * Why it beats the union+window composition (operators/AsOf): the
  * union trick must shuffle AND sort |L|+|R| interleaved rows as one
  * relation; this operator declares requiredChildDistribution /
  * requiredChildOrdering instead, so Catalyst sorts each side
  * separately (R is typically |L|/wstep), reuses any pre-existing
  * layout, and the merge itself is a zero-allocation single pass per
  * partition. Semantics are identical (inclusive <=, optional
  * staleness tolerance, NULL payload on no match, NULL keys never
  * match) and asserted equal to the composed operator in
  * AsOfNativeSpec.
  *
  * Contract: entity column name shared by both sides; ts columns are
  * LongType (engine-internal micros contract); right payload column
  * names must not collide with left columns (callers prefix — same
  * rule as AsOf.joinBackward's rightPrefix).
  */
object AsOfJoinNative {

  /** Keys are carried BY NAME and resolved lazily against the current
    * children: the analyzer's DeduplicateRelations may re-id the right
    * subtree when both sides derive from the same plan, and stale
    * Attribute fields would dangle (observed: ATTRIBUTE_NOT_FOUND). */
  final case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                                entityName: String, tsName: String,
                                tolerance: Option[Long])
    extends BinaryNode {
    private def key(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    def leftEntity: Attribute = key(left, entityName)
    def leftTs: Attribute = key(left, tsName)
    def rightEntity: Attribute = key(right, entityName)
    def rightTs: Attribute = key(right, tsName)
    // output: all left columns, then the right payload (keys dropped);
    // payload becomes NULLABLE — unmatched left rows carry NULLs
    override def output: Seq[Attribute] =
      left.output ++ right.output
        .filterNot(a => a.name == entityName || a.name == tsName)
        .map(_.withNullability(true))
    // name-based keys leave `expressions` empty; claim every child
    // column so ColumnPruning's generic clause cannot strip the keys.
    // Catalyst can therefore not prune THROUGH this node on its own —
    // [[PruneAsOfChildren]] (registered wherever the strategy is) does
    // it instead, so callers no longer have to pre-project.
    override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(
        left.output ++ right.output)
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Column pruning THROUGH the as-of node (round-4 "what's wrong" #3:
    * the node claims every child column in `references` to keep its
    * name-carried keys alive, which also blinded ColumnPruning — wide
    * inputs reached the merge unless the caller pre-projected). When a
    * Project (optionally over a Filter) consumes only part of the
    * node's output, push a Project into each child keeping exactly the
    * referenced columns plus the join keys. Registered alongside the
    * strategy: `injectOptimizerRule` places it INSIDE the operator-
    * optimization fixed point, so ColumnPruning then carries the
    * inserted Projects all the way to the scans (ReadSchema shrinks —
    * asserted in AsOfNativeSpec); the `experimental.extraOptimizations`
    * path runs post-batch, where FileSourceStrategy's
    * PhysicalOperation collapse still honors scan-adjacent Projects. */
  object PruneAsOfChildren
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {

    import org.apache.spark.sql.catalyst.expressions.AttributeSet
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}

    private def pruned(a: AsOfJoinPlan, needed: AttributeSet)
    : Option[AsOfJoinPlan] = {
      def keep(child: LogicalPlan): Seq[Attribute] =
        child.output.filter(attr => needed.contains(attr) ||
          attr.name == a.entityName || attr.name == a.tsName)
      val (lk, rk) = (keep(a.left), keep(a.right))
      if (lk.length < a.left.output.length ||
        rk.length < a.right.output.length)
        Some(a.copy(
          left = if (lk.length < a.left.output.length)
            Project(lk, a.left) else a.left,
          right = if (rk.length < a.right.output.length)
            Project(rk, a.right) else a.right))
      else None
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case p @ Project(_, a: AsOfJoinPlan) =>
        pruned(a, p.references).map(n => p.copy(child = n)).getOrElse(p)
      case p @ Project(_, f @ Filter(_, a: AsOfJoinPlan)) =>
        pruned(a, p.references ++ f.references)
          .map(n => p.copy(child = f.copy(child = n))).getOrElse(p)
    }
  }

  object AsOfStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p @ AsOfJoinPlan(l, r, _, _, tol) =>
        AsOfJoinExec(planLater(l), planLater(r), p.leftEntity, p.leftTs,
          p.rightEntity, p.rightTs, tol) :: Nil
      case _ => Nil
    }
  }

  final case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                                leftEntity: Attribute, leftTs: Attribute,
                                rightEntity: Attribute, rightTs: Attribute,
                                tolerance: Option[Long])
    extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ right.output
        .filterNot(a => a.exprId == rightEntity.exprId ||
          a.exprId == rightTs.exprId)
        .map(_.withNullability(true))

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(leftEntity :: Nil) ::
        ClusteredDistribution(rightEntity :: Nil) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(SortOrder(leftEntity, Ascending), SortOrder(leftTs, Ascending)) ::
        Seq(SortOrder(rightEntity, Ascending),
          SortOrder(rightTs, Ascending)) :: Nil

    override def outputPartitioning: Partitioning = left.outputPartitioning
    override def outputOrdering: Seq[SortOrder] =
      SortOrder(leftEntity, Ascending) ::
        SortOrder(leftTs, Ascending) :: Nil

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
      copy(left = newLeft, right = newRight)

    override protected def doExecute(): RDD[InternalRow] = {
      val lEntityOrd = left.output.indexWhere(_.exprId == leftEntity.exprId)
      val lTsOrd = left.output.indexWhere(_.exprId == leftTs.exprId)
      val rEntityOrd = right.output.indexWhere(_.exprId == rightEntity.exprId)
      val rTsOrd = right.output.indexWhere(_.exprId == rightTs.exprId)
      val entityType = leftEntity.dataType
      val payloadOrdinals = right.output.zipWithIndex.collect {
        case (a, i) if a.exprId != rightEntity.exprId &&
          a.exprId != rightTs.exprId => i
      }
      val tol = tolerance
      val projExprs = output
      // bind against the same (nullable-payload) attrs so the projection
      // null-checks the payload slots of unmatched rows
      val inputAttrs = output

      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(entityType)
        val proj = UnsafeProjection.create(projExprs, inputAttrs)
        // compacted right payload row (keys dropped) + a null row
        val nullPayload = new GenericInternalRow(payloadOrdinals.length)
        val joined = new JoinedRow

        new Iterator[InternalRow] {
          private var rHeadValid = false
          private var rEntity: Any = _
          private var rTs: Long = 0L
          private var rRow: InternalRow = _ // current (not yet held)
          // right rows with a NULL key never match: skip them
          private def advanceRight(): Unit = {
            rHeadValid = false
            while (!rHeadValid && rIter.hasNext) {
              val r = rIter.next()
              if (!r.isNullAt(rEntityOrd) && !r.isNullAt(rTsOrd)) {
                rEntity = r.get(rEntityOrd, entityType)
                rTs = r.getLong(rTsOrd)
                rRow = r
                rHeadValid = true
              }
            }
          }
          advanceRight()

          private var heldValid = false
          private var heldEntity: Any = _
          private var heldTs: Long = 0L
          private var held: InternalRow = _ // compacted payload copy

          // Iterator rows reuse their buffers — every value retained
          // past the current step must be deep-copied.
          private def compact(r: InternalRow): InternalRow = {
            val out = new GenericInternalRow(payloadOrdinals.length)
            var i = 0
            while (i < payloadOrdinals.length) {
              val src = payloadOrdinals(i)
              out(i) = InternalRow.copyValue(
                r.get(src, right.output(src).dataType))
              i += 1
            }
            out
          }

          override def hasNext: Boolean = lIter.hasNext
          // advance the right cursor to `l`: is `held` its match? A left
          // row with a NULL key never matches and leaves the cursor be
          private def matches(l: InternalRow): Boolean =
            !l.isNullAt(lEntityOrd) && !l.isNullAt(lTsOrd) && {
              val le = l.get(lEntityOrd, entityType)
              val lts = l.getLong(lTsOrd)
              // drop right rows of earlier entities
              while (rHeadValid && ord.compare(rEntity, le) < 0)
                advanceRight()
              // consume right rows of this entity with ts <= left ts
              while (rHeadValid && ord.compare(rEntity, le) == 0 &&
                rTs <= lts) {
                held = compact(rRow)
                heldEntity = InternalRow.copyValue(rEntity)
                heldTs = rTs
                heldValid = true
                advanceRight()
              }
              heldValid && ord.compare(heldEntity, le) == 0 &&
                heldTs <= lts && tol.forall(t => lts - heldTs <= t)
            }

          override def next(): InternalRow = {
            val l = lIter.next()
            proj(joined(l, if (matches(l)) held else nullPayload))
          }
        }
      }
    }
  }


  /** Backward as-of join via the native operator. Right payload column
    * names must be disjoint from left's (prefix them on the right). The
    * matched right ts is not emitted — include a copy as a payload
    * column if provenance is needed. */
  def joinBackward(spark: SparkSession, left: DataFrame, right: DataFrame,
                   entityCol: String, tsCol: String,
                   tolerance: Option[Long] = None): DataFrame = {
    // registration is PER SESSION (ExperimentalMethods is per
    // SparkSession — a JVM-global flag breaks the second session)
    synchronized {
      if (!spark.experimental.extraStrategies.contains(AsOfStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ AsOfStrategy
      }
      if (!spark.experimental.extraOptimizations
        .contains(PruneAsOfChildren)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ PruneAsOfChildren
      }
    }
    val l = left.withColumn(tsCol, col(tsCol).cast(LongType))
    val r = right.withColumn(tsCol, col(tsCol).cast(LongType))
    val lPlan = GraftBridge.analyzedPlan(l)
    val rPlan = GraftBridge.analyzedPlan(r)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    attr(lPlan, entityCol); attr(lPlan, tsCol) // fail fast on typos
    attr(rPlan, entityCol); attr(rPlan, tsCol)
    GraftBridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan, entityCol, tsCol, tolerance))
  }
}
