package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, PredicateHelper, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Native as-of join: a whole-operator Catalyst extension — custom
  * `LogicalPlan` node, planner `SparkStrategy`, and physical `SparkPlan` —
  * registered through `SparkSessionExtensions`
  * ([[graft.plans.GraftExtensions]]). Semantics match
  * [[graft.ext.AsOf.asofJoin]] (and DuckDB's `ASOF LEFT JOIN`, the
  * oracle): for each left row, the single right row with the greatest
  * `right.ts <= left.ts` on the same key, or nulls when none exists.
  *
  * Why a physical operator at all, when the composed union+window form
  * already does ONE shuffle: the composed form's window must buffer each
  * key's full (left ∪ right) partition in the window frame and carries a
  * null-padded union schema through the shuffle. This operator shuffles
  * each side in its own (narrower) schema, sorts within partitions by
  * (key, ts) — both sides co-partitioned by EnsureRequirements from the
  * declared `ClusteredDistribution`s — then streams a per-partition merge
  * holding O(1) state: the last right payload seen for the current key.
  * No window buffer, no union schema, no candidate explosion; at 100 TB
  * the cost is exactly two hash shuffles + two in-partition sorts, the
  * same shape as a sort-merge join, and AQE still coalesces/re-plans the
  * shuffles as usual.
  *
  * Right rows must be unique per (keys, ts) — pre-aggregate duplicates —
  * and a null in ANY key component (or the timestamp) never matches
  * (SQL equality semantics). Keys may be multi-column. */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    rightPayload: Seq[Attribute],
    asofAttrs: Seq[AttributeReference],
    // None = stats-based choice; Some(true/false) pins broadcast/merge
    // (the operator-level analog of Spark's BROADCAST/MERGE join hints)
    broadcastHint: Option[Boolean] = None) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ asofAttrs
  override def producedAttributes: AttributeSet = AttributeSet(asofAttrs)

  // exactly one output row per left row — without this, the unknown-
  // binary-node default (|left| × |right| size product) would stop any
  // plan ABOVE the as-of from ever broadcasting its result. Size scales
  // left's estimate by the widened row (left + asof payload columns),
  // the way the size-only visitor handles projections.
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics = {
    val ls = left.stats
    val leftWidth =
      math.max(1, left.output.map(_.dataType.defaultSize).sum)
    val outWidth = leftWidth + asofAttrs.map(_.dataType.defaultSize).sum
    ls.copy(sizeInBytes = ls.sizeInBytes * outWidth / leftWidth)
  }

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Physical as-of merge join. Children are hash-clustered on the key and
  * sorted by (key, ts); each partition is a single forward merge of the
  * two sorted streams (the right iterator never rewinds — each right row
  * is examined once).
  *
  * Spill safety: all buffering lives in the CHILD sorts, which Spark
  * plans as `SortExec` (UnsafeExternalSorter — spills to disk under
  * memory pressure). The merge itself holds O(1) state — one copied key
  * and one copied payload row — and never materializes a partition, so
  * unlike SortMergeJoin's buffered-side match buffer there is no
  * operator-side structure that CAN spill or overflow; a skewed key
  * costs time in one task, not memory. The merge loop is interpreted-
  * row (no whole-stage codegen), but every projection/ordering inside
  * it is code-generated (`UnsafeProjection`/`RowOrdering`).
  *
  * CODEGEN DECISION (round 6, measured by the retired AsOfBench main,
  * `git show 428e7a8:src/main/scala/graft/AsOfBench.scala`, at 20 M
  * facts × 400 k updates × 100 k keys — BASELINE.md "AsOfJoinExec
  * codegen decision"): this interpreted loop beats the strongest fully
  * WholeStageCodegen'd composition (merge-hinted SMJ with the ≤-range
  * condition + max-by HashAggregate) by 1.8×, and the broadcast/auto
  * forms beat it 3.2-3.5×, because the composed plan's cost is
  * structural (pair fan-out + re-aggregation shuffle) rather than
  * per-row dispatch. Produce-side `CodegenSupport` would fuse only the
  * already-winning loop's iterator overhead and is recorded as not
  * worth the fused two-child template's maintenance. */
case class AsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    rightPayload: Seq[Attribute],
    asofAttrs: Seq[AttributeReference],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ asofAttrs
  override def producedAttributes: AttributeSet = AttributeSet(asofAttrs)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending))

  // rows stream out in the left child's partitioning and (key, ts) order —
  // declaring both lets downstream operators (e.g. another merge on the
  // same key) reuse the shuffle and sort
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lOut = left.output
    val rOut = right.output
    val (lKeysA, lTsA, rKeysA, rTsA) = (leftKeys, leftTs, rightKeys, rightTs)
    val payloadA: Seq[Expression] = (rTsA +: rightPayload).map(identity)
    val outExprs: Seq[Expression] = output.map(identity)
    val asofA = asofAttrs

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // orderings/projections are code-generated per partition (cached
      // per-executor by the codegen cache)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(lKeysA.map(_.dataType))
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTsA.dataType))
      val lKeyProj = UnsafeProjection.create(lKeysA.map(identity[Expression]), lOut)
      val lTsProj = UnsafeProjection.create(Seq[Expression](lTsA), lOut)
      val rKeyProj = UnsafeProjection.create(rKeysA.map(identity[Expression]), rOut)
      val rTsProj = UnsafeProjection.create(Seq[Expression](rTsA), rOut)
      val payloadProj = UnsafeProjection.create(payloadA, rOut)
      val resultProj = UnsafeProjection.create(outExprs, lOut ++ asofA)
      val nullPayload = new GenericInternalRow(asofA.size)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // O(1) merge state: the latest right payload for the current key
      var carry: UnsafeRow = null
      var prevKey: UnsafeRow = null

      lIter.map { l =>
        // compare before copying: the projection buffer is stable until
        // the next lKeyProj call (next left row), so the copy is only
        // paid on key CHANGE, not per row on the hot path
        val lk = lKeyProj(l)
        if (prevKey == null || keyOrd.compare(prevKey, lk) != 0) {
          carry = null
          prevKey = lk.copy()
        }
        var payload: InternalRow = nullPayload
        if (!lk.anyNull) {
          // lTsProj is never re-applied below, so its buffer stays valid
          val lts = lTsProj(l)
          if (!lts.isNullAt(0)) {
            var scan = true
            while (scan && rBuf.hasNext) {
              val r = rBuf.head
              val rk = rKeyProj(r)
              if (rk.anyNull) rBuf.next() // null key components never match
              else {
                val c = keyOrd.compare(rk, lk)
                if (c < 0) rBuf.next() // right key already passed by the left
                else if (c == 0 && {
                  val rts = rTsProj(r)
                  !rts.isNullAt(0) && tsOrd.compare(rts, lts) <= 0
                }) {
                  carry = payloadProj(r).copy() // newest matching row wins
                  rBuf.next()
                } else if (c == 0 && rTsProj(r).isNullAt(0)) {
                  rBuf.next() // null ts never matches (sorts first; discard)
                } else scan = false // right side is ahead of this left row
              }
            }
            if (carry != null) payload = carry
          }
        }
        numOutputRows += 1
        resultProj(joined(l, payload))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast form of the as-of join, planned when the right side is
  * under the session's `autoBroadcastJoinThreshold` — the analog of
  * BroadcastHashJoin vs SortMergeJoin for this operator. The left
  * (fact) side declares NO required distribution or ordering: at 100 TB
  * it is neither shuffled nor sorted — each task binary-searches a
  * broadcast per-key sorted timeline of the right side. Right side cost
  * is one broadcast + an O(n log n) per-partition index build. */
case class AsOfJoinBroadcastExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    rightPayload: Seq[Attribute],
    asofAttrs: Seq[AttributeReference],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ asofAttrs
  override def producedAttributes: AttributeSet = AttributeSet(asofAttrs)

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  // pass-through on the fact side: partitioning and ordering survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lOut = left.output
    val rOut = right.output
    val (lKeysA, lTsA, rKeysA, rTsA) = (leftKeys, leftTs, rightKeys, rightTs)
    val payloadA: Seq[Expression] = (rTsA +: rightPayload).map(identity)
    val outExprs: Seq[Expression] = output.map(identity)
    val asofA = asofAttrs
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    val planId = id // capture — the closure must not drag `this` along

    left.execute().mapPartitionsInternal { lIter =>
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTsA.dataType))
      val lKeyProj = UnsafeProjection.create(lKeysA.map(identity[Expression]), lOut)
      val lTsProj = UnsafeProjection.create(Seq[Expression](lTsA), lOut)
      val resultProj = UnsafeProjection.create(outExprs, lOut ++ asofA)
      // built once per executor, not per task (see companion cache)
      val index = AsOfJoinBroadcastExec.index(broadcastRows.id, planId, () => {
        val rKeyProj = UnsafeProjection.create(rKeysA.map(identity[Expression]), rOut)
        val rTsProj = UnsafeProjection.create(Seq[Expression](rTsA), rOut)
        val payloadProj = UnsafeProjection.create(payloadA, rOut)
        val built = new java.util.HashMap[UnsafeRow,
          (Array[UnsafeRow], Array[UnsafeRow])]()
        val byKey = new java.util.HashMap[UnsafeRow,
          scala.collection.mutable.ArrayBuffer[(UnsafeRow, UnsafeRow)]]()
        broadcastRows.value.foreach { r =>
          val k = rKeyProj(r)
          val ts = rTsProj(r)
          if (!k.anyNull && !ts.isNullAt(0)) { // nulls never match
            var buf = byKey.get(k)
            if (buf == null) {
              buf = new scala.collection.mutable.ArrayBuffer[(UnsafeRow, UnsafeRow)]
              byKey.put(k.copy(), buf)
            }
            buf += ((ts.copy(), payloadProj(r).copy()))
          }
        }
        byKey.forEach { (k, buf) =>
          val sorted = buf.sortWith((a, b) => tsOrd.compare(a._1, b._1) < 0)
          built.put(k, (sorted.map(_._1).toArray, sorted.map(_._2).toArray))
        }
        built
      })
      val nullPayload = new GenericInternalRow(asofA.size)
      val joined = new JoinedRow

      lIter.map { l =>
        var payload: InternalRow = nullPayload
        val lk = lKeyProj(l)
        if (!lk.anyNull) {
          val timeline = index.get(lk)
          if (timeline != null) {
            val lts = lTsProj(l)
            if (!lts.isNullAt(0)) {
              val (tss, payloads) = timeline
              // greatest ts <= lts: binary search for the upper bound
              var lo = 0
              var hi = tss.length // exclusive
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                if (tsOrd.compare(tss(mid), lts) <= 0) lo = mid + 1 else hi = mid
              }
              if (lo > 0) payload = payloads(lo - 1)
            }
          }
        }
        numOutputRows += 1
        resultProj(joined(l, payload))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinBroadcastExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinBroadcastExec {
  private type Timeline = (Array[UnsafeRow], Array[UnsafeRow])
  private type Index = java.util.HashMap[UnsafeRow, Timeline]
  // per-executor memo of the built per-key index, keyed by
  // (broadcast id, plan id): every task of a stage reuses ONE build
  // instead of re-hashing and re-sorting the broadcast rows per task.
  // Soft references let the JVM reclaim an index under memory pressure
  // (it is then rebuilt), so long sessions don't accumulate dead indexes.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (Long, Int), java.lang.ref.SoftReference[Index]]()
  private val MaxEntries = 64

  private def index(broadcastId: Long, planId: Int,
      build: () => Index): Index = {
    val key = (broadcastId, planId)
    val hit = { val ref = cache.get(key); if (ref != null) ref.get() else null }
    if (hit != null) hit
    else {
      // bound retention: each fresh plan gets a new key (bench loops,
      // AQE re-plans), so without a cap dead indexes linger until the
      // SoftReferences are squeezed out near heap exhaustion. Evict
      // surgically — first any entry whose SoftReference was already
      // reclaimed, else one arbitrary OTHER entry — never the whole
      // map: a blanket clear() would also drop indexes for stages
      // still running, forcing their concurrent tasks to rebuild.
      if (cache.size() > MaxEntries) {
        val it = cache.entrySet().iterator()
        var evicted = false
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.get() == null) { it.remove(); evicted = true }
        }
        if (!evicted) {
          val ks = cache.keySet().iterator()
          var done = false
          while (!done && ks.hasNext) {
            val k = ks.next()
            if (k != key) { cache.remove(k); done = true }
          }
        }
      }
      // compute() locks only this key's bin — unrelated concurrent
      // builds (different queries/stages) proceed in parallel, while
      // same-key tasks still build at most once per executor
      val ref = cache.compute(key, (_, existing) => {
        val again = if (existing != null) existing.get() else null
        if (again != null) existing
        else new java.lang.ref.SoftReference(build())
      })
      val got = ref.get()
      if (got != null) got else build() // reclaimed between compute and get
    }
  }
}

/** Custom optimizer rule completing the extension ladder: Catalyst's
  * own `PushDownPredicates` stops at unknown nodes, so without this a
  * `Filter` above an as-of join would scan the full left side. Any
  * deterministic conjunct referencing ONLY left-side columns pushes into
  * the left child (safe because each output row is exactly one left row,
  * and dropping left rows never changes another row's carried right
  * payload — the merge state derives from the right side alone).
  * Conjuncts touching `asof_*` columns stay above. Injected via
  * `injectOptimizerRule`, so the pushed filter then keeps sinking all
  * the way into the parquet scan (PlanSpec pins PushedFilters). */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinNode) =>
      val (pushable, kept) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(pushable.reduce(And), j.left))
        kept.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Plans [[AsOfJoinNode]], choosing the physical form the way Spark
  * chooses BroadcastHashJoin vs SortMergeJoin: a right side whose
  * estimated size fits `autoBroadcastJoinThreshold` plans as
  * [[AsOfJoinBroadcastExec]] (fact side untouched — no shuffle, no
  * sort); otherwise the co-partitioned merge [[AsOfJoinExec]].
  * Injected via `SparkSessionExtensions.injectPlannerStrategy` in
  * [[graft.plans.GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinNode =>
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val exec =
        if (j.broadcastHint.getOrElse(
            threshold > 0 && j.right.stats.sizeInBytes <= threshold))
          AsOfJoinBroadcastExec(j.leftKeys, j.rightKeys, j.leftTs, j.rightTs,
            j.rightPayload, j.asofAttrs, planLater(j.left), planLater(j.right))
        else
          AsOfJoinExec(j.leftKeys, j.rightKeys, j.leftTs, j.rightTs,
            j.rightPayload, j.asofAttrs, planLater(j.left), planLater(j.right))
      exec :: Nil
    case _ => Nil
  }
}

/** DataFrame-level builder for the native as-of join. Lives under
  * `org.apache.spark.sql` to reach `Dataset.ofRows` (the standard pattern
  * for Spark-native extension libraries); the graft-facing API is
  * [[graft.ext.AsOf.asofJoinNative]]. */
object AsOfJoinNative {

  /** Same contract as [[graft.ext.AsOf.asofJoin]]: right payload columns
    * come back as `asof_<name>` (plus `asof_<tsCol>`), null when no right
    * row precedes the left row on its key. `broadcast` None lets the
    * strategy choose from right-side stats vs `autoBroadcastJoinThreshold`;
    * Some pins the physical form. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, rightCols: Seq[String],
      broadcast: Option[Boolean] = None): DataFrame =
    asofJoinMulti(left, right, Seq(key), tsCol, rightCols, broadcast)

  /** Multi-column-key form: rows match when EVERY key column is equal
    * (a null in any component never matches) and `right.ts <= left.ts`. */
  def asofJoinMulti(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, rightCols: Seq[String],
      broadcast: Option[Boolean] = None): DataFrame = {
    require(keys.nonEmpty, "asofJoin: at least one key column required")
    val session = left.sparkSession.asInstanceOf[classic.SparkSession]
    val lPlan = left.queryExecution.analyzed
    val r0 = right.queryExecution.analyzed

    // honor the session's case-sensitivity setting, like col() would
    val resolver = session.sessionState.conf.resolver
    def pick(out: Seq[Attribute], n: String, side: String): Attribute =
      out.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"asofJoin: column '$n' not found on $side side " +
            s"(have: ${out.map(_.name).mkString(", ")})"))

    // re-alias the right side to fresh exprIds so self-joins (both sides
    // carved from the same table) bind unambiguously — and project it
    // down to the REFERENCED columns only. Catalyst's ColumnPruning
    // cannot see through the custom node, so anything kept here rides
    // the shuffle (merge form) or the whole broadcast (IdentityBroadcast
    // ships full rows); for a wide dimension table that would defeat
    // the "each side shuffles in its own narrower schema" design.
    val rNeeded = (keys :+ tsCol).map(pick(r0.output, _, "right")) ++
      rightCols.map(pick(r0.output, _, "right"))
    val rPlan = Project(rNeeded.distinct.map(a => Alias(a, a.name)()), r0)

    val lKeys = keys.map(pick(lPlan.output, _, "left"))
    val lTs = pick(lPlan.output, tsCol, "left")
    val rKeys = keys.map(pick(rPlan.output, _, "right"))
    val rTs = pick(rPlan.output, tsCol, "right")
    lKeys.zip(rKeys).foreach { case (lk, rk) =>
      require(lk.dataType == rk.dataType,
        s"asofJoin: key '${lk.name}' types differ " +
          s"(${lk.dataType} vs ${rk.dataType})")
    }
    require(lTs.dataType == rTs.dataType,
      s"asofJoin: ts types differ (${lTs.dataType} vs ${rTs.dataType})")
    val payload = rTs +: rightCols.map(pick(rPlan.output, _, "right"))
    val asofAttrs = payload.map(a =>
      AttributeReference("asof_" + a.name, a.dataType, nullable = true)())

    classic.Dataset.ofRows(session, AsOfJoinNode(lPlan, rPlan, lKeys, rKeys,
      lTs, rTs, payload.tail, asofAttrs, broadcast))
  }
}
