package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BoundReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge

/** Native as-of join: the extension ladder's tier (c) — a custom
  * `LogicalPlan` + `SparkStrategy` + physical `SparkPlan` — for the one
  * operator where composing built-ins provably leaves work on the
  * table. Spark itself has a LOGICAL `AsOfJoin` node (pandas
  * `merge_asof`) but no physical operator: `RewriteAsOfJoin` lowers it
  * to groupBy(keys) + sort-within + window-scan, and graft's own
  * [[graft.operators.AsofJoin]] uses the union+window form. Both are
  * O(n+m) per key, but both pay for it in materialized state: the
  * union widens every row to |left|+|right| columns (left payload rides
  * through the shuffle null-padded with right payload and vice versa)
  * and the running `last(_, ignoreNulls)` window holds a frame buffer
  * per partition.
  *
  * This operator instead declares what a distributed as-of REALLY
  * needs — `ClusteredDistribution` on the key for BOTH children,
  * per-partition order (key, ts) / (key, ts, tieBreak) — and lets
  * `EnsureRequirements` plan the exchanges and sorts (so AQE still
  * coalesces both sides consistently, a custom exec inherits that for
  * free). `doExecute` is then a zero-state streaming merge: one
  * forward pass over each side per partition, ONE buffered right row
  * (the current best match, copied), each side shuffled at its own
  * natural width. Semantics match [[graft.operators.AsofJoin.asof]]
  * exactly: latest right row with `r.ts <= l.ts` per key, ties broken
  * by the LAST right row in ascending `tieBreak` order (DuckDB
  * `ASOF JOIN ... ON l.k = r.k AND l.ts >= r.ts` convention).
  *
  * NULL semantics (SQL, pinned in AsofNativeSpec): a NULL key or NULL
  * timestamp on either side never matches — the equi-join and `<=`
  * comparison both reject NULLs. Left rows with NULLs still appear,
  * null-padded. [[graft.operators.AsofJoin.asof]] implements the same
  * contract (it drops null-key/null-ts RIGHT rows before its union),
  * so the two forms are interchangeable per workload.
  */
/** @param broadcastRight physical-strategy hint, mirroring join hints:
  *        `Some(true)` forces the broadcast exec, `Some(false)` forces
  *        the shuffle exec, `None` lets [[AsofJoinStrategy]] pick by
  *        the right child's size statistics against
  *        `autoBroadcastJoinThreshold` — the same size-based selection
  *        JoinSelection applies to equi-joins. */
case class AsofJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    broadcastRight: Option[Boolean] = None) extends BinaryNode {

  // left row always emitted (LEFT as-of join); right side null-padded
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: lowers [[AsofJoinNode]] to one of TWO physical
  * operators — the same shuffle-vs-broadcast fork `JoinSelection`
  * applies to equi-joins, because a 100 TB event log as-of-joined
  * against a small keyed timeline (price changes, config history, a
  * dimension's validity intervals) must NOT shuffle the log:
  *  - [[BroadcastAsofJoinExec]] when the node carries a broadcast hint
  *    or (unhinted) the right child's plan-stats size fits under
  *    `spark.sql.autoBroadcastJoinThreshold`;
  *  - [[AsofJoinExec]] (co-partitioned streaming merge) otherwise.
  * Injected by [[graft.GraftExtensions]]; [[AsofJoinNative.asof]] adds
  * it through [[graft.GraftExtensions.strategyIfAbsent]] in sessions
  * launched without the extension.
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, rk, lt, rt, tb, bcast) =>
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val pickBroadcast = bcast.getOrElse(
        threshold > 0 && r.stats.sizeInBytes >= 0 &&
          r.stats.sizeInBytes <= threshold)
      if (pickBroadcast)
        BroadcastAsofJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
      else
        AsofJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode with CodegenSupport {

  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"as-of key types differ: ${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // the whole distributed contract lives in these two declarations:
  // EnsureRequirements inserts compatible hash exchanges + sorts, AQE
  // coalesces the two shuffles as one group (non-union binary node)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTieBreak)).map(SortOrder(_, Ascending)))

  // left rows stream through in their sorted order, so both survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "left rows with a match"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val resultProj = UnsafeProjection.create(output, output)
      val nullRight = new GenericInternalRow(right.output.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // lookahead right row not yet consumed (sort output buffers are
        // reused, so anything held across next() calls is copied)
        private var rRow: InternalRow = _
        // best match so far and the key it belongs to
        private var matched: InternalRow = _
        private var matchedKey: InternalRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTime = lTimeProj(l)
          val lValid = !lKey.anyNull && !lTime.isNullAt(0)
          var done = !lValid // null key/time never equi-matches
          while (!done) {
            if (rRow == null) {
              if (rIter.hasNext) rRow = rIter.next()
              else done = true
            }
            if (!done) {
              val rKey = rKeyProj(rRow)
              if (rKey.anyNull || rTimeProj(rRow).isNullAt(0)) {
                rRow = null // NULL key/time right rows match nothing
              } else {
                val c = keyOrd.compare(rKey, lKey)
                if (c > 0) done = true // right is ahead; stop
                else if (c < 0) rRow = null // right is behind; skip
                else if (timeOrd.compare(rTimeProj(rRow), lTime) <= 0) {
                  // candidate: later candidates (greater ts, then
                  // greater tie-break) overwrite — last one wins
                  matched = rRow.copy()
                  matchedKey = lKey.copy()
                  rRow = null
                } else done = true // right row is in l's future; hold it
              }
            }
          }
          val hit = lValid && matched != null &&
            keyOrd.compare(matchedKey, lKey) == 0
          numOutputRows += 1
          if (hit) { numMatched += 1; resultProj(joined(l, matched)) }
          else resultProj(joined(l, nullRight))
        }
      }
    }
  }

  // ---- whole-stage codegen (tier-c completion) -----------------------
  //
  // SMJ-style produce-root: the exec reads BOTH children as sorted
  // iterators (`inputRDDs`) and generates the merge loop inline, so the
  // as-of output fuses with every parent operator in the stage — no
  // JoinedRow, no per-row UnsafeProjection materialization, no iterator
  // virtual dispatch between the merge and a parent filter/project.
  //
  // One structural note: CollapseCodegenStages special-cases SMJ/SHJ by
  // class to InputAdapter-wrap their children; a third-party exec gets
  // the default recursion, so the child Sorts sit INSIDE this stage's
  // subtree un-produced. That is correct (this exec's inputRDDs calls
  // left/right.execute(), which runs the sorts — their row iteration
  // and comparators are independently codegen'd by UnsafeExternalRow-
  // Sorter), it only means explain() prints the Sorts within this
  // stage's span rather than as their own.
  //
  // Codegen engages when every merge input (keys, timestamps) is a
  // direct child ATTRIBUTE — always true via [[AsofJoinNative.asof]],
  // which pre-projects both sides; anything else falls back to the
  // interpreted doExecute above. The tie-break columns never appear in
  // the merge (they only shape requiredChildOrdering), so they impose
  // no codegen constraint.

  private def attrIdx(e: Expression, side: SparkPlan): Int = e match {
    case a: Attribute => side.output.indexWhere(_.exprId == a.exprId)
    case _ => -1
  }
  private lazy val lKeyIdx = leftKeys.map(attrIdx(_, left))
  private lazy val rKeyIdx = rightKeys.map(attrIdx(_, right))
  private lazy val lTimeIdx = attrIdx(leftTime, left)
  private lazy val rTimeIdx = attrIdx(rightTime, right)

  override def supportCodegen: Boolean =
    (lKeyIdx :+ lTimeIdx).forall(_ >= 0) && (rKeyIdx :+ rTimeIdx).forall(_ >= 0)

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // output rows reference the reused left-row buffer and the matched
  // copy; buffering parents must copy (same stance as SortMergeJoinExec)
  override def needCopyResult: Boolean = true

  protected override def doProduce(ctx: CodegenContext): String = {
    val leftInput = ctx.addMutableState("scala.collection.Iterator",
      "asofLeftInput", v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator",
      "asofRightInput", v => s"$v = inputs[1];")
    // lookahead right row not yet consumed; sort output buffers are
    // reused on the SAME iterator only, so holding the reference across
    // left advances is safe — it is nulled before the next rIter.next()
    val rRow = ctx.addMutableState("InternalRow", "asofRightRow")
    // current best match: always a private copy
    val matched = ctx.addMutableState("InternalRow", "asofMatched")

    val leftRow = ctx.freshName("asofLeftRow")
    val lValid = ctx.freshName("asofLValid")
    val done = ctx.freshName("asofDone")
    val comp = ctx.freshName("asofComp")
    val mComp = ctx.freshName("asofMComp")
    val hit = ctx.freshName("asofHit")
    val numOutput = metricTerm(ctx, "numOutputRows")
    val numMatchedMetric = metricTerm(ctx, "numMatched")

    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    def jt(dt: org.apache.spark.sql.types.DataType) = CodeGenerator.javaType(dt)
    def get(row: String, dt: org.apache.spark.sql.types.DataType, i: Int) =
      CodeGenerator.getValue(row, dt, i.toString)

    // left key/time locals, evaluated once per left row (guarded: only
    // read when non-null — object getters on a null cell are undefined)
    val lKeyVals = keyTypes.indices.map(j => ctx.freshName(s"asofLKey$j"))
    val lTimeVal = ctx.freshName("asofLTime")
    val lNullCheck = (lKeyIdx :+ lTimeIdx)
      .map(i => s"$leftRow.isNullAt($i)").mkString(" || ")
    val lKeyDecls = keyTypes.lazyZip(lKeyIdx).lazyZip(lKeyVals).map {
      (dt, i, v) =>
        s"${jt(dt)} $v = $lValid ? ${get(leftRow, dt, i)} : ${CodeGenerator.defaultValue(dt)};"
    }.mkString("\n")
    val lTimeDecl =
      s"${jt(timeType)} $lTimeVal = $lValid ? ${get(leftRow, timeType, lTimeIdx)} : ${CodeGenerator.defaultValue(timeType)};"

    // right key/time locals, re-read per fetched lookahead row
    val rKeyVals = keyTypes.indices.map(j => ctx.freshName(s"asofRKey$j"))
    val rTimeVal = ctx.freshName("asofRTime")
    val rNullCheck = (rKeyIdx :+ rTimeIdx)
      .map(i => s"$rRow.isNullAt($i)").mkString(" || ")
    val rKeyDecls = keyTypes.lazyZip(rKeyIdx).lazyZip(rKeyVals).map {
      (dt, i, v) => s"${jt(dt)} $v = ${get(rRow, dt, i)};"
    }.mkString("\n")
    val rTimeDecl =
      s"${jt(timeType)} $rTimeVal = ${get(rRow, timeType, rTimeIdx)};"
    val keyCompare = keyTypes.lazyZip(rKeyVals).lazyZip(lKeyVals).map {
      (dt, rv, lv) =>
        s"if ($comp == 0) { $comp = ${ctx.genComp(dt, rv, lv)}; }"
    }.mkString("\n")

    // stale-match screen: the buffered match only hits while the left
    // key is unchanged (its key cols were screened non-null at capture)
    val mKeyVals = keyTypes.indices.map(j => ctx.freshName(s"asofMKey$j"))
    val mKeyDecls = keyTypes.lazyZip(rKeyIdx).lazyZip(mKeyVals).map {
      (dt, i, v) => s"${jt(dt)} $v = ${get(matched, dt, i)};"
    }.mkString("\n")
    val mKeyCompare = keyTypes.lazyZip(mKeyVals).lazyZip(lKeyVals).map {
      (dt, mv, lv) =>
        s"if ($mComp == 0) { $mComp = ${ctx.genComp(dt, mv, lv)}; }"
    }.mkString("\n")

    // output columns: left side bound to the streamed row, right side
    // guarded null-padded reads from the matched copy
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofRIsNull")
      val value = ctx.freshName("asofRVal")
      val cde =
        code"""boolean $isNull = !$hit || $matched.isNullAt($i);
              |${jt(a.dataType)} $value = $isNull ? ${CodeGenerator.defaultValue(a.dataType)} : ${get(matched, a.dataType, i)};""".stripMargin
      ExprCode(cde, JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, a.dataType))
    }
    val allVars = leftVars ++ rightVars
    val varEval = evaluateVariables(allVars)

    s"""
       |while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  boolean $lValid = !($lNullCheck);
       |  $lKeyDecls
       |  $lTimeDecl
       |  if ($lValid) {
       |    boolean $done = false;
       |    while (!$done) {
       |      if ($rRow == null) {
       |        if ($rightInput.hasNext()) { $rRow = (InternalRow) $rightInput.next(); }
       |        else { $done = true; }
       |      }
       |      if (!$done) {
       |        if ($rNullCheck) {
       |          $rRow = null; // NULL key/time right rows match nothing
       |        } else {
       |          $rKeyDecls
       |          $rTimeDecl
       |          int $comp = 0;
       |          $keyCompare
       |          if ($comp > 0) { $done = true; }            // right is ahead
       |          else if ($comp < 0) { $rRow = null; }       // right is behind
       |          else if (${ctx.genComp(timeType, rTimeVal, lTimeVal)} <= 0) {
       |            // candidate: later candidates overwrite — last wins
       |            $matched = $rRow.copy();
       |            $rRow = null;
       |          } else { $done = true; }                    // in l's future
       |        }
       |      }
       |    }
       |  }
       |  boolean $hit = false;
       |  if ($lValid && $matched != null) {
       |    $mKeyDecls
       |    int $mComp = 0;
       |    $mKeyCompare
       |    $hit = ($mComp == 0);
       |  }
       |  $numOutput.add(1);
       |  if ($hit) $numMatchedMetric.add(1);
       |  $varEval
       |  ${consume(ctx, allVars)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }
}

/** Broadcast as-of join: the small-right-side physical strategy.
  *
  * The left side keeps its existing partitioning AND ordering — no
  * exchange, no sort, `UnspecifiedDistribution`. The right side is
  * broadcast whole (`IdentityBroadcastMode` via a planner-inserted
  * `BroadcastExchangeExec`) and indexed ONCE PER EXECUTOR into a hash
  * map keyed by the join key, each key's rows sorted by
  * (ts, tieBreak...) — the executor-local build is memoized on the
  * broadcast value (identity `WeakHashMap`, dropped with the broadcast
  * block), so a 2 000-task scan builds the index once per JVM, not
  * 2 000 times. Each left row then binary-searches its key's timeline
  * for the LAST entry with `r.ts <= l.ts` — identical match semantics
  * to [[AsofJoinExec]]'s streaming merge (ties: greatest tieBreak
  * wins, because the search returns the last entry in (ts, tieBreak)
  * order), pinned row-identical in BroadcastAsofSpec.
  *
  * NULL semantics are shared with the merge exec: null-key/null-ts
  * right rows are dropped at index build; null left rows pass through
  * null-padded.
  *
  * At 100 TB this is the shape for "enrich every event with the
  * in-force config/price/version at its timestamp": the event log is
  * never shuffled, never sorted, and the probe is O(log m) per row
  * against an executor-local index — the as-of analogue of a broadcast
  * hash join.
  */
case class BroadcastAsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode with CodegenSupport {

  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"as-of key types differ: ${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution ::
      org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
        org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode) :: Nil

  // the left side streams through untouched — both survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "left rows with a match"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsofJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val bc = right.executeBroadcast[Array[InternalRow]]()
    val builder = indexBuilder
    val lKeysLocal = leftKeys
    val lTimeLocal = leftTime
    val leftOutput = left.output
    val rightWidth = right.output.length
    val outAttrs = output

    left.execute().mapPartitions({ lIter =>
      val index = builder.buildOrGet(bc.value)
      val lKeyProj = UnsafeProjection.create(lKeysLocal, leftOutput)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeLocal), leftOutput)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow

      lIter.map { l =>
        numOutputRows += 1
        val lKey = lKeyProj(l)
        val lTime = lTimeProj(l)
        val m =
          if (!lKey.anyNull && !lTime.isNullAt(0)) builder.lookup(index, lKey, lTime)
          else null
        if (m != null) { numMatched += 1; resultProj(joined(l, m)) }
        else resultProj(joined(l, nullRight))
      }
    }, preservesPartitioning = true)
  }

  private def indexBuilder: AsofIndexBuilder =
    AsofIndexBuilder(rightKeys, rightTime +: rightTieBreak, right.output)

  // ---- whole-stage codegen (BHJ-style stream-side fusion) ------------
  //
  // The left side is the ONLY streamed input: doProduce delegates to
  // the left child's produce, so the probe fuses into the left scan's
  // stage (scan -> filter -> probe -> parent, one generated loop, no
  // iterator between them). The broadcast right side never enters the
  // produce chain — doConsume materializes the executor-local index
  // once into a mutable-state slot (via the same weak-identity memo as
  // the interpreted path) and probes it with a generated-key lookup.
  // The probe call itself stays a virtual call into
  // [[AsofIndexBuilder.lookup]] (binary search over an object index is
  // not worth inlining); the fusion win is everything around it.

  override def supportCodegen: Boolean = true

  // Exactly one output row per streamed left row, built from fresh
  // per-row variables (the matched row is a stable broadcast copy), so
  // THIS operator adds no copy requirement — the multi-output term of
  // BroadcastHashJoinExec's rule drops. But the streamed side's own
  // flag must still propagate (BHJ: streamedPlan.needCopyResult ||
  // multipleOutputForOneInput): if a multi-output operator below us
  // (e.g. a multi-match broadcast join or Expand) fuses into the same
  // stage, the stage root must report true or WholeStageCodegen skips
  // the defensive .copy() and buffered rows alias one rowWriter.
  override def needCopyResult: Boolean =
    left.asInstanceOf[CodegenSupport].needCopyResult

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.asInstanceOf[CodegenSupport].inputRDDs()

  protected override def doProduce(ctx: CodegenContext): String =
    left.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val bc = right.executeBroadcast[Array[InternalRow]]()
    val bcRef = ctx.addReferenceObj("asofBcastBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    val builderRef = ctx.addReferenceObj("asofBcastBuilder", indexBuilder,
      classOf[AsofIndexBuilder].getName)
    val indexTerm = ctx.addMutableState("java.util.HashMap", "asofBcastIndex",
      v => s"$v = $builderRef.buildOrGet(" +
        s"(org.apache.spark.sql.catalyst.InternalRow[]) $bcRef.value());")

    // generated key/time rows off the streamed vars (BHJ's
    // genStreamSideJoinKey shape): one UnsafeRow each, null-screened
    ctx.currentVars = input
    val keyEv = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateUnsafeProjection.createCode(ctx,
        org.apache.spark.sql.catalyst.expressions.BindReferences
          .bindReferences(leftKeys, left.output))
    val timeEv = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateUnsafeProjection.createCode(ctx,
        Seq(org.apache.spark.sql.catalyst.expressions.BindReferences
          .bindReference(leftTime, left.output)))
    val matched = ctx.freshName("asofBcastMatched")
    val hit = ctx.freshName("asofBcastHit")
    val numOutput = metricTerm(ctx, "numOutputRows")
    val numMatchedMetric = metricTerm(ctx, "numMatched")

    def jt(dt: org.apache.spark.sql.types.DataType) = CodeGenerator.javaType(dt)
    def get(r: String, dt: org.apache.spark.sql.types.DataType, i: Int) =
      CodeGenerator.getValue(r, dt, i.toString)
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofBcastRIsNull")
      val value = ctx.freshName("asofBcastRVal")
      val cde =
        code"""boolean $isNull = !$hit || $matched.isNullAt($i);
              |${jt(a.dataType)} $value = $isNull ? ${CodeGenerator.defaultValue(a.dataType)} : ${get(matched, a.dataType, i)};""".stripMargin
      ExprCode(cde, JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, a.dataType))
    }
    val leftEval = evaluateVariables(input)

    s"""
       |$leftEval
       |${keyEv.code}
       |${timeEv.code}
       |InternalRow $matched = null;
       |if (!${keyEv.value}.anyNull() && !${timeEv.value}.isNullAt(0)) {
       |  $matched = $builderRef.lookup($indexTerm, ${keyEv.value}, ${timeEv.value});
       |}
       |boolean $hit = $matched != null;
       |$numOutput.add(1);
       |if ($hit) $numMatchedMetric.add(1);
       |${evaluateVariables(rightVars)}
       |${consume(ctx, input ++ rightVars)}
     """.stripMargin
  }
}

/** Serializable build + probe kernel shared by
  * [[BroadcastAsofJoinExec]]'s interpreted and codegen paths: groups
  * the broadcast rows by join key, sorts each key's rows by
  * (ts, tieBreak...), and answers "last right row with ts <= t" by
  * binary search. Build is memoized per broadcast value (executor-
  * local weak-identity map), so every task on a JVM shares one index.
  */
case class AsofIndexBuilder(
    keys: Seq[Expression],
    sortExprs: Seq[Expression],
    rightOutput: Seq[Attribute]) {

  type Index = java.util.HashMap[InternalRow,
    scala.collection.mutable.ArrayBuffer[(InternalRow, InternalRow)]]

  @transient private lazy val timeOrd =
    RowOrdering.createNaturalAscendingOrdering(Seq(sortExprs.head.dataType))

  def buildOrGet(rows: Array[InternalRow]): Index =
    BroadcastAsofJoinExec.indexFor(rows) {
      val rKeyProj = UnsafeProjection.create(keys, rightOutput)
      val rSortProj = UnsafeProjection.create(sortExprs, rightOutput)
      val sortOrd =
        RowOrdering.createNaturalAscendingOrdering(sortExprs.map(_.dataType))
      val m: Index = new java.util.HashMap()
      rows.foreach { r =>
        val k = rKeyProj(r)
        if (!k.anyNull) {
          val sk = rSortProj(r)
          if (!sk.isNullAt(0)) { // null ts matches nothing
            var buf = m.get(k)
            if (buf == null) {
              buf = new scala.collection.mutable.ArrayBuffer[(InternalRow, InternalRow)]()
              m.put(k.copy(), buf)
            }
            buf += ((sk.copy(), r)) // broadcast rows are stable copies
          }
        }
      }
      val tupOrd =
        Ordering.by[(InternalRow, InternalRow), InternalRow](_._1)(sortOrd)
      m.values.forEach(b => b.sortInPlace()(tupOrd))
      m
    }

  /** Last right row with ts <= `time` for `key`, or null. Entries are
    * sorted (ts, tieBreak), so "last <= t" is also the tie winner. */
  def lookup(index: java.util.HashMap[_, _], key: InternalRow,
      time: InternalRow): InternalRow = {
    val buf = index.asInstanceOf[Index].get(key)
    if (buf == null) return null
    var lo = 0
    var hi = buf.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (timeOrd.compare(buf(mid)._1, time) <= 0) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans >= 0) buf(ans)._2 else null
  }
}

object BroadcastAsofJoinExec {
  private type Index = java.util.HashMap[InternalRow,
    scala.collection.mutable.ArrayBuffer[(InternalRow, InternalRow)]]

  /** One index's build cell: the global map lock only get-or-inserts
    * the holder; the (possibly long) build runs under the HOLDER's
    * monitor, so two broadcast as-ofs on one executor build
    * concurrently and cached lookups never wait on a foreign build.
    * The thunk is dropped after the build so the holder (the
    * WeakHashMap VALUE) stops referencing the broadcast array (its
    * KEY) — a retained thunk would pin the weak entry forever.
    */
  private final class IndexHolder(t: () => Index) {
    @volatile private var thunk: () => Index = t
    @volatile private var value: Index = _
    def get: Index = {
      val v = value
      if (v != null) v
      else synchronized {
        if (value == null) { value = thunk(); thunk = null }
        value
      }
    }
  }

  // executor-local memo of built indexes, keyed on the broadcast
  // VALUE's identity: entries vanish with the broadcast block (weak
  // keys), and every task of every partition on the JVM reuses one
  // build. The map is tiny (one entry per live broadcast as-of).
  private val built =
    new java.util.WeakHashMap[AnyRef, IndexHolder]()

  private[plans] def indexFor(bcValue: Array[InternalRow])(
      build: => Index): Index = {
    val holder = built.synchronized {
      val cached = built.get(bcValue)
      if (cached != null) cached
      else {
        val h = new IndexHolder(() => build)
        built.put(bcValue, h)
        h
      }
    }
    holder.get
  }
}

/** DataFrame-level wrapper with the same signature and semantics as
  * [[graft.operators.AsofJoin.asof]] (spec-pinned row-identical), so
  * callers can switch forms per workload: union+window when the sides
  * are near-equal width and a second sort hurts, native when payloads
  * are wide or the window buffer is the bottleneck.
  */
object AsofJoinNative {

  /** @param rightPayload right columns carried to the match (renamed as
    *                     given; names must not collide with left's).
    * @param tieBreak     deterministic order among right rows sharing a
    *                     timestamp — the LAST one in this order wins.
    *                     NOTE: the order is the STRING order of the
    *                     space-joined casts, byte-compatible with
    *                     [[graft.operators.AsofJoin.asof]]'s `_tie`
    *                     window key, so the two forms stay row-identical
    *                     even on tied timestamps (AsofNativeSpec pins
    *                     parity on a tie-heavy workload).
    */
  def asof(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPayload: Map[String, String],
      tieBreak: Seq[String] = Nil,
      broadcast: Option[Boolean] = None): DataFrame = {
    val payload = rightPayload.toSeq
    require(payload.map(_._2).forall(d => !left.columns.contains(d)),
      "payload destination names must not collide with left columns")
    // re-alias every right column: fresh ExprIds, so the (common)
    // self-as-of — left and right filtered off the SAME scan — cannot
    // produce ambiguous attributes in the node's expressions
    val tieCols =
      if (tieBreak.isEmpty) Nil
      else Seq(org.apache.spark.sql.functions
        .concat_ws("␟", tieBreak.map(c0 => col(c0).cast("string")): _*)
        .as("__tb"))
    val rSel = right.select(
      keys.map(k => col(k).as(s"__rk_$k")) ++
        Seq(col(rightTs).as("__rts")) ++ tieCols ++
        payload.map { case (src, dst) => col(src).as(dst) }: _*)
    val spark = left.sparkSession
    graft.GraftExtensions.strategyIfAbsent(spark, AsofJoinStrategy)
    val lPlan = Bridge.analyzed(left)
    val rPlan = Bridge.analyzed(rSel)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        sys.error(s"as-of: no column '$name' in ${plan.output.map(_.name)}"))
    val node = AsofJoinNode(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(k => attr(rPlan, s"__rk_$k")),
      attr(lPlan, leftTs), attr(rPlan, "__rts"),
      if (tieBreak.isEmpty) Nil else Seq(attr(rPlan, "__tb")),
      broadcast)
    Bridge.ofRows(spark, node)
      .drop(keys.map(k => s"__rk_$k") ++ Seq("__rts") ++
        (if (tieBreak.isEmpty) Nil else Seq("__tb")): _*)
  }
}
