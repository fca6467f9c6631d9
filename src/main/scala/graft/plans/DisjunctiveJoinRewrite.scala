package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeSet, Coalesce, EqualTo, Expression, Literal, NamedExpression,
  Not, Or}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti,
  LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join,
  LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * DISJUNCTIVE-JOIN rewrite — a custom Catalyst `Rule[LogicalPlan]` that
 * promotes the J4 union-of-equi-joins convention (SURVEY §7.4, built by
 * hand in q05/q217 since round 2) into the optimizer, so ANY user query
 * joining on `k1 = k1' OR k2 = k2'` gets the scale-safe plan without
 * knowing the trick (reference shape: trends.go:357-367 joins
 * status.ust_status_id twice under an OR). Installed SESSION-DEFAULT by
 * [[graft.functions.GraftExtensions]] (functions/GraftExtensions.scala,
 * `injectOptimizerRule`), so every `graft.GraftSession` carries it;
 * [[install]] remains for bare sessions.
 *
 * Spark plans an inner join whose condition is a pure disjunction as a
 * BroadcastNestedLoopJoin — O(|L|·|R|) comparisons, the plan that dies
 * first at 100 TB. But a disjunction of k cross-side equality
 * predicates is a union of k HASH joins, provided double-counting is
 * compensated. This rule rewrites
 *
 *   Join(L, R, Inner, d1 OR d2 OR … OR dk)
 *     ⇒ Union_i Join(L, R, Inner, di AND ¬coalesce(d1, false)
 *                                    AND … AND ¬coalesce(d(i-1), false))
 *
 * Branch i admits a pair iff di is TRUE and every earlier disjunct is
 * NOT TRUE (false or null — exactly the pairs earlier branches did not
 * emit), so each qualifying (l, r) pair appears in EXACTLY ONE branch:
 * the rewrite is BAG-EXACT for any inner join — no Distinct ancestor
 * required, duplicates from duplicate input rows preserved. Each
 * branch's condition carries di's cross-side `EqualTo` as a hash key
 * (ExtractEquiJoinKeys lifts it at planning; the ¬coalesce guards
 * evaluate as the join's residual), so every branch is a shuffled or
 * broadcast HASH join — linear data movement, k scans of each side
 * instead of the nested-loop quadratic.
 *
 * AND-AROUND-OR: a condition `C1 AND … AND (d1 OR … OR dk)` where some
 * OTHER conjunct is already a cross-side equality plans as a hash equi
 * join with the OR as residual — untouched (a union would be a
 * pessimization). But when NO conjunct carries a hash key and exactly
 * the disjunction does (the shape a cross-side filter produces after
 * predicate pushdown merges it into the join condition:
 * `ON (a=b OR c=d) WHERE l.x > r.y`), the same compensation applies
 * with the extra conjuncts riding every branch as residuals:
 *
 *   Join(L, R, Inner, Cs AND (d1 OR … OR dk))
 *     ⇒ Union_i Join(L, R, Inner, di AND guards_i AND Cs)
 *
 * Each pair is still owned by exactly one branch (the d's route it) and
 * is emitted iff it passes all Cs there — bag-exact as before.
 *
 * LEFT SEMI (round 13): `EXISTS (… OR …)` / `IN` with an OR'd key —
 * the reference's F7 NOT-IN cousin — plans as a nested-loop semi join.
 * The inner-join compensation does NOT transfer: its guards make PAIRS
 * disjoint, but one left row can match different right rows in
 * different branches, so a union of guarded semi joins would emit that
 * left row once per branch (semi semantics emit it once). The routing
 * has to happen at the LEFT-ROW level — branch i owns the left rows
 * whose FIRST matching disjunct is di:
 *
 *   Join(L, R, LeftSemi, Cs AND (d1 OR … OR dk))
 *     ⇒ Union_i Semi(Anti(…Anti(L, d1∧Cs)…, d(i-1)∧Cs), R, di∧Cs)
 *
 * Each branch i is a chain of i−1 anti joins (strips the rows earlier
 * branches own) ending in one semi join; ∃r:Cs∧(∨di) ⟺ ∨i ∃r:(Cs∧di),
 * so the branches partition exactly the matching left rows and the
 * union is BAG-exact (anti/semi preserve left multiplicities, and both
 * copies of a duplicated left row route to the same branch). Every
 * link carries di's cross-side equality as its hash key. Plan size is
 * k(k+1)/2 joins — bounded by `MaxDisjuncts`; the chains shrink left
 * to right (branch i scans only the rows branches 1..i−1 rejected).
 *
 * LEFT ANTI is the clean one: ¬∃r:(Cs∧(∨di)) ⟺ ∧i ¬∃r:(Cs∧di), a
 * straight chain of k hash anti joins, no union, no guards:
 *
 *   Join(L, R, LeftAnti, Cs AND (d1 OR … OR dk))
 *     ⇒ Anti(…Anti(Anti(L, d1∧Cs), d2∧Cs)…, dk∧Cs)
 *
 * LEFT OUTER (round 13, second pass) composes the two: the matched
 * pairs of a left-outer join ARE the inner join's bag (the inner
 * compensation applies verbatim), and the null-padded remainder is
 * exactly the LeftAnti chain's survivors — rows with no match on ANY
 * disjunct — projected onto left ++ null-typed right columns:
 *
 *   Join(L, R, LeftOuter, Cs AND (d1 OR … OR dk))
 *     ⇒ Union(inner branches …,
 *             Project(L.* ++ nulls_R, Anti(…Anti(L, d1∧Cs)…, dk∧Cs)))
 *
 * Every left row is either matched (owned by the inner branches,
 * multiplicity = its match count, bag-exact per the inner proof) or
 * unmatched (survives the whole anti chain once per input copy), never
 * both — the union is bag-exact. The null pads alias the RIGHT side's
 * exprIds, so the union stays position-aligned and parent references
 * resolve unchanged; `Union.output` merges child nullability, so the
 * right columns come out nullable exactly as the original left-outer
 * output did.
 *
 * FULL OUTER adds the mirrored remainder: the left-unmatched branch as
 * above, plus the RIGHT-unmatched rows — Spark has no right-anti join
 * type, so the chain runs with the sides swapped,
 * Anti(…Anti(R, d1∧Cs)…, dk∧Cs) with R as the LEFT child of each
 * link (the conditions reference both sides' attributes, so they need
 * no rewriting), projected onto nulls_L ++ R.* to keep the union
 * position-aligned:
 *
 *   Join(L, R, FullOuter, Cs AND (d1 OR … OR dk))
 *     ⇒ Union(inner branches …,
 *             Project(L.* ++ nulls_R, Anti-chain(L vs R)),
 *             Project(nulls_L ++ R.*, Anti-chain(R vs L)))
 *
 * The three groups partition the full-outer bag exactly: matched pairs
 * (inner proof), left rows with no match (left chain), right rows with
 * no match (right chain) — no row is in two groups. RIGHT OUTER stays
 * untouched — it is this machinery mirrored and not a shape the corpus
 * produces (DataFrame users write the preserved side on the left);
 * a right-outer join keeps its original plan.
 *
 * Fires ONLY when ALL of:
 *  - the join is INNER, LEFT SEMI, LEFT ANTI, LEFT OUTER or FULL
 *    OUTER with a deterministic condition whose top-level conjuncts
 *    contain NO cross-side equality (else the join already has a hash
 *    key) and EXACTLY ONE disjunction-of-predicates conjunct
 *    (2 ≤ k ≤ `MaxDisjuncts`) — right outer joins are untouched;
 *  - every disjunct is DETERMINISTIC (a nondeterministic predicate
 *    evaluated once per pair cannot be re-evaluated once per branch);
 *  - BOTH child subplans are deterministic: the rewrite duplicates the
 *    left/right subtrees across branches (and the right subtree across
 *    chain links), so a nondeterministic expression below the join
 *    (rand(), uuid(), monotonically_increasing_id()) would make branch
 *    inputs diverge and the compensation drop or double pairs — vetoed
 *    (round-13 advice item);
 *  - every disjunct contains at least one conjunct `EqualTo(a, b)` with
 *    `a` referencing only one side and `b` only the other — a disjunct
 *    without a cross-side hash key (e.g. `x > y`) leaves its branch a
 *    nested loop, so the rewrite would gain nothing: vetoed, the
 *    nested loop is then semantically required.
 *
 * Scale note: the branches share the left/right subplans, so the k
 * branches re-scan each side k times (Spark unions do not share
 * subplan results). That is the same cost the handwritten form pays
 * and is linear in the data — the trade this rewrite exists to make.
 */
object DisjunctiveJoinRewrite extends Rule[LogicalPlan] {

  /** Plan-size guard: a 9-way OR is 9 joins — past this, keep the
    * nested loop rather than explode the plan. */
  val MaxDisjuncts = 8

  private def disjuncts(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => disjuncts(l) ++ disjuncts(r)
    case other    => Seq(other)
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** Is `c` itself a hash-joinable cross-side equality? */
  private def isCrossEqui(c: Expression, left: LogicalPlan,
                          right: LogicalPlan): Boolean = c match {
    case EqualTo(a, b) =>
      val (ar, br) = (a.references, b.references)
      ar.nonEmpty && br.nonEmpty &&
        ((ar.subsetOf(left.outputSet) && br.subsetOf(right.outputSet)) ||
          (br.subsetOf(left.outputSet) && ar.subsetOf(right.outputSet)))
    case _ => false
  }

  /** Does `d` carry a hash-joinable cross-side equality conjunct? */
  private def hasCrossEquiKey(d: Expression, left: LogicalPlan,
                              right: LogicalPlan): Boolean =
    conjuncts(d).exists(isCrossEqui(_, left, right))

  /** TRUE-complement of a possibly-null predicate: rows where `e` is
    * false OR null — the pairs no earlier branch emitted. */
  private def notTrue(e: Expression): Expression =
    Not(Coalesce(Seq(e, Literal.FalseLiteral)))

  /** The duplicated-subplan veto (advice item, round 13): branches
    * re-evaluate both subtrees, so any nondeterministic expression below
    * the join would make branch inputs diverge. */
  private def childrenDeterministic(left: LogicalPlan,
                                    right: LogicalPlan): Boolean =
    left.find(_.expressions.exists(!_.deterministic)).isEmpty &&
      right.find(_.expressions.exists(!_.deterministic)).isEmpty

  /** The eligible (disjuncts, extra conjuncts) split of a join
    * condition, or None when the shape must keep its original plan. */
  private def eligibleParts(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Seq[Expression], Seq[Expression])] = {
    val cs = conjuncts(cond)
    // a top-level cross-side equality means the join already plans as
    // a hash join (the OR, if any, is its residual) — never rewrite
    if (cs.exists(isCrossEqui(_, left, right))) None
    else {
      // the branching disjunction: exactly one conjunct that is an
      // Or of 2..MaxDisjuncts disjuncts, each carrying its own
      // cross-side hash key; everything else rides every branch
      val orIdx = cs.indexWhere { c =>
        val ds = disjuncts(c)
        ds.length >= 2 && ds.length <= MaxDisjuncts &&
          ds.forall(d => hasCrossEquiKey(d, left, right))
      }
      if (orIdx < 0) None
      else Some((disjuncts(cs(orIdx)), cs.patch(orIdx, Nil, 1)))
    }
  }

  /** The compensated union when the INNER join `j` is eligible. */
  private def rewrite(j: Join): Option[Union] = j match {
    case Join(left, right, Inner, Some(cond), hint)
        if cond.deterministic && childrenDeterministic(left, right) =>
      eligibleParts(cond, left, right).map { case (ds, extras) =>
        Union(ds.zipWithIndex.map { case (d, i) =>
          val guards = ds.take(i).map(notTrue)
          Join(left, right, Inner,
            Some((d +: (guards ++ extras)).reduce(And)), hint): LogicalPlan
        })
      }
    case _ => None
  }

  /** Inner-branch union + null-padded anti-chain remainder for an
    * eligible LEFT OUTER join (see the class doc). The pad branch
    * aliases the right side's exprIds so the Union stays
    * position-aligned with the inner branches and parent references
    * resolve against child 0 unchanged. */
  private def rewriteOuter(j: Join): Option[Union] = j match {
    case Join(left, right, jt @ (LeftOuter | FullOuter), Some(cond), hint)
        if cond.deterministic && childrenDeterministic(left, right) =>
      eligibleParts(cond, left, right).map { case (ds, extras) =>
        def withExtras(d: Expression) = (d +: extras).reduce(And)
        def nulls(attrs: Seq[Attribute]): Seq[NamedExpression] =
          attrs.map(a => Alias(Literal(null, a.dataType), a.name)(
            exprId = a.exprId))
        val matched: Seq[LogicalPlan] = ds.zipWithIndex.map { case (d, i) =>
          val guards = ds.take(i).map(notTrue)
          Join(left, right, Inner,
            Some((d +: (guards ++ extras)).reduce(And)), hint)
        }
        val leftRemainder = Project(
          left.output ++ nulls(right.output),
          ds.foldLeft(left: LogicalPlan)((acc, d) =>
            Join(acc, right, LeftAnti, Some(withExtras(d)), hint)))
        val branches = jt match {
          case FullOuter =>
            // the mirrored remainder: anti-chain with the sides swapped
            // (no right-anti join type exists); conditions reference
            // both sides' attributes and need no rewriting
            val rightRemainder = Project(
              nulls(left.output) ++ right.output,
              ds.foldLeft(right: LogicalPlan)((acc, d) =>
                Join(acc, left, LeftAnti, Some(withExtras(d)), hint)))
            matched ++ Seq(leftRemainder, rightRemainder)
          case _ => matched :+ (leftRemainder: LogicalPlan)
        }
        Union(branches)
      }
    case _ => None
  }

  /** The union-producing arms share the parent-driven pruning below. */
  private def rewriteUnion(j: Join): Option[Union] =
    rewrite(j).orElse(rewriteOuter(j))

  /** First-matching-disjunct semi-join union / anti-join chain for an
    * eligible LeftSemi/LeftAnti join (see the class doc). Output
    * attributes are the LEFT side's for every branch — no width change
    * vs the original semi/anti join, so no pruning arm is needed. */
  private def rewriteSemiAnti(j: Join): Option[LogicalPlan] = j match {
    case Join(left, right, jt @ (LeftSemi | LeftAnti), Some(cond), hint)
        if cond.deterministic && childrenDeterministic(left, right) =>
      eligibleParts(cond, left, right).map { case (ds, extras) =>
        def withExtras(d: Expression) = (d +: extras).reduce(And)
        def antiChain(base: LogicalPlan, strip: Seq[Expression]) =
          strip.foldLeft(base)((acc, d) =>
            Join(acc, right, LeftAnti, Some(withExtras(d)), hint))
        jt match {
          case LeftSemi =>
            Union(ds.zipWithIndex.map { case (d, i) =>
              Join(antiChain(left, ds.take(i)), right, LeftSemi,
                Some(withExtras(d)), hint): LogicalPlan
            }): LogicalPlan
          case _ => antiChain(left, ds)
        }
      }
    case _ => None
  }

  /** Column-prune each branch to the attributes the PARENT reads: this
    * rule runs inside the operator-optimization batch (extensions) or
    * the user-provided batch ([[install]]) — in the latter nothing
    * re-runs ColumnPruning on the new Union, so without this every
    * branch would shuffle the join's FULL output width through the
    * parent aggregate (measured on q05 at 10×: the unpruned union
    * carried both nation keys through a 60M-row dedup exchange, ~2×
    * the handwritten plan's cost). Branches project the SAME attribute
    * sequence, so the Union's output stays position-aligned and the
    * parent's references resolve against child 0 as before. */
  private def pruned(u: Union, parentRefs: AttributeSet): LogicalPlan = {
    val filtered = u.children.head.output.filter(parentRefs.contains)
    // a pure count(*) parent reads NO columns — keep one rather than
    // unioning zero-width rows
    val kept =
      if (filtered.isEmpty) u.children.head.output.take(1) else filtered
    if (kept.length == u.children.head.output.length) u
    else Union(u.children.map(b =>
      Project(kept, b): LogicalPlan))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // a Filter that SURVIVES above the join here is one pushdown could
    // not merge into it (nondeterministic, or pushdown hasn't reached
    // it yet this pass) — prune through it: the union branches need
    // only the filter's inputs plus whatever ITS parent reads. The
    // Filter's own output schema (= child's) narrows identically, which
    // is safe exactly because the grandparent arm re-establishes the
    // attributes it consumes.
    case p @ Project(_, f @ Filter(_, j: Join)) =>
      rewriteUnion(j).map(u => p.copy(child =
          f.copy(child = pruned(u, p.references ++ f.references))))
        .getOrElse(p)
    case a @ Aggregate(_, _, f @ Filter(_, j: Join), _) =>
      rewriteUnion(j).map(u => a.copy(child =
          f.copy(child = pruned(u, a.references ++ f.references))))
        .getOrElse(a)
    case p @ Project(_, j: Join) =>
      rewriteUnion(j).map(u => p.copy(child = pruned(u, p.references)))
        .getOrElse(p)
    case a @ Aggregate(_, _, j: Join, _) =>
      rewriteUnion(j).map(u => a.copy(child = pruned(u, a.references)))
        .getOrElse(a)
    case f @ Filter(_, j: Join) =>
      // bare Filter with unknown grandparent: the Filter's output is its
      // child's, so pruning would change the schema the grandparent
      // resolved against — rewrite unpruned (width bounded by the
      // join's own output)
      rewriteUnion(j).map(u => f.copy(child = u)).getOrElse(f)
    case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
      // semi/anti output IS the left schema in every branch/link —
      // nothing to prune, any parent shape is fine
      rewriteSemiAnti(j).getOrElse(j)
    case j: Join =>
      // unknown parent — rewrite without pruning (still bag-exact;
      // the extra width is bounded by the join's own output)
      rewriteUnion(j).getOrElse(j)
  }

  /** Idempotently install into a BARE session's experimental
    * optimizations (the user-provided batch — pruning and pushdown have
    * already run there). Sessions built with
    * [[graft.functions.GraftExtensions]] carry the rule already
    * (operator-optimization batch) and never need this. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(this))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ this
    }
}
