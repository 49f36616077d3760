package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, HintInfo, Join, JoinHint, LogicalPlan, Project, SHUFFLE_MERGE}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Optimizer rule: rewrite naive edit-distance theta-joins into the
  * SymSpell deletion-key equi-join ([[graft.ops.Fuzzy]]'s plan, taught to
  * the optimizer — the [[HammingJoinRewrite]] companion for STRING keys).
  *
  * A user who wants typo-tolerant matches writes the declarative form
  *
  * {{{ a.join(b, levenshtein(a("s"), b("s")) <= lit(1)) }}}
  *
  * which Spark can only plan as BroadcastNestedLoopJoin / CartesianProduct
  * — O(|a|·|b|) string DPs, the plan that dies at corpus scale. The
  * rewrite:
  *
  *  - projects each side's DISTANCE-1 DELETION NEIGHBORHOOD — the string
  *    plus every single-character deletion, deduplicated — as an array
  *    column (pure codegen'd `transform`, no UDF). By the pigeonhole
  *    property two strings within edit distance 1 share ≥ 1 key, so
  *    recall is exactly 1;
  *  - `posexplode`s the arrays (a Generate node — variable fan-out, so
  *    Expand's fixed projection list cannot express it) and equi-joins on
  *    the key: Catalyst now sees join keys and plans a hash join,
  *    shuffling short strings instead of pairing all rows;
  *  - keeps the ORIGINAL predicate as the exact verification filter, and
  *    guards on the FIRST shared key (no earlier left key appears in the
  *    right array, no earlier right position holds the same key) so every
  *    qualifying pair survives EXACTLY once — multiplicity, including
  *    duplicate input rows, matches the naive join bit-for-bit.
  *
  * Scope guards: inner joins only; the bound must be a foldable integer
  * with effective value 0 or 1 (deeper bounds need the recursive deletion
  * neighborhood — the [[graft.ops.Fuzzy]] regime note); the two
  * levenshtein operands must split cleanly across the sides and no
  * cross-side equi conjunct may already exist (hand-banded plans keep
  * their keys). Marker attributes make the rule fixpoint-safe. Other
  * conjuncts ride along unchanged.
  *
  * LENGTH SCOPE: the deletion neighborhood is L+1 keys of ~L chars — an
  * O(L²)-bytes-per-row generate that is the right trade for id-like
  * strings and a memory cliff for long text (where the slow nested-loop
  * join the user wrote would at least have COMPLETED). So the band-key
  * expression is length-adaptive around `spark.graft.fuzzyRewrite.maxLen`
  * (default 64; ≤ 0 disables the rewrite): strings under the cap band by
  * deletion neighborhood as above; strings AT or over the cap emit just
  * two LENGTH-BUCKET keys — edit distance ≤ 1 forces |len(a) − len(b)| ≤ 1,
  * so keys {len, len+1} under a reserved prefix preserve recall 1 while
  * restricting long-text candidates to Δlen ≤ 1 (never worse than the
  * nested loop, O(1) key bytes per row). The one boundary pair class —
  * len = cap−1 against len = cap — is covered by the cap−1 rows also
  * emitting the {cap} bucket key. A data string colliding with a bucket
  * key only creates a false CANDIDATE, which the exact levenshtein verify
  * kills; the first-shared-key guards are key-agnostic, so multiplicity
  * stays exact across mixed short/long/boundary pairs.
  */
object FuzzyJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val Marker = "__graft_fband"

  /** Length cap for the deletion-neighborhood premise (see LENGTH SCOPE
    * above); ≤ 0 disables the rewrite.
    */
  val MaxLenKey = "spark.graft.fuzzyRewrite.maxLen"

  private def maxLen: Int = conf.getConfString(MaxLenKey, "64").toInt

  /** `levenshtein(l, r) <= k` in any orientation (strict forms folded to
    * inclusive bounds); the 2-arg form only — a threshold form already
    * chose its own computation shape.
    */
  private object EditBound {
    private def lev(e: Expression): Option[(Expression, Expression)] = e match {
      case Levenshtein(l, r, None) => Some((l, r))
      case Cast(inner, t, _, _) if t == IntegerType || t == LongType => lev(inner)
      case _ => None
    }
    private def lit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, LongType) if v.isValidInt => Some(v.toInt)
      case Cast(inner, _, _, _) => lit(inner)
      case _ => None
    }
    def unapply(e: Expression): Option[(Expression, Expression, Int)] = e match {
      case LessThanOrEqual(l, r) => for ((a, b) <- lev(l); k <- lit(r)) yield (a, b, k)
      case GreaterThanOrEqual(l, r) => for (k <- lit(l); (a, b) <- lev(r)) yield (a, b, k)
      case LessThan(l, r) => for ((a, b) <- lev(l); k <- lit(r)) yield (a, b, k - 1)
      case GreaterThan(l, r) => for (k <- lit(l); (a, b) <- lev(r)) yield (a, b, k - 1)
      case _ => None
    }
  }

  /** The deletion neighborhood of string expression `s` as a Catalyst
    * tree: array_distinct(array(s) ++ transform(sequence(1, length(s)),
    * i -> substr(s, 1, i−1) || substr(s, i+1, length(s)))) — the exact
    * twin of [[graft.ops.Fuzzy.deletionKeys]].
    */
  private def deletionKeys(s: Expression): Expression = {
    val i = NamedLambdaVariable("i", IntegerType, nullable = false)
    val del = Concat(Seq(
      Substring(s, Literal(1), Subtract(i, Literal(1))),
      Substring(s, Add(i, Literal(1)), Length(s))))
    // Sequence is TimeZoneAwareExpression: without a zone it stays
    // UNRESOLVED and the whole rewritten plan fails validation (the zone
    // is inert for integer sequences, but resolution demands it)
    val seq = new Sequence(Literal(1), Length(s), None, Some(conf.sessionLocalTimeZone))
    ArrayDistinct(Concat(Seq(
      CreateArray(Seq(s)),
      ArrayTransform(seq, LambdaFunction(del, Seq(i))))))
  }

  /** A length-bucket key under a reserved NUL prefix (collisions with data
    * strings are harmless — verify kills false candidates).
    */
  private def bucketKey(n: Expression): Expression =
    Concat(Seq(Literal.create("\u0000len:", StringType), Cast(n, StringType)))

  /** The length-adaptive band-key array (see LENGTH SCOPE in the object
    * scaladoc): deletion neighborhood under the cap, {len, len+1} bucket
    * keys at/over it, both at the cap−1 boundary.
    */
  private def bandKeys(s: Expression, cap: Int): Expression = {
    val len = Length(s)
    // each branch gets a FRESH deletionKeys tree: the lambda variable
    // inside carries an exprId, and the same id declared twice in one
    // generated method is a Janino duplicate-local error
    CaseWhen(
      Seq(
        (GreaterThanOrEqual(len, Literal(cap)),
          CreateArray(Seq(bucketKey(len), bucketKey(Add(len, Literal(1)))))),
        (EqualTo(len, Literal(cap - 1)),
          ArrayDistinct(Concat(Seq(deletionKeys(s),
            CreateArray(Seq(bucketKey(Add(len, Literal(1)))))))))),
      Some(deletionKeys(s)))
  }

  /** Child + (keys array, posexploded (pos, key)) via Project + Generate.
    *
    * The key array deliberately RIDES the exchange on every exploded row
    * (~L+1 short strings). Both alternatives were measured isolated at
    * ×100 (1.5M heavily-duplicated names, SCALING.md r14): carrying the
    * arrays = 266 s; recomputing them inside the guards = 546 s — the
    * ×100 name distribution makes most equi-candidates PASS the banded
    * verify, so the guards evaluate on nearly every candidate and the
    * per-candidate O(L²) array rebuild dwarfs the wider sort rows (the
    * r9 5× measurement, reconfirmed). The remaining gap to the direct
    * operator (33 s) is the documented exactness tax: theta-join
    * multiplicity without row identity needs the first-shared-key
    * guards, and a synthesized row id would break under partial stage
    * recomputation (two attempts can assign different ids to one row —
    * the Spark nondeterminism caveat), so the rewrite keeps the
    * slower-but-sound shape and users who can name an id column keep
    * the operator.
    */
  private def expandSide(plan: LogicalPlan, s: Expression, cap: Int, tag: String):
      (LogicalPlan, Attribute, AttributeReference, AttributeReference) = {
    val ka = Alias(bandKeys(s, cap), s"${Marker}_ka$tag")()
    val projected = Project(plan.output :+ ka, plan)
    val posAttr = AttributeReference(s"${Marker}_p$tag", IntegerType, nullable = false)()
    val keyAttr = AttributeReference(s"${Marker}_k$tag", StringType, nullable = true)()
    val gen = Generate(PosExplode(ka.toAttribute), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(posAttr, keyAttr), projected)
    (gen, ka.toAttribute, posAttr, keyAttr)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.resolved &&
          !left.output.exists(_.name.startsWith(Marker)) &&
          !right.output.exists(_.name.startsWith(Marker)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hasEquiKey = conjuncts.exists {
        case EqualTo(l, r) => crossSides(l, r, left, right)
        case EqualNullSafe(l, r) => crossSides(l, r, left, right)
        case _ => false
      }
      val cap = maxLen
      val candidate = if (hasEquiKey || cap <= 0) None else conjuncts.collectFirst {
        case EditBound(a, b, k)
            if k >= 0 && k <= 1 && a.dataType == StringType && b.dataType == StringType &&
              sidesSplit(a, b, left, right).isDefined =>
          (a, b, k)
      }
      candidate match {
        case None => j
        case Some((a, b, k)) =>
          val Some((sL, sR)) = sidesSplit(a, b, left, right)
          val (genL, kaL, posL, keyL) = expandSide(left, sL, cap, "l")
          val (genR, kaR, posR, keyR) = expandSide(right, sR, cap, "r")
          // first-shared-key guard: (1) no EARLIER left key occurs anywhere
          // in the right key set; (2) no earlier right position holds THIS
          // key — together the surviving (posL, posR) is unique per pair.
          // The guards reference the MATERIALIZED key arrays — the
          // measured-fastest exact shape (see the expandSide scaladoc for
          // the r14 ×100 three-way numbers); recomputing per candidate is
          // 2× worse because duplicate-heavy corpora pass the verify on
          // most candidates. This exactness tax (vs the hand-written
          // operator's id-keyed DISTINCT, which a rewrite without row
          // identity cannot use) is the rule's price for bit-exact theta
          // multiplicity.
          val guard1 = Not(ArraysOverlap(Slice(kaL, Literal(1), posL), kaR))
          val guard2 = Not(ArrayContains(Slice(kaR, Literal(1), posR), keyL))
          // swap the matched conjunct's verification for the THRESHOLD
          // levenshtein: O(k·L) banded DP per candidate instead of the
          // full O(L²) — `lev(a,b) <= k  ⟺  lev(a,b,k) >= 0` (the
          // threshold form returns −1 past the bound, NULL for NULL —
          // identical tri-state semantics). Measured 10× on the verify-
          // dominated regime (SCALING.md r9).
          val banded = GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(k))), Literal(0))
          // semanticEquals, not structural ==: a cosmetically different
          // duplicate of the matched conjunct (case-differing attribute
          // names, commuted casts) must ALSO get the banded form or it
          // silently re-runs the full O(L²) DP per candidate
          val kept = conjuncts.map {
            case EditBound(a2, b2, k2)
                if a2.semanticEquals(a) && b2.semanticEquals(b) && k2 == k => banded
            case other => other
          }
          val newCond = (Seq(EqualTo(keyL, keyR)) ++ kept ++ Seq(guard1, guard2))
            .reduceLeft[Expression](And)
          // pin SORT-MERGE when the user left the join un-hinted: Catalyst
          // sizes the exploded Generate children from their pre-fan-out
          // stats, undercounting L+1-fold — the auto strategy then builds
          // hash maps over the key-array-carrying rows (measured 3.7×
          // slower than SMJ on this shape at sf0.1: 4.18 s vs 1.13 s,
          // SCALING.md "Round-12 fuzzy-rewrite decomposition", V3/V4) and
          // OOMs outright at corpus scale, the exact
          // trap the direct op (Fuzzy.editNeighborPairs) documents and
          // pins against. A user-supplied hint still wins.
          val pinned =
            if (hint == JoinHint.NONE)
              JoinHint(None, Some(HintInfo(strategy = Some(SHUFFLE_MERGE))))
            else hint
          Project(left.output ++ right.output,
            Join(genL, genR, Inner, Some(newCond), pinned))
      }
  }

  private def crossSides(l: Expression, r: Expression, left: LogicalPlan,
                         right: LogicalPlan): Boolean =
    (l.references.nonEmpty && r.references.nonEmpty) &&
      ((l.references.subsetOf(left.outputSet) && r.references.subsetOf(right.outputSet)) ||
        (l.references.subsetOf(right.outputSet) && r.references.subsetOf(left.outputSet)))

  /** Normalize the levenshtein operands to (leftSideExpr, rightSideExpr). */
  private def sidesSplit(a: Expression, b: Expression, left: LogicalPlan,
                         right: LogicalPlan): Option[(Expression, Expression)] =
    if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet) &&
      a.references.nonEmpty && b.references.nonEmpty) Some((a, b))
    else if (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet) &&
      a.references.nonEmpty && b.references.nonEmpty) Some((b, a))
    else None
}
