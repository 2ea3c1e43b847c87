package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import graft.functions.{NativeExpression, SignLshBandsExpression}

/** Optimizer rule: rescue the naive all-pairs similarity formulation
  * (SURVEY §4B item 1, the deferred half of [[RangeJoinBucketing]]'s
  * argument).
  *
  * A user writes `a.crossJoin(b).filter(dot_f64(a.v, b.v) / (a.norm *
  * b.norm) >= τ)` — Spark plans a CartesianProduct (or
  * BroadcastNestedLoopJoin): O(|A|·|B|) cosine evaluations, the worst
  * plan shape at 100 TB. This rule rewrites it into the banded sign-LSH
  * candidate+verify pipeline ([[graft.llm.Similarity]]'s shape, here as a
  * plan transform): both sides are extended with the 4 band-bucket keys of
  * `sign_lsh_bands` ([[SignLshBandsExpression]]) and pos-exploded, the
  * join becomes a hash equi join on (band, bucket), and the ORIGINAL
  * cosine predicate is kept as a residual — plus a "first agreeing band"
  * guard (band k matches only if no band < k agrees), so every qualifying
  * pair survives exactly once and inner-join multiplicity is preserved.
  *
  * SEMANTICS NOTE — this is a candidate-generating rewrite: precision is
  * exact (the residual re-checks the real predicate) but recall is that of
  * 4×4-bit sign-LSH banding: pairs whose sign patterns disagree on all 4
  * bands are not generated. Identical vectors are always found (equal
  * projections ⇒ equal buckets); the collision probability decays with
  * angle, which is the standard ANN trade for escaping the O(n²) scan.
  * Because the rewrite is NOT semantics-preserving (a user's exact
  * quadratic plan silently loses far-apart qualifying pairs), it is
  * OPT-IN: set spark.graft.cosineLshRewrite.enabled=true to trade exact
  * results for the sub-quadratic candidate plan — mirroring how the
  * assumeUnitVectors escalation below already demands an explicit user
  * assertion. When it does fire the plan is self-announcing: the
  * `__graft_lsh_*` band/bucket attributes appear in EXPLAIN output.
  *
  * Fires only when:
  *   - the join is Inner/Cross (explode changes outer null-extension, and
  *     a semi/anti left row may match different right rows through
  *     different bands, breaking at-most-once);
  *   - no usable cross-side equi conjunct exists (else Spark already hash
  *     joins; also makes the rule idempotent — its own output joins on
  *     band equality);
  *   - a conjunct bounds `dot_f64(a, b) / (x * y)` below by a positive
  *     literal, with `a` and `b` on opposite sides and the denominator a
  *     product of one factor per side (the norm-product shape every
  *     cosine spelling has — this structural check rejects e.g.
  *     `dot/2 ≥ τ`, whose score is NOT an angle and for which the
  *     banding recall bound would not hold); τ > 0 is required since
  *     sign-LSH only clusters positive-cosine neighborhoods.
  *   - bare `dot_f64(a, b) ≥ τ` (no denominator) is rescued ONLY under
  *     spark.graft.cosineLshRewrite.assumeUnitVectors=true: a raw dot
  *     bound equals a cosine bound only for unit vectors, which a plan
  *     rewrite cannot prove — on unnormalized (MIPS-style) data the
  *     angular recall bound would silently not apply, so the user must
  *     assert normalization explicitly.
  */
object CosineLshRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val EnabledKey = "spark.graft.cosineLshRewrite.enabled"
  private val UnitVectorsKey = "spark.graft.cosineLshRewrite.assumeUnitVectors"
  import SignLshBandsExpression.Bands

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // default OFF: a lossy (recall < 1) rewrite must be explicitly chosen
    if (conf.getConfString(EnabledKey, "false") != "true") return plan
    plan.transformUp {
      case j: Join if j.resolved && eligible(j.joinType) && j.condition.isDefined =>
        rewrite(j).getOrElse(j)
    }
  }

  private def eligible(jt: JoinType): Boolean = jt match {
    case Inner | Cross => true
    case _             => false
  }

  private def sideOf(e: Expression, j: Join): Option[Boolean] = {
    if (!e.deterministic) None
    else if (e.references.subsetOf(j.left.outputSet)) Some(true)
    else if (e.references.subsetOf(j.right.outputSet)) Some(false)
    else None
  }

  /** The similarity score under a `score >= τ` bound: dot_f64 / (x * y)
    * with one denominator factor per join side (the norm-product shape —
    * checked in rewrite()), or bare dot_f64 when the session asserts unit
    * vectors. Returns (vecA, vecB, denomFactors). */
  private def vectorsOf(score: Expression, assumeUnit: Boolean)
      : Option[(Expression, Expression, Option[(Expression, Expression)])] =
    score match {
      case Divide(NativeExpression("dot_f64", Seq(a, b)), Multiply(x, y, _), _) =>
        Some((a, b, Some((x, y))))
      case NativeExpression("dot_f64", Seq(a, b)) if assumeUnit =>
        Some((a, b, None))
      case _ => None
    }

  private def positiveLowerBound(e: Expression): Option[(Expression, Expression)] = {
    // returns (score, threshold) for `score >= τ` spellings
    val pair = e match {
      case GreaterThanOrEqual(s, l: Literal) => Some((s, l))
      case GreaterThan(s, l: Literal)        => Some((s, l))
      case LessThanOrEqual(l: Literal, s)    => Some((s, l))
      case LessThan(l: Literal, s)           => Some((s, l))
      case _                                 => None
    }
    pair.filter {
      case (_, Literal(v: Double, DoubleType)) => v > 0.0
      case (_, Literal(v: Float, FloatType))   => v > 0.0f
      case _                                   => false
    }
  }

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(j.condition.get)

    val hasEqui = conjuncts.exists {
      case Equality(a, b) =>
        (sideOf(a, j), sideOf(b, j)) match {
          case (Some(x), Some(y)) => x != y
          case _                  => false
        }
      case _ => false
    }
    if (hasEqui) return None

    val assumeUnit = conf.getConfString(UnitVectorsKey, "false") == "true"
    val vectorPair = conjuncts.iterator
      .flatMap(positiveLowerBound(_).toSeq)
      .flatMap { case (score, _) => vectorsOf(score, assumeUnit).toSeq }
      .flatMap { case (a, b, denom) =>
        // the norm-product shape: one denominator factor ANCHORED on each
        // side (any pairing) — a constant or single-side product is NOT
        // an angle normalizer, so the recall bound wouldn't hold. The
        // nonEmpty-references requirement matters: sideOf classifies a
        // reference-free literal as "left" (∅ ⊆ any outputSet), which
        // would let `2.0 * right_norm` masquerade as a norm product.
        val denomOk = denom match {
          case None => true
          case Some((x, y)) =>
            (sideOf(x, j), sideOf(y, j)) match {
              case (Some(sx), Some(sy)) =>
                sx != sy && x.references.nonEmpty && y.references.nonEmpty
              case _ => false
            }
        }
        if (!denomOk) None
        else (sideOf(a, j), sideOf(b, j)) match {
          case (Some(true), Some(false)) => Some((a, b))
          case (Some(false), Some(true)) => Some((b, a))
          case _                         => None
        }
      }
      .nextOption()

    vectorPair.map { case (lVec, rVec) =>
      val (genL, posL, bktL, bandsL) = banded(j.left, lVec, "l")
      val (genR, posR, bktR, bandsR) = banded(j.right, rVec, "r")
      // band k counts only if no earlier band agrees — each qualifying
      // pair survives through exactly its minimal agreeing band
      val firstAgree = CaseWhen(
        (0 until Bands).map { k =>
          val noEarlier = (0 until k)
            .map(b => Not(EqualTo(
              GetArrayItem(bandsL, Literal(b)), GetArrayItem(bandsR, Literal(b)))))
            .foldLeft(Literal.TrueLiteral: Expression)(And(_, _))
          (EqualTo(posL, Literal(k)): Expression, noEarlier: Expression)
        },
        Some(Literal.FalseLiteral))
      val newCond = And(And(And(
        EqualTo(posL, posR), EqualTo(bktL, bktR)), firstAgree), j.condition.get)
      Project(j.output, Join(genL, genR, j.joinType, Some(newCond), j.hint))
    }
  }

  /** child → Generate(posexplode(sign_lsh_bands(vec))) with the band array
    * kept in scope; returns (plan, posAttr, bucketAttr, bandArrayAttr). */
  private def banded(child: LogicalPlan, vec: Expression, tag: String)
      : (LogicalPlan, Attribute, Attribute, Attribute) = {
    val bands = Alias(NativeExpression("sign_lsh_bands", Seq(vec)), s"__graft_lsh_bands_$tag")()
    val proj = Project(child.output :+ bands, child)
    val pos = AttributeReference(s"__graft_lsh_band_$tag", IntegerType, nullable = false)()
    val bkt = AttributeReference(s"__graft_lsh_bucket_$tag", LongType, nullable = false)()
    val gen = Generate(PosExplode(bands.toAttribute), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(pos, bkt), child = proj)
    (gen, pos, bkt, bands.toAttribute)
  }
}
