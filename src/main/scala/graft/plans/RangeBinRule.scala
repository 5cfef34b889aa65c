package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Automatic range-join optimization: a `Rule[LogicalPlan]` (registered via
  * [[GraftExtensions]] / `spark.sql.extensions`) that rewrites an inner join
  * whose ONLY cross-side condition is a point-in-interval predicate
  * (`lo ≤/< x` AND `x ≤/< hi`, point on one side, bounds on the other) into
  * a binned equi-join — the declarative-SQL counterpart of
  * `relational.RangeJoin.binnedRangeJoin` (SURVEY §4's extension ladder,
  * tier (c): whole-operator semantics at the plan level).
  *
  * Without an equality key Spark plans BroadcastNestedLoopJoin or a
  * cartesian product — |probe|×|intervals| comparisons, the range-join
  * scale killer. The rewrite assigns every point to one fixed-width bin
  * and explodes every interval to each bin it overlaps, so the join
  * hash-partitions on the bin and the original predicate filters inside
  * the same stage. Result-identical: a containing interval always shares
  * its point's bin (bin(lo) ≤ bin(x) ≤ bin(hi) whenever lo ≤ x ≤ hi, and
  * strict bounds only shrink the match set after the residual filter).
  *
  * Opt-in, like a bin-size session conf in production range-join
  * implementations: fires only when `spark.graft.rangeJoin.binWidth` is a
  * positive long (the caller picks a width on the order of the typical
  * interval length — expansion is ~len/width+1 rows per interval). Fires
  * only on resolved INNER joins with integral-typed (byte/short/int/long)
  * point and bound expressions and NO cross-side equality conjunct (with
  * one, Spark already hash-joins; the rewrite would only add cost).
  * Idempotent by construction: the rewritten join carries a cross-side
  * equality on the bin, which the guard rejects on the next pass.
  *
  * Nulls and degenerate intervals keep their join semantics for free: a
  * NULL point yields a NULL bin which the equi-join drops (the original
  * BETWEEN is NULL there too), a NULL bound nulls the bin sequence and
  * `Explode` (outer=false) drops the interval row, and an empty interval
  * (lo > hi) explodes to an empty array — matching the always-false
  * original predicate — via the If guard (Sequence would throw on an
  * ascending scan of descending bounds).
  */
object RangeBinRule extends Rule[LogicalPlan] with PredicateHelper {

  val WidthKey = "spark.graft.rangeJoin.binWidth"

  /** Types the bin mapping supports. Analysis has already coerced both
    * sides of each comparison to one common type, so point and bounds
    * always agree here. The mapping only has to be monotone non-decreasing
    * and shared by both sides — bin(lo) ≤ bin(x) ≤ bin(hi) then follows
    * from lo ≤ x ≤ hi for any floor-div width.
    */
  private def isBinnable(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case DateType | TimestampType | TimestampNTZType   => true
    case _                                             => false
  }

  /** Monotone map to long: integral → identity cast; date → days since
    * epoch; timestamps → µs since epoch (binWidth is therefore in the
    * column's native unit — days for dates, MICROSECONDS for timestamps).
    * The NTZ→LTZ cast is session-tz dependent but non-decreasing, which is
    * all correctness needs (the exact predicate still filters in-stage).
    */
  private def toLong(e: Expression): Expression = e.dataType match {
    case DateType          => Cast(UnixDate(e), LongType)
    case TimestampType     => UnixMicros(e)
    // NTZ→LTZ Cast needsTimeZone: without an explicit timeZoneId the
    // optimizer-inserted expression stays unresolved and evaluation NPEs
    // on timeZoneId.get (same constraint as Sequence in rewrite())
    case TimestampNTZType  =>
      UnixMicros(Cast(e, TimestampType, Some(conf.sessionLocalTimeZone)))
    case _                 => Cast(e, LongType)
  }

  /** Normalize any comparison conjunct to (smaller, larger). */
  private def asLe(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(a, b)    => Some((a, b))
    case LessThan(a, b)           => Some((a, b))
    case GreaterThanOrEqual(a, b) => Some((b, a))
    case GreaterThan(a, b)        => Some((b, a))
    case _                        => None
  }

  /** Exact floor(x / width) in long arithmetic at any sign/magnitude:
    * x - pmod(x, w) is an exact multiple of w, so the integral divide
    * never rounds (same discipline as ext.Sampling's bucket ids).
    */
  private def bin(e: Expression, width: Long): Expression = {
    val x = toLong(e)
    val w = Literal(width)
    IntegralDivide(Subtract(x, Pmod(x, w)), w)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width =
      try conf.getConfString(WidthKey, "0").toLong
      catch { case _: NumberFormatException => 0L }
    if (width <= 0) plan
    else plan.transform {
      case j @ Join(_, _, Inner, Some(_), _) if j.resolved =>
        rewrite(j, width).getOrElse(j)
    }
  }

  private def rewrite(j: Join, width: Long): Option[LogicalPlan] = {
    val left  = j.left
    val right = j.right
    val cond  = j.condition.get
    val hint  = j.hint
    def fromLeft(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(left.outputSet)
    def fromRight(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(right.outputSet)

    val conjuncts = splitConjunctivePredicates(cond)
    val crossEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))
      case EqualNullSafe(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))
      case _ => false
    }
    if (crossEqui) return None

    // lo ≤ x with lo on one side and x on the other; then a matching
    // x ≤ hi with hi on lo's side. Both orientations.
    val les = conjuncts.flatMap(asLe)
    val found = les.iterator.flatMap { case (lo, x) =>
      val xRight = fromLeft(lo) && fromRight(x)
      val xLeft  = fromRight(lo) && fromLeft(x)
      if (!xRight && !xLeft) Iterator.empty
      else les.iterator.collect {
        case (x2, hi) if x2.semanticEquals(x) &&
            (if (xRight) fromLeft(hi) else fromRight(hi)) &&
            isBinnable(x) && isBinnable(lo) && isBinnable(hi) =>
          (x, lo, hi, xLeft)
      }
    }.take(1).toSeq.headOption

    found.map { case (x, lo, hi, pointOnLeft) =>
      val loBin = bin(lo, width)
      val hiBin = bin(hi, width)
      // Sequence is TimeZoneAwareExpression: without a timeZoneId it is
      // UNRESOLVED and the optimizer's plan validation rejects the rewrite
      val seq = If(LessThanOrEqual(loBin, hiBin),
        Sequence(loBin, hiBin, Some(Literal(1L)),
          Some(conf.sessionLocalTimeZone)),
        Literal.create(Array.empty[Long], ArrayType(LongType, false)))
      val genAttr =
        AttributeReference("_graft_range_bin", LongType, nullable = false)()
      val intervalSide = if (pointOnLeft) right else left
      val pointSide    = if (pointOnLeft) left else right
      val gen = Generate(Explode(seq), unrequiredChildIndex = Nil,
        outer = false, qualifier = None,
        generatorOutput = Seq(genAttr), child = intervalSide)
      val pAlias = Alias(bin(x, width), "_graft_point_bin")()
      val proj = Project(pointSide.output :+ pAlias, pointSide)
      val newCond = And(EqualTo(pAlias.toAttribute, genAttr), cond)
      val (nl, nr) = if (pointOnLeft) (proj, gen) else (gen, proj)
      Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
    }
  }
}

/** Entry point for `spark.sql.extensions` — wires [[RangeBinRule]] and the
  * stateless codegen kernels into every session built with this jar on the
  * classpath. The kernel injection is what makes the kernels reachable from
  * a PURE-SQL session (spark-sql shell, JDBC/Thrift, notebook SQL cell)
  * where nobody can call `VecOps.register(spark)` first; the runtime
  * registry path (`KernelRegistry.ensure`) stays as the fallback for
  * sessions built without the extension, and its lookup-before-create makes
  * the two paths compose (the injected entry short-circuits the ensure).
  * It also binds `file://` to the fork-free [[graft.util.LocalFs]] classes
  * on the context's Hadoop conf: extensions are applied after the
  * SparkContext starts and before the session's shared state caches a
  * FileSystem, so the first cached `file://` FileSystem is the new one.
  * For the same reason it sizes Spark's generated-code cache
  * ([[graft.util.CodegenCache]]): no query has compiled anything yet.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    val sc = org.apache.spark.SparkContext.getOrCreate()
    graft.util.LocalFs.install(sc.hadoopConfiguration)
    graft.util.CodegenCache.install(sc.getConf)
    ext.injectOptimizerRule(_ => RangeBinRule)
    val kernels = graft.functions.VecOps.kernels ++
      graft.functions.TextKernelFns.kernels
    kernels.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[GraftExtensions].getName, name),
        builder))
    }
  }
}
