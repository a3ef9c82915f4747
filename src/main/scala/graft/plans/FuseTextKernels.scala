package graft.plans

import graft.expressions.{CleanText, CountMatches}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule (injected by [[graft.GraftExtensions]], excludable via
  * `spark.sql.optimizer.excludedRules=graft.plans.FuseTextKernels`):
  * rewrites the text-pipeline's composed regex shapes into the fused
  * kernels in [[graft.expressions.CleanText]]/[[graft.expressions.CountMatches]].
  * Same architecture as [[FuseCosine]]: the portable composed form stays
  * the declared semantics (and what runs with the rule excluded), the
  * rule swaps in the allocation-free kernel wherever the exact shape
  * appears — including SQL the library didn't author.
  *
  * Rewrites (each provably value-identical, pinned in TextKernelsSpec):
  *
  *   1. trim(regexp_replace(regexp_replace(regexp_replace(x,
  *        "[\n\r\t]", " "), "[^\x20-\x7E]", ""), "\s+", " "))
  *      → CleanText(x)                     (one byte scan, zero copies)
  *
  *   2. size(regexp_extract_all(x, p, 0))  → CountMatches(x, p)
  *      (same Matcher.find() loop, minus the array of matches;
  *       only when size is in modern null semantics — legacy
  *       sizeOfNull=-1 differs on null input)
  *
  *   3. size(split(x, p, -1)) → CountMatches(x, p) + 1
  *      (Pattern.split with negative limit yields matches+1 pieces for
  *       the never-zero-width separators used here; guarded to the
  *       library's whitespace separator rather than proven for every
  *       conceivable zero-width-capable pattern)
  */
object FuseTextKernels extends Rule[LogicalPlan] {

  private object StrLit {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, StringType) => Some(s.toString)
      case _ => None
    }
  }

  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(i: Int, IntegerType) => Some(i)
      case _ => None
    }
  }

  /** regexp_replace(x, pat, rep) with the default position 1. */
  private object Replace {
    def unapply(e: Expression): Option[(Expression, String, String)] = e match {
      case RegExpReplace(x, StrLit(pat), StrLit(rep), IntLit(1)) =>
        Some((x, pat, rep))
      case _ => None
    }
  }

  /** Separators safe for rewrite 3: provably never zero-width, and the
    * only ones the library emits. */
  private val SplitSeparators = Set("\\s+", " ")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case StringTrim(
            Replace(Replace(Replace(x, "[\\n\\r\\t]", " "),
              "[^\\x20-\\x7E]", ""), "\\s+", " "), None) =>
        CleanText(x)
      case Size(RegExpExtractAll(x, StrLit(p), IntLit(0)), false) =>
        CountMatches(x, p)
      case Size(StringSplit(x, StrLit(p), IntLit(-1)), false)
          if SplitSeparators.contains(p) =>
        Add(CountMatches(x, p), Literal(1, IntegerType))
    }
}
