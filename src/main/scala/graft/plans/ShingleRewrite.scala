package graft.plans

import graft.functions.{ShingleGen, Shingles}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: rewrite the composed distinct-shingle explode
  *
  * {{{ explode(array_distinct(Text.shingles(Text.tokens(text), n))) }}}
  *
  * into the native [[graft.functions.ShingleGen]] generator. The two
  * forms are row-equal (asserted in FunctionsSpec), but the composed
  * HOF chain re-evaluates the tokenizing regexp inside every
  * `element_at` of every lambda application and materializes each
  * document's full shingle array across the explode boundary — ~20×
  * slower at corpus scale (PERF.md round-6 measurement: 9s vs 0.4s at
  * sf0.1). A user who writes the natural declarative form should get
  * the native plan without knowing the fast path exists; that is what
  * an optimizer is for.
  *
  * The match is deliberately conservative — it fires only on the exact
  * library shape: `explode` (not `explode_outer`) of `array_distinct`
  * of the guarded transform built by [[graft.ops.Text.shingles]] over
  * [[graft.ops.Text.tokens]] (the shared
  * [[graft.functions.Shingles.TokenRegex]]), with the text
  * expression's references available from the Generate's child (the
  * inline single-select form). Anything else — a different tokenizer,
  * no distinct, a rewritten guard — is left untouched, because only
  * the known shape is proven row-equal to the generator.
  */
object ShingleRewrite extends Rule[LogicalPlan] {

  /** Idempotently append this rule to a live session's experimental
    * optimizations (the no-extensions path; extension-built sessions
    * get it via [[graft.GraftExtensions]]). */
  def installOn(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case g @ Generate(Explode(arg), _, false, _, out, child) if out.length == 1 =>
      // Inline single-select form: the whole composed tree sits in the
      // Generate's own expression.
      asDistinctShingles(arg) match {
        case Some((text, n))
            if text.dataType == StringType &&
              text.references.subsetOf(child.outputSet) =>
          g.copy(generator = ShingleGen(text, n))
        case _ =>
          child match {
            case p: Project => rewriteThroughProject(g, arg, out, p).getOrElse(g)
            case _          => g
          }
      }
  }

  /** Project-bound form — the MORE natural user shape: the tokens (or
    * the whole shingle array) are aliased in a lower SELECT and the
    * explode references the alias, e.g.
    *
    * {{{
    * df.select($"doc_id", Text.tokens($"text").as("toks"))
    *   .select($"doc_id", explode(array_distinct(Text.shingles($"toks", n))))
    * }}}
    *
    * Substituting the Project's aliases into the explode argument
    * recovers the inline tree; if it matches and the text column is
    * available BELOW the Project, the Generate is re-parented onto the
    * Project's child with the native generator, and a Project above
    * restores the original output — same attributes, same exprIds
    * (pass-through attributes come straight from the grandchild;
    * computed ones reuse the original Alias instances, so nothing
    * above re-resolves). The now-unused token alias is recomputed only
    * if something upstream still references it, and column pruning
    * drops it otherwise.
    *
    * Determinism guard: the rewrite moves projectList expressions from
    * BELOW the Generate to ABOVE it, which changes their evaluation
    * count from once-per-input-row to once-per-exploded-row. For a
    * deterministic expression that is invisible; for `rand()` et al.
    * it silently changes results (the original plan shares one value
    * across all exploded copies of a row). Catalyst's own
    * across-Generate rules (CollapseProject) guard on `deterministic`
    * for exactly this reason, so this rule fires only when every
    * re-created entry — and the inlined generator argument — is
    * deterministic. */
  private def rewriteThroughProject(
      g: Generate,
      arg: Expression,
      out: Seq[Attribute],
      p: Project,
  ): Option[LogicalPlan] = {
    val aliases = AttributeMap(p.projectList.collect { case a: Alias =>
      (a.toAttribute, a.child)
    })
    if (aliases.isEmpty) return None
    val inlined = arg.transformUp {
      case attr: Attribute if aliases.contains(attr) => aliases(attr)
    }
    asDistinctShingles(inlined).flatMap { case (text, n) =>
      val grandchild = p.child
      val usable = text.dataType == StringType &&
        text.references.subsetOf(grandchild.outputSet) &&
        text.deterministic
      if (!usable) None
      else {
        // Rebuild g.output on top of Generate(gen, grandchild): every
        // required child attribute is either a grandchild pass-through
        // or re-created from its original projectList entry.
        val restored: Option[Seq[NamedExpression]] = {
          val entries = g.requiredChildOutput.map { attr =>
            if (grandchild.outputSet.contains(attr)) Some(attr)
            else
              p.projectList
                .find(_.toAttribute.exprId == attr.exprId)
                // only deterministic entries may move above the explode
                .filter(_.deterministic)
          }
          if (entries.forall(_.isDefined)) Some(entries.map(_.get)) else None
        }
        restored.map { kept =>
          Project(
            kept ++ out,
            g.copy(
              generator = ShingleGen(text, n),
              unrequiredChildIndex = Nil,
              child = grandchild,
            ),
          )
        }
      }
    }
  }

  /** The distinct-shingle tree in either optimizer-normal form:
    * `array_distinct` outside the size-guarded CaseWhen (as written),
    * or pushed into its else branch (as earlier optimizer batches
    * rewrite it — distinct of the empty then-branch folds away). */
  private def asDistinctShingles(e: Expression): Option[(Expression, Int)] = e match {
    case ArrayDistinct(cw) => asComposedShingles(cw, distinctInside = false)
    case cw: CaseWhen      => asComposedShingles(cw, distinctInside = true)
    case _                 => None
  }

  /** [[graft.ops.Text.tokens]]`(text)`, i.e. `regexp_extract_all(text,
    * Shingles.TokenRegex, 0)` → the text expression. */
  private def asTokens(e: Expression): Option[Expression] = e match {
    case RegExpExtractAll(text, Literal(re: UTF8String, StringType), Literal(0, IntegerType))
        if re.toString == Shingles.TokenRegex =>
      Some(text)
    case _ => None
  }

  private def intLit(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) => Some(v)
    case _ => None
  }

  private def isEmptyStringArray(e: Expression): Boolean = e match {
    case Literal(arr: ArrayData, ArrayType(StringType, _)) => arr.numElements() == 0
    case Cast(inner, ArrayType(StringType, _), _, _)       => isEmptyStringArray(inner)
    case CreateArray(Seq(), _)                             => true
    case _                                                 => false
  }

  /** Matches [[graft.ops.Text.shingles]]`(tokens(text), n)`: the
    * size-guarded CaseWhen over the n-term concat_ws transform, with
    * the `array_distinct` expected around the transform iff
    * `distinctInside`. Returns (text, n). */
  private def asComposedShingles(e: Expression, distinctInside: Boolean): Option[(Expression, Int)] =
    e match {
      case CaseWhen(Seq((LessThan(Size(toks, _), nLit), empty)), Some(elseBranch))
          if isEmptyStringArray(empty) =>
        val transformOpt = (elseBranch, distinctInside) match {
          case (ArrayDistinct(t: ArrayTransform), true) => Some(t)
          case (t: ArrayTransform, false)               => Some(t)
          case _                                        => None
        }
        transformOpt match {
          case Some(
                ArrayTransform(
                  Sequence(oneLit, upper, _, _),
                  LambdaFunction(body, Seq(lv: NamedLambdaVariable), _),
                )
              ) if intLit(oneLit).contains(1) =>
            for {
              n    <- intLit(nLit)
              text <- asTokens(toks)
              if upperMatches(upper, toks, n) && bodyMatches(body, toks, lv, n)
            } yield (text, n)
          case _ => None
        }
      case _ => None
    }

  /** `size(toks) - (n-1)` (or plain `size(toks)` once n=1 folds). */
  private def upperMatches(upper: Expression, toks: Expression, n: Int): Boolean = upper match {
    case Subtract(Size(t2, _), m, _) => t2.semanticEquals(toks) && intLit(m).contains(n - 1)
    case Size(t2, _)                 => n == 1 && t2.semanticEquals(toks)
    case _                           => false
  }

  /** `concat_ws(" ", element_at(toks, i+0) ... element_at(toks, i+n-1))`. */
  private def bodyMatches(
      body: Expression,
      toks: Expression,
      lv: NamedLambdaVariable,
      n: Int,
  ): Boolean = body match {
    case ConcatWs(Literal(sep: UTF8String, StringType) +: terms)
        if sep.toString == " " && terms.length == n =>
      terms.zipWithIndex.forall { case (t, j) => termMatches(t, toks, lv, j) }
    case _ => false
  }

  private def termMatches(
      t: Expression,
      toks: Expression,
      lv: NamedLambdaVariable,
      j: Int,
  ): Boolean = t match {
    case ElementAt(t2, idx, _, _) if t2.semanticEquals(toks) =>
      idx match {
        case Add(v: NamedLambdaVariable, m, _) => v.exprId == lv.exprId && intLit(m).contains(j)
        case Add(m, v: NamedLambdaVariable, _) => v.exprId == lv.exprId && intLit(m).contains(j)
        case v: NamedLambdaVariable            => j == 0 && v.exprId == lv.exprId
        case _                                 => false
      }
    case _ => false
  }
}
