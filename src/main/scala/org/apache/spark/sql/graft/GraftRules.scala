package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{StringTrim, StringTrimLeft, StringTrimRight}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Custom Catalyst optimizer rules for graft's native expressions —
  * the `Rule[LogicalPlan]` extension tier (alongside the native
  * `Expression`s, the AsOfJoin `LogicalPlan`/`SparkPlan`/Strategy, and
  * the `SparkSessionExtensions` SQL registration).
  *
  * [[NormalizeIdempotence]]: `nfc` and `strip_accents` are idempotent
  * (NFC normalization is a fixpoint; accent folding re-emits NFC with
  * no marks left to strip), so nested applications collapse to one.
  * The case this pays for is OPERATOR COMPOSITION: a user chains
  * `normalize` output into a dedup stage that normalizes its own input
  * defensively — without the rule every row pays the (allocating,
  * non-codegen-fusable) Unicode pass twice; with it Catalyst deletes
  * the inner pass from the optimized plan, the same way it folds
  * `upper(upper(x))`. Registered through [[GraftExtensions]]
  * (config-based sessions) and [[GraftRules.ensure]] (existing
  * sessions, the AsOf strategy pattern).
  */
object NormalizeIdempotence extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case NfcNormalize(inner @ NfcNormalize(_)) => inner
      case NfcNormalize(inner @ StripAccents(_)) =>
        // strip_accents recomposes to NFC on output — a following nfc
        // is a no-op
        inner
      case StripAccents(inner @ StripAccents(_)) => inner
      case StripAccents(NfcNormalize(inner)) =>
        // strip_accents NFD-decomposes its input itself, and
        // NFD(NFC(x)) = NFD(x) — the inner nfc is dead work. q11's
        // dedup key has this shape, but no engine session installs the
        // rule (GraftSession adds no extensions; only tests call
        // GraftRules.ensure), so q11 still pays the nfc pass
        StripAccents(inner)
    }
}

/** [[TrimIdempotence]]: whitespace trimming is idempotent —
  * `trim(trim(x))` and the l/r variants (default whitespace trim only)
  * collapse to one pass. This is the trim analogue of Catalyst's own
  * `SimplifyCaseConversionExpressions` (which already folds nested
  * `lower`/`upper` chains — measured, which is why case conversions are
  * deliberately NOT matched here), and the composition arises the same
  * way the normalize chains do: an operator defensively trims input a
  * q32/q33/q52-style upstream already trimmed. Custom-trimStr trims are
  * left alone — trim(trim(x, "ab"), "ab") IS idempotent but the
  * equality check on the trimStr expression is not worth the rule
  * surface; inner/outer trims of DIFFERENT character sets do not
  * commute at all. */
object TrimIdempotence extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case StringTrim(inner @ StringTrim(_, None), None) => inner
      case StringTrimLeft(inner @ StringTrimLeft(_, None), None) => inner
      case StringTrimRight(inner @ StringTrimRight(_, None), None) => inner
    }
}

object GraftRules {
  /** All graft optimizer rules, in registration order. */
  private[graft] val rules: Seq[Rule[LogicalPlan]] =
    Seq(NormalizeIdempotence, TrimIdempotence)

  /** Idempotently add graft's optimizer rules to an EXISTING session
    * (extensions only apply at session construction). */
  def ensure(spark: SparkSession): Unit = {
    rules.foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ r
      }
    }
  }
}
