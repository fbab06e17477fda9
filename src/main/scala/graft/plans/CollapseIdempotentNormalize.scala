package graft.plans

import graft.functions.Kernel
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Custom Catalyst optimizer rule — the `Rule[LogicalPlan]` tier of the
  * extension surface (injected by graft.functions.GraftExtensions beside the
  * native expressions): collapse `normalize_text(normalize_text(x))` to one
  * application.
  *
  * Why this rewrite is SOUND: normalize_text is idempotent by construction —
  * its output is already NFC-composed, ROOT-casefolded, and
  * whitespace-collapsed/trimmed, and each of those three passes is a
  * projection (applying it to its own output is the identity; pinned by a
  * property test in TextOpsSuite over adversarial inputs, so a future kernel
  * edit that breaks idempotence fails the build before it can invalidate
  * this rule).
  *
  * Why it MATTERS: normalization is called defensively at layer boundaries —
  * a curation pipeline normalizes on ingest, and a downstream operator
  * (tokenize, fingerprint, dedup) normalizes again because it cannot assume
  * its caller did. When such layers compose into ONE plan, the naive result
  * runs the full kernel (NFC + casefold + collapse) twice per row over the
  * corpus; this rule deletes the inner pass at plan time, which is exactly
  * the kind of cross-layer redundancy no single author sees in their own
  * code. Applied bottom-up via transformAllExpressions, so triple-stacked
  * calls collapse in one optimizer visit.
  */
object CollapseIdempotentNormalize extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Kernel("normalize_text", Seq(inner @ Kernel("normalize_text", _))) => inner
    }
}
