package graft.classify

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** F8 — the LLM decision fallback boundary
  * (`/root/reference/extract_and_embed_v2.py:264-300`).
  *
  * The reference has two copies of `determine_case_decision` with
  * DIFFERENT tails: the ingest service falls back to a GPT-4o call on
  * the extracted conclusion when every regex rule misses
  * (`extract_and_embed_v2.py:146-156`), while the search service's copy
  * is regex-only and returns `invalid` (`extract_and_search_v2.py
  * :173-232`). This trait makes that asymmetry a configuration instead
  * of two code paths: the cascade is shared, and the tail behavior is
  * the pluggable part.
  *
  * Whatever the implementation returns is validated against the
  * three-label enum exactly like the reference validates the model
  * response (`extract_and_embed_v2.py:295-297`) — anything else
  * becomes `invalid`. The validation lives in
  * [[Cascades.decisionWithFallback]], not in implementations, so no
  * implementation can widen the label set.
  */
trait DecisionFallback {

  /** Decide a case from the extracted conclusion section (F7 output)
    * and the document-context label (C3 output — the reference uses it
    * to build the model prompt). Must evaluate to one of the three
    * decision labels; out-of-enum values are coerced to `invalid` by
    * the caller.
    */
  def decide(conclusion: Column, docContext: Column): Column

  /** True when [[decide]] can never change an `invalid` — lets the
    * caller skip building the conclusion/context columns entirely
    * (conclusion extraction is a per-row UDF; there is no reason to
    * pay for it on the regex-only configuration).
    */
  def isNoop: Boolean = false
}

/** The search-service configuration (`extract_and_search_v2.py:229-232`):
  * no model call, unmatched documents stay `invalid`.
  */
case object NoFallback extends DecisionFallback {
  def decide(conclusion: Column, docContext: Column): Column =
    lit(DecisionRules.Invalid)
  override def isNoop: Boolean = true
}
