package graft.classify

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** S2 — first-page metadata extraction
  * (`/root/reference/extract_and_embed_v2.py:387-422`): case number,
  * mentioned dates, and parties, as pure regexp projections. Python's
  * `re.IGNORECASE` becomes an inline `(?i)` prefix, valid in both Java
  * regex (Spark) and RE2 (DuckDB).
  */
object CaseMetadata {

  /** `extract_and_embed_v2.py:401` — appeal/case number, group 1. */
  val caseNumberPattern =
    """(?i)(?:appeal|application|petition|case|c\.a\.)\s+no\.?\s*([\w\d\.\-\/]+)"""

  /** `extract_and_embed_v2.py:407` — numeric and written dates. */
  val datePattern =
    """(?i)\d{1,2}[\/\.\-]\d{1,2}[\/\.\-]\d{2,4}|\d{1,2}(?:st|nd|rd|th)?\s+(?:jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)[a-z]*\.?\s+\d{2,4}"""

  /** `extract_and_embed_v2.py:413` — "X versus Y" parties.
    *
    * CONSTRAINT (Ingest's scan-once optimization depends on it): this
    * pattern must stay free of anchors, word boundaries, and
    * lookarounds. Ingest extracts group 0 once and re-runs the pattern
    * ON ITS OWN MATCH to split groups 1/2 — equivalent only while a
    * match re-matches identically against itself (self-contained
    * pattern, greedy-preference determinism). CaseMetadataSpec's
    * property test pins the equivalence over varied texts; if you add
    * `\b`/`^`/lookarounds here, Ingest must go back to direct
    * two-group extraction.
    */
  val partiesPattern =
    """(?i)([A-Za-z\s\.,]+)\s+(?:versus|vs\.?|v\.)\s+([A-Za-z\s\.,]+)"""

  /** Guarded parties extraction. The pattern's nested quantifiers
    * ([A-Za-z\s\.,]+ overlaps \s+) backtrack O(n³) per scan on
    * NON-matching text, and a failed scan is the common case — the
    * whole document is typically one [A-Za-z\s\.,] run, so every start
    * position replays the full greedy collapse. Every alternative of
    * the separator token, lowercased, IS one of the literals "versus",
    * "vs", "v." (note "versus" does NOT contain "vs" — v and s are
    * never adjacent in it; the spec's adversarial corpus pins this) —
    * so a text whose lowercase contains none of the three cannot
    * match, and `regexp_extract` on it returns '' by contract.
    * Guarding the extract with two substring probes (codegen
    * UTF8String.contains, linear, no regex) makes the no-match case
    * O(n) while matching texts take the identical regex path: results
    * are bit-identical (pinned by CaseMetadataSpec's guard property
    * test and the s2/ingest oracle hashes, whose DuckDB side still
    * runs the unguarded pattern). NULL text gives NULL, as the
    * unguarded extract does: the guard is NULL then, so neither branch
    * fires.
    */
  def partiesExtract(text: Column, group: Int): Column = {
    val low = lower(text)
    when(low.contains("vs") || low.contains("v.") || low.contains("versus"),
      regexp_extract(text, partiesPattern, group)).when(text.isNotNull, lit(""))
  }

  def caseNumber(text: Column): Column =
    regexp_extract(text, caseNumberPattern, 1).as("case_number")

  /** All date mentions (Python `re.findall` analog). The pattern has no
    * capturing group, so extract whole matches (group 0).
    */
  def datesMentioned(text: Column): Column =
    regexp_extract_all(text, lit(datePattern), lit(0)).as("dates_mentioned")

  def firstDate(text: Column): Column =
    regexp_extract(text, datePattern, 0).as("first_date")

  def appellant(text: Column): Column =
    trim(partiesExtract(text, 1)).as("appellant")

  def respondent(text: Column): Column =
    trim(partiesExtract(text, 2)).as("respondent")
}
