package graft.pipeline

/** Row types of the transcript extraction pipeline.
  *
  * Input shape per the mission's `input_hint`: an Iceberg-style table of
  * multi-turn conversation / agent transcripts. Output adds the reference's
  * extraction results (visible text, spans, parse diagnostics) per turn
  * (reference semantics: src/public/mod.ts:1616-1667 visibleText +
  * visibleTextTokensWithProvenance).
  */
final case class TranscriptTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp
)

/** One visible-text token with its source-character span in the ORIGINAL
  * html input of the turn (UTF-16 code-unit offsets, reference
  * src/public/types.ts:5-8). `start`/`end` are -1 when the token has no
  * input-backed source node (inferred wrappers / structure breaks).
  */
final case class TokenSpan(
    kind: String,
    value: String,
    start: Int,
    end: Int,
    source_node_id: Int
)

final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    extracted_text: String,
    spans: Seq[TokenSpan],
    n_parse_errors: Int,
    first_parse_error: String,
    budget_error: String,
    n_chars_in: Long,
    n_chars_out: Long
)

/** One lineage row per task partition (north-rule resumability/observability:
  * partition id, row and failed-row counts, summed parse errors and chars
  * in/out, input files seen, order-independent digest).
  */
final case class LineageRow(
    partition_id: Int,
    n_rows: Long,
    n_errors: Long,
    n_parse_errors: Long,
    n_chars_in: Long,
    n_chars_out: Long,
    input_files: Seq[String],
    digest: Long
)
