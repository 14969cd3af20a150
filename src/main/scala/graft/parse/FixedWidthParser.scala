package graft.parse

import graft.schema.{FixedField, FixedSchema}
import graft.schema.FixedType._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parse mode.
  *
  *  - [[Strict]]: engine default. Numerics are whitespace-trimmed before
  *    casting; a failed parse yields NULL; timestamps keep their declared
  *    precision (micros in Spark's TimestampType).
  *  - [[Compat]]: bug-parity with the reference (SURVEY.md §2.2–2.3):
  *    numerics are NOT trimmed and a failed parse yields the zero value
  *    (`ColumnBuilderTypes.go:124-128` + ignored error at
  *    `ColumnBuilder.go:219-221`); booleans look at the first character
  *    only with J/j/Y/y→true else false; date and timestamp columns all
  *    store Unix SECONDS as a long (fine print F1,
  *    `ColumnBuilder.go:279,330,381`). We do NOT replicate F2 (the
  *    inverted error checks that zero out every successfully parsed
  *    date/timestamp-millis) — that is a plain bug, documented instead.
  */
sealed trait ParseMode
case object Strict extends ParseMode
case object Compat extends ParseMode

/** Fixed-width line parser: `DataFrame[value: String]` → typed DataFrame.
  *
  * Spark-first re-expression of the reference's per-chunk scan loop
  * (`fixed2avro/ColumnBuilder.go:198-227`): the chunking/CRLF alignment
  * (`ParalizeChunks` / `FindLastNL`) is the line source's job
  * ([[graft.sources.FixedWidth.lines]]); each line is cut into its
  * fields by ONE single-pass slice expression
  * ([[graft.functions.FixedSlice]], rune-counted like the reference's
  * slicing — `fixed2avro/Util.go:45-65`, fine print F4), and the
  * per-column `ColumnBuilder` family (`fixed2avro/ColumnBuilderTypes.go`)
  * becomes a projection of codegen'd expressions chosen by each field's
  * [[graft.schema.FixedType]]. The whole parse is one WholeStageCodegen
  * span: no UDFs.
  */
object FixedWidthParser {

  /** Reference timestamp format `2020-07-09-09.59.59.993750`
    * (`fixed2avro/ColumnBuilder.go:231`): dash between date and hour,
    * dots inside the time, up to 6 fractional digits. */
  val TimestampFormat = "yyyy-MM-dd-HH.mm.ss.SSSSSS"

  /** Footer sentinel: a line whose first 12 chars are '*' ends the input
    * (`fixed2avro/ColumnBuilder.go:211-214`, fine print F6). */
  val FooterPrefix = "************"

  /** The reference's footer test as a Column predicate — `len > 12 &&`
    * the 12-asterisk prefix (strictly greater: EXACTLY 12 asterisks is
    * data) — the ONE home for the fine print, shared by the parse
    * filter, the fused toAvro filter, and the OCF export
    * ([[graft.sources.Ocf]]); see the conjunct-order note at the parse
    * call site (startsWith first — a leading length() walk cost
    * +0.2 s/GB on every parse leg). */
  def isFooter(line: Column): Column =
    line.startsWith(FooterPrefix) && octet_length(line) > FooterPrefix.length

  /** Parse to NTZ wall-clock, null on failure — the fixed-layout
    * codegen'd parser (graft.functions.RefTimestamp): same accepted
    * grammar as `try_to_timestamp(c, TimestampFormat)` incl. the F3
    * lenient 1..6-digit decimal fraction, ~6x faster than routing every
    * row through DateTimeFormatter (timestamps were ~45% of the parse
    * leg). Timezone-free like the reference's zero-value time.Location
    * (`ColumnBuilder.go:229`). */
  private def tryTimestampNtz(c: Column): Column =
    graft.functions.RefTimestamp.parse_ref_timestamp(c)

  /** Type a raw slice. `raw` is expected ALREADY space-trimmed for the
    * trimmable types (`FixedType.strictTrim`) — the single-pass slicer
    * trims zero-copy. */
  private def strictExpr(raw: Column, f: FixedField): Column = f.fixedType match {
    case Bool =>
      // Strict keeps the J/Y vocabulary but nulls out unknowns.
      val c = upper(substring(raw, 1, 1))
      when(c.isin("J", "Y"), lit(true))
        .when(c.isin("N"), lit(false))
        .otherwise(lit(null).cast(BooleanType))
    // try_cast/try_to_timestamp: null on failure regardless of the
    // session's ANSI setting (ANSI is on by default in Spark 4).
    case Bytes   => raw.cast(BinaryType)
    case Int32   => raw.try_cast(IntegerType)
    case Int64   => raw.try_cast(LongType)
    case Float32 => raw.try_cast(FloatType)
    // try_cast-identical semantics, allocation-free on the common plain-
    // decimal form (doubles were ~20% of the weblog parse leg under the
    // cast's String + parseDouble per value).
    case Float64 => graft.functions.FastDouble.fast_try_double(raw)
    case Text    => raw // verbatim, padding preserved (ColumnBuilderTypes.go:157-159)
    case Date    => to_date(tryTimestampNtz(raw))
    case TimestampMillis | TimestampMicros => tryTimestampNtz(raw)
  }

  /** Go `strconv.ParseInt` base-10 surface: optional sign + digits only.
    * Spark's cast would trim whitespace; Go does not — a space-padded
    * `"  42"` is a parse failure → 0 in the reference (§2.2). */
  private val GoIntRe = "^[+-]?[0-9]+$"

  /** Go `strconv.ParseFloat` surface (decimal + exponent forms; we do not
    * model inf/nan/hex-float inputs, absent from fixed-width feeds). */
  private val GoFloatRe = "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$"

  private def compatExpr(raw: Column, f: FixedField): Column = f.fixedType match {
    case Bool =>
      // First byte only; J/j/Y/y → true, everything else (incl. N) → the
      // zero value false (ColumnBuilderTypes.go:35-66).
      upper(substring(raw, 1, 1)).isin("J", "Y")
    case Bytes => raw.cast(BinaryType)
    // strconv semantics on the UNtrimmed substring; failure → 0 (§2.2).
    case Int32   => coalesce(when(raw.rlike(GoIntRe), raw.try_cast(IntegerType)), lit(0))
    case Int64   => coalesce(when(raw.rlike(GoIntRe), raw.try_cast(LongType)), lit(0L))
    case Float32 => coalesce(when(raw.rlike(GoFloatRe), raw.try_cast(FloatType)), lit(0.0f))
    case Float64 => coalesce(when(raw.rlike(GoFloatRe), raw.try_cast(DoubleType)), lit(0.0d))
    case Text    => raw
    case Date | TimestampMillis | TimestampMicros =>
      // F1: all three variants return Unix SECONDS as long
      // (ColumnBuilder.go:279,330,381); parse failure → 0. The raw
      // substring stays UNtrimmed: Go time.Parse rejects padded input,
      // so a space-padded timestamp is a failure → 0, faithfully.
      // parse_ref_seconds is TIMEZONE-FREE (the previous
      // unix_timestamp-over-instant-cast route read the session zone,
      // shifting every value for a caller on a non-UTC session —
      // this parse is public API beyond the UTC-pinned GraftSession).
      coalesce(graft.functions.RefTimestamp.parse_ref_seconds(raw), lit(0L))
  }

  /** Project a `value: String` line column into the typed schema.
    *
    * `dropFooter=true` filters footer-marker lines (a plain filter, not
    * the reference's truncate-chunk-at-footer — acceptable deviation F6
    * when the footer is last, the normal case).
    *
    * `corruptCol=Some(name)` enables strict line-length validation
    * (fine print F5/F8: the reference silently yields stale/garbage
    * fields on short lines — `fixed2avro/Util.go:45-65`): a line whose
    * rune length differs from the schema's row length parses to an
    * all-null row with the raw line preserved in the named column
    * (PERMISSIVE-style corrupt-record handling); well-formed lines get a
    * null there. Without it, short lines parse best-effort (reference
    * behavior, minus the stale-buffer artifacts).
    */
  def parse(
      lines: DataFrame,
      schema: FixedSchema,
      mode: ParseMode = Strict,
      dropFooter: Boolean = true,
      lineCol: String = "value",
      corruptCol: Option[String] = None): DataFrame = {
    val line = col(lineCol)
    // The reference's footer test is `len(line) > 12 && line[:12] ==
    // "************"` (`fixed2avro/ColumnBuilder.go:211`) — strictly
    // GREATER, so a line of exactly 12 asterisks is data, not a footer.
    // Same conjunct here and in both truncate-at-footer parity modes.
    // Conjunct ORDER matters in this hot path: codegen `&&`
    // short-circuits left-to-right, and `length()` on UTF8String is a
    // full per-row codepoint walk (this as the LEFT conjunct cost
    // +0.20-0.24 s/GB on every parse leg). `startsWith` (12-byte memcmp)
    // goes first so the length test only runs on footer-prefixed lines;
    // and because the prefix is 12 one-byte chars, O(1) `octet_length`
    // is equivalent to `length` whenever `startsWith` holds.
    val kept =
      if (dropFooter)
        lines.filter(!isFooter(line))
      else lines
    val wellFormed = length(line) === schema.rowRuneLen
    // All raw slices come from ONE single-pass expression
    // (graft.functions.FixedSlice): every field references the same
    // subtree, which whole-stage codegen's subexpression elimination
    // evaluates once per row — the per-field substring formulation
    // re-scanned the line per column (O(cols x row_len) per row, the
    // dominant cost on wide rows). In Strict mode the slicer also
    // space-trims the numeric/timestamp fields zero-copy (Compat keeps
    // Go strconv's untrimmed-input semantics).
    val trims = schema.fields.map(f => mode == Strict && f.fixedType.strictTrim).toArray
    val sliced = graft.functions.FixedSlice.fixed_slices(line, schema, trims)
    // Corrupt-record guard on the slices ARRAY, not per field: a
    // per-field `when(wellFormed, typed)` puts every field's slice
    // inside its own CASE branch, which codegen subexpression
    // elimination will not hoist — re-walking the line per column. One
    // guarded array keeps the single shared walk; a corrupt line's
    // null array propagates null through every typed field.
    val effSliced = corruptCol match {
      case Some(_) => when(wellFormed, sliced)
      case None    => sliced
    }
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      val raw = element_at(effSliced, i + 1)
      (mode match {
        case Strict => strictExpr(raw, f) // null slice → null field
        case Compat => corruptCol match {
          // Compat zero-fills failures, so a null slice would surface
          // as 0, not null — keep the explicit per-field guard here
          // (corrupt scanning is a strict-mode feature; this path is
          // for completeness).
          case Some(_) => when(wellFormed, compatExpr(raw, f))
          case None    => compatExpr(raw, f)
        }
      }).as(f.name)
    }
    val all = cols ++ corruptCol.map(name =>
      when(!wellFormed, line).otherwise(lit(null).cast(StringType)).as(name))
    kept.select(all: _*)
  }

  /** Observation name for [[toAvro]]'s strict mode: `dropped_lines`
    * (malformed, skipped) and `input_lines` (all lines that reached the
    * validator). A 100 TB export must REPORT what it skipped — the same
    * observability contract as Dedup's "lsh_buckets". */
  val ToAvroObservation = "toavro_malformed"

  /** Fused parse+serialize: fixed-width lines → Confluent-framed (or
    * bare, `schemaId = -1`) Avro record bytes in ONE expression per row
    * ([[graft.functions.FixedAvro]]) — the hot export path, matching the
    * reference's fused toAvro stage. Strict semantics; byte-identical to
    * `parse(...).select(to_avro_confluent(fields))` (FixedAvroSpec), but
    * with none of the composable chain's per-field wrapper traffic.
    *
    * `strict=true` adds the [[parse]] corrupt-record guard to this hot
    * path: a line whose rune length differs from the schema's row
    * length is DROPPED (not best-effort sliced into a garbage record —
    * the reference's silent F5/F8 behavior) and counted in the
    * [[ToAvroObservation]] observation, so an export always reports how
    * many lines it skipped. Opt-in: the validation is one extra
    * codepoint-length walk per line, priced only when asked for.
    *
    * Observation names must be UNIQUE within one query: a caller
    * combining two strict exports under a single action (union of two
    * feeds, say) must give each a distinct `observation` or the plan
    * fails analysis. */
  def toAvro(
      lines: DataFrame,
      schema: FixedSchema,
      schemaId: Int,
      dropFooter: Boolean = true,
      lineCol: String = "value",
      outCol: String = "value",
      strict: Boolean = false,
      observation: String = ToAvroObservation): DataFrame = {
    val line = col(lineCol)
    val kept =
      if (dropFooter)
        lines.filter(!isFooter(line))
      else lines
    val validated =
      if (strict)
        kept.observe(observation,
            sum(when(length(line) =!= schema.rowRuneLen, 1L).otherwise(0L)).as("dropped_lines"),
            count(lit(1)).as("input_lines"))
          .filter(length(line) === schema.rowRuneLen)
      else kept
    validated.select(
      graft.functions.FixedAvro.fixed_to_avro_confluent(line, schema, schemaId).as(outCol))
  }
}
