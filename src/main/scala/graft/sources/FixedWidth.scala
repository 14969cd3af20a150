package graft.sources

import graft.parse.{FixedWidthParser, ParseMode, Strict}
import graft.schema.{FixedField, FixedSchema, FixedType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixed-width text source + renderer.
  *
  * Read path: [[lines]] gives distributed line records (chunks aligned
  * at line ends replace the reference's manual chunk-at-CRLF logic,
  * `fixed2avro/ColumnBuilder.go:122-196` / `common/fixed.go:150-164`),
  * then [[FixedWidthParser]] projects typed columns.
  *
  * Render path (not in the reference, needed for round-trip tests and as
  * a sink): pad each column to its rune width and concat. Inverse of the
  * parser for in-range values.
  */
object FixedWidth {

  /** Distributed line records for a text path. A local path reads
    * through the native chunk-aligned [[LineScan]] (the reference's
    * ParalizeChunks/FindLastNL model), which measured faster than
    * `spark.read.text` on the 256 MiB weblog corpus through `Cli.run`
    * (10 alternating pairs, `local[4]`: median pass 0.614 s against
    * 0.691 s, first pass 3.17 s against 3.83 s). Every other filesystem
    * reads with `spark.read.text`. Record semantics are identical
    * (LineScanSpec). */
  def lines(spark: SparkSession, path: String): DataFrame =
    if (LineScan.handles(spark, path)) LineScan.read(spark, path)
    else spark.read.text(path)

  /** Distributed fixed-width file scan → typed DataFrame (operator S1-S4
    * + P1..P10 of SURVEY.md §2 as one declarative projection). */
  def read(
      spark: SparkSession,
      path: String,
      schema: FixedSchema,
      mode: ParseMode = Strict): DataFrame =
    FixedWidthParser.parse(lines(spark, path), schema, mode)

  /** Strict footer parity (fine print F6). The reference does not skip
    * the footer line alone — it ends the WHOLE chunk at the first
    * footer, skipping everything after it in that chunk
    * (`fixed2avro/ColumnBuilder.go:211-214`: `break`, not `continue`).
    * The chunk ≡ Hadoop split under the S2 mapping, so a per-partition
    * `takeWhile` over the text scan's in-order lines reproduces the
    * reference exactly, split-parallel — no global ordering needed, and
    * at 100 TB each task still streams its own split once.
    *
    * The reference's footer test is `len(line) > 12 && line[:12] ==
    * "************"` — a line of EXACTLY 12 asterisks is data, not a
    * footer — replicated verbatim here AND in the default [[read]]
    * FILTER (the filter drops any footer line wherever it sits and
    * keeps parsing, which matches the reference whenever footers are
    * last-in-chunk, the normal feed shape; the filter also pushes into
    * the scan for free, while this parity mode pays a mapPartitions
    * pass). */
  def readTruncateAtFooter(
      spark: SparkSession,
      path: String,
      schema: FixedSchema,
      mode: ParseMode = Strict): DataFrame =
    parseTruncateAtFooter(spark.read.textFile(path), schema, mode)

  /** The truncate-at-footer parse over any lines Dataset — ONE home for
    * the subtle footer predicate (`len > 12` — exactly 12 asterisks is
    * data) shared by the batch reader above and the streaming twin
    * ([[graft.streaming.FixedWidthStream.parseStreamTruncateAtFooter]]);
    * a parity-rule change forking batch from streaming is exactly what
    * their equivalence spec exists to prevent. */
  private[graft] def parseTruncateAtFooter(lines: org.apache.spark.sql.Dataset[String],
      schema: FixedSchema, mode: ParseMode): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val prefix = FixedWidthParser.FooterPrefix
    // Truncation is per FILE, not per packed partition (r17, per
    // ADVICE): the text scan PACKS many small files into one
    // FilePartition (size-descending bin packing), so a partition-wide
    // takeWhile would let one file's footer silently drop every row of
    // a LATER file packed behind it — the reference's chunk never
    // spans files (common/fixed.go:66-84: chunks subdivide ONE input
    // buffer). Rows of one file are contiguous and in order inside a
    // packed partition, so resetting the dropping flag on each file
    // boundary reproduces the reference semantics at any packing. A
    // non-file lines source (the streaming twin's tests hand
    // in-memory frames) yields one constant source tag — per-partition
    // truncation, the pre-r17 behavior, which is exact there because
    // those partitions ARE the chunks. Remaining caveat (r18, per
    // ADVICE): when ONE large file is SPLIT across partitions
    // (maxPartitionBytes), a mid-file footer only drops rows within
    // its own split — rows of the same file in a LATER split survive,
    // where the reference would truncate the rest of the buffer.
    // Exact parity for footer-bearing multi-gigabyte single files
    // requires reading them unsplit (wholetext / isSplitable=false);
    // footer files in practice are small trailer-carrying extracts,
    // so the packing case fixed above is the one that occurs.
    val truncated = lines
      .select(col("value"), input_file_name().as("src"))
      .as[(String, String)]
      .mapPartitions { it =>
        var cur: String = null
        var dropping = false
        it.filter { case (l, f) =>
          if (f != cur) { cur = f; dropping = false }
          if (!dropping && l.length > prefix.length && l.startsWith(prefix))
            dropping = true // the footer line itself is dropped too
          !dropping
        }
      }
      .map(_._1)
    FixedWidthParser.parse(truncated.toDF("value"), schema, mode, dropFooter = false)
  }

  /** Render one field to its fixed rune width. Strings are right-padded
    * with spaces; numerics left-padded (the usual fixed-width feed
    * convention); timestamps use the reference format. A value WIDER than
    * its declared width raises an error at render time — lpad/rpad would
    * otherwise truncate it to a different, silently-valid value. */
  def renderField(c: Column, f: FixedField, zeroPadNumerics: Boolean = false): Column = {
    val t = f.fixedType
    val s0 =
      if (t.temporal)
        // Fixed-layout formatter (inverse of the parser, codegen'd);
        // date/instant inputs widen to NTZ micros first.
        graft.functions.RefTimestamp.format_ref_timestamp(c.cast(TimestampNTZType))
      else if (t == FixedType.Bool) when(c, lit("Y")).otherwise(lit("N"))
      else c.cast(StringType)
    val s = coalesce(s0, lit(""))
    val guarded = when(length(s) <= f.runeLen, s).otherwise(raise_error(concat(
      lit(s"fixedwidth render: value wider than ${f.runeLen} runes in field '${f.name}': '"),
      s, lit("'"))))
    // Strings/bytes right-pad; booleans and timestamps space-pad left;
    // numerics space-pad (the usual feed convention; under compat
    // parsing these become 0, faithfully to Go strconv) or zero-pad
    // (parseable in both modes; non-negative values only).
    if (t == FixedType.Text || t == FixedType.Bytes) rpad(guarded, f.runeLen, " ")
    else lpad(guarded, f.runeLen, if (zeroPadNumerics && t.numeric) "0" else " ")
  }

  /** The whole-row render expression: one single-pass buffer write per
    * row ([[graft.functions.FixedRender]]) instead of ~2-3 intermediate
    * strings per field; the declarative concat-of-padded-fields form
    * stays below as the spec's cross-check. */
  def renderValue(schema: FixedSchema, zeroPadNumerics: Boolean = false): Column =
    graft.functions.FixedRender.render_line(schema, zeroPadNumerics)

  /** The declarative formulation (concat of per-field pads), kept as
    * the equality cross-check for the single-pass renderer. */
  private[graft] def renderValueDeclarative(schema: FixedSchema,
      zeroPadNumerics: Boolean = false): Column =
    concat(schema.fields.map(f => renderField(col(f.name), f, zeroPadNumerics)): _*)

  /** Typed DataFrame → single `value: String` column of fixed-width lines
    * (no line terminator; the text sink adds '\n'). */
  def render(df: DataFrame, schema: FixedSchema, zeroPadNumerics: Boolean = false): DataFrame =
    df.select(renderValue(schema, zeroPadNumerics).as("value"))

  /** Write a DataFrame as fixed-width text, one file per partition
    * (mirrors the reference's file-per-chunk output shape). */
  def write(df: DataFrame, schema: FixedSchema, path: String): Unit =
    render(df, schema).write.mode("overwrite").text(path)
}
