package graft.fmt

import graft.core.Json
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Sink-side validation + resource descriptor — the analog of the
  * reference's `validate_vpts` (frictionless schema check,
  * /root/reference/src/vptstools/vpts.py:297-343): asserts the rendered
  * frame conforms to the versioned VPTS-CSV contract and emits a
  * table-schema descriptor JSON alongside the sink.
  *
  * Distributed shape: all row-level rules fold into ONE aggregate pass
  * (conditional counts) — no collect of offending rows, no per-rule
  * scan; at 100 TB validation costs one scan of the rendered columns.
  */
object VptsValidate {

  final case class ValidationReport(valid: Boolean, rowCount: Long,
                                    errors: Seq[String]) {
    def toJson: String = {
      val o = Json.obj().put("valid", valid).put("row_count", rowCount)
      val errs = o.putArray("errors")
      errors.foreach(e => errs.add(e))
      Json.write(o)
    }
  }

  /** Validate a rendered golden-style frame against the v1 contract:
    * exact column order, all-string cells, ISO-8601 datetime, strict
    * TRUE/FALSE booleans, source_file regex gate, value/n sentinel
    * coherence (missing states use ""/NaN only, together).
    */
  def validate(df: DataFrame,
               expectedColumns: Seq[String] = VptsGolden.columns,
               v: VptsCsvVersion = VptsCsvV1): ValidationReport = {
    val schemaErrs = Seq.newBuilder[String]
    if (df.columns.toSeq != expectedColumns)
      schemaErrs += s"column order mismatch: got ${df.columns.mkString(",")}" +
        s", want ${expectedColumns.mkString(",")}"
    val nonString = df.schema.fields.filterNot(_.dataType == StringType)
    if (nonString.nonEmpty)
      schemaErrs += s"non-string cells: ${nonString.map(_.name).mkString(",")}"
    val se = schemaErrs.result()
    if (se.nonEmpty) {
      // row rules reference columns by name — without the schema there
      // is nothing further to check (reference: schema errors first)
      return ValidationReport(valid = false, rowCount = -1L, errors = se)
    }

    val isoRe = "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}Z$"
    // null-safe: a NULL cell must COUNT AS a violation, not vanish
    // (a raw `when(pred)` over a null cell yields NULL → otherwise(0) —
    // the exact silent pass this gate exists to prevent)
    def bad(c: org.apache.spark.sql.Column) =
      sum(when(coalesce(c, lit(true)), 1L).otherwise(0L))
    val sentinels = Seq(v.nodata, v.undetect)
    val r = df.agg(
      count(lit(1)).as("rows"),
      bad(!col("datetime").rlike(isoRe)).as("bad_datetime"),
      bad(!col("gap").isin("TRUE", "FALSE")).as("bad_gap"),
      bad(!col("filled").isin("TRUE", "FALSE")).as("bad_filled"),
      bad(!col("source_file").rlike(v.sourceFileRegex)).as("bad_source"),
      // the two missing sentinels apply to value and n TOGETHER and
      // CONSISTENTLY: a row is OK (neither is a sentinel), or both
      // carry the SAME sentinel — mixed states (value nodata, n
      // undetect) are two contradictory missing claims on one row
      bad((col("value").isin(sentinels: _*) ||
           col("n").isin(sentinels: _*)) &&
          !(col("value") <=> col("n"))).as("bad_sentinel"),
      bad(df.columns.map(c => col(c).isNull).reduce(_ || _))
        .as("bad_null"))
      .head()
    val rows = r.getLong(0)
    val errs = Seq(
      ("datetime not ISO-8601", r.getLong(1)),
      ("gap not TRUE/FALSE", r.getLong(2)),
      ("filled not TRUE/FALSE", r.getLong(3)),
      ("source_file fails provenance regex", r.getLong(4)),
      ("value/n missing-sentinel mismatch", r.getLong(5)),
      ("null cells", r.getLong(6)))
      .collect { case (m, n) if n > 0 => s"$m ($n rows)" }
    ValidationReport(errs.isEmpty, rows, errs)
  }

  /** Frictionless-style resource descriptor for a rendered sink
    * (vpts.py:320-343): field list + row count + the ruleset version.
    */
  def descriptorJson(df: DataFrame, name: String, rowCount: Long,
                     v: VptsCsvVersion = VptsCsvV1): String = {
    val o = Json.obj().put("name", name)
      .put("profile", "tabular-data-resource")
      .put("vpts_csv_version", v.version).put("row_count", rowCount)
    val fields = o.putObject("schema").putArray("fields")
    df.schema.fields.foreach(f =>
      fields.addObject().put("name", f.name).put("type", "string"))
    Json.write(o)
  }

  /** Validate and, when valid, write `descriptor.json` next to `path`
    * — the sink-side gate: an invalid frame never gets a descriptor.
    */
  def validateAndDescribe(df: DataFrame, path: String, name: String,
                          v: VptsCsvVersion = VptsCsvV1): ValidationReport = {
    val report = validate(df, VptsGolden.columns, v)
    if (report.valid) {
      val p = java.nio.file.Paths.get(path, "descriptor.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p,
        descriptorJson(df, name, report.rowCount, v))
    }
    report
  }
}
