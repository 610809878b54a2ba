package graft.pipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Content normalization + row invariant.
 *
 * Mirrors the reference's string standardization — lowercase/strip
 * (/root/reference/veer.py:149-153, /root/reference/data/cora.py:226-240)
 * — as pure Column expressions (codegen'd, no UDFs), plus the
 * `sha2(content, 256)` per-row invariant required by the north rule.
 */
object Normalize {

  /** The whitespace runs [[normContent]] collapses to one space. */
  final val Whitespace = "\\s+"

  /** lower + collapse whitespace + trim, as a reusable Column recipe. */
  def normContent(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(lower(c), Whitespace, " "))

  /**
   * Adds `content_norm` and `sha` (sha256 of the RAW content — the
   * row-level invariant vs the reference per BASELINE.json input_hint).
   */
  def apply(records: DataFrame): DataFrame =
    records
      .withColumn("content_norm", normContent(col("content")))
      .withColumn("sha", sha2(col("content"), 256))
}
