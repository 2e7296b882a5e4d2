package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text column functions: whitespace tokenization. Pure Catalyst
  * column trees (split/size) — codegen-friendly, no UDFs.
  */
object TextFunctions {

  /** Whitespace word split of normalized text. */
  def words(text: Column): Column =
    split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(words(text))
}
