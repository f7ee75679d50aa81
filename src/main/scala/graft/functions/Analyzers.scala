package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Search-analyzer semantics for match queries.
  *
  * The reference's path indexes attach a custom analyzer
  * ("foo-analyser" = keyword_v2 tokenizer + lowercase filter —
  * reference: SearchIndexerTest/Program.cs:61-62,
  * PathIndexModel.cs:16): the whole field is ONE lowercased token, so
  * `search.ismatch('partition*')` means a lowercase wildcard match
  * against the entire path string. Text fields use a standard-style
  * analyzer: split on non-alphanumerics, lowercase.
  */
object Analyzers {

  /** keyword_v2 + lowercase: the whole value as a single token. */
  def keywordLower(field: Column): Column = lower(field)

  /** standard-ish analysis: lowercase, split on non-alphanumerics,
    * drop empty tokens.
    */
  def standardTokens(field: Column): Column =
    filter(split(lower(field), "[^a-z0-9]+"), t => t =!= "")

  /** Wildcard ismatch under the keyword analyzer: '*' in the pattern
    * matches any run of characters; comparison is lowercase. A pure
    * prefix pattern compiles to startswith (scan-friendly); general
    * patterns compile to an anchored regex.
    */
  def isMatchKeyword(field: Column, pattern: String): Column = {
    val lowered = pattern.toLowerCase
    if (lowered.endsWith("*") && !lowered.dropRight(1).contains("*"))
      keywordLower(field).startsWith(lowered.dropRight(1))
    else {
      val regex = "^" + lowered.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*") + "$"
      keywordLower(field).rlike(regex)
    }
  }
}
