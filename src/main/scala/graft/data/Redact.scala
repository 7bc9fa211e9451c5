package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII redaction for training-data curation: regex scrubbing of emails,
  * SSNs, payment-card numbers, phone numbers, and IPv4 addresses, plus
  * per-document audit counts. Pure Column expressions (codegen'd
  * regexp_replace / regexp_count chains, zero shuffle) — the per-row
  * projection shape that scales linearly to any corpus size.
  *
  * Patterns deliberately stay inside the regex subset shared by Java
  * (Spark) and RE2 (DuckDB, the cross-engine oracle): no lookaround, no
  * backreferences — so every rule is replayable verbatim in the oracle.
  * Replacement order is fixed (email → ssn → card → phone → ip) and the
  * placeholder tokens contain no digits or '@', making the chain
  * idempotent: redacting already-redacted text is a no-op.
  */
object Redact {

  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ssnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val cardRe = "\\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\\b"
  val phoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  val ipRe = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** (pattern, placeholder) in application order. */
  val rules: Seq[(String, String)] = Seq(
    (emailRe, "[EMAIL]"), (ssnRe, "[SSN]"), (cardRe, "[CARD]"),
    (phoneRe, "[PHONE]"), (ipRe, "[IP]"))

  /** Text with all five PII classes replaced by their placeholders, in
    * rule order (a card never half-matches as two phones because CARD
    * runs first; an IP inside an email is gone before the IP rule).
    *
    * Every rule needs an '@' or an ASCII digit, so a valid UTF-8 text
    * holding neither is returned as it is, without the five regex
    * passes. A malformed text still runs the chain, whose Java-string
    * round trip replaces its bad bytes by U+FFFD: the output is the
    * chain's, byte for byte. */
  def redactText(text: Column): Column =
    when(!text.rlike("[0-9@]") && is_valid_utf8(text), text)
      .otherwise(rules.foldLeft(text) { case (acc, (re, tok)) =>
        regexp_replace(acc, re, tok)
      })

  /** Count of matches for one rule BEFORE any replacement. Counts are
    * taken on the raw text for every class independently — audit
    * numbers answer "what PII did this doc contain", not "what did the
    * scrubber see after earlier rules ran". */
  def countOf(text: Column, re: String): Column =
    regexp_count(text, lit(re)).cast("long")

  /** Adds `redacted` plus one `n_<class>` audit column per rule.
    * Original text column is preserved by default; set keepText = false
    * for the production shape (the raw PII never leaves the stage). */
  def redact(docs: DataFrame, textCol: String = "text",
             keepText: Boolean = true): DataFrame = {
    val withCols = docs
      .withColumn("redacted", redactText(col(textCol)))
      .withColumn("n_email", countOf(col(textCol), emailRe))
      .withColumn("n_ssn", countOf(col(textCol), ssnRe))
      .withColumn("n_card", countOf(col(textCol), cardRe))
      .withColumn("n_phone", countOf(col(textCol), phoneRe))
      .withColumn("n_ip", countOf(col(textCol), ipRe))
    if (keepText) withCols else withCols.drop(textCol)
  }
}
