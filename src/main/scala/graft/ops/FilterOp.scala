package graft.ops

import graft.core.FieldOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import java.util.Locale

/** FieldFilter → Catalyst Column compiler (reference src/app/filter.rs).
  *
  * Rule forms (filter.rs:23-57, split on the FIRST ':'):
  *   - `NAME`          — field with that name exists (case-insensitive)
  *   - `NAME:VALUE`    — some field NAME has exactly VALUE
  *   - `NAME:REGEX`    — some field NAME's value contains a REGEX match
  *
  * Evaluation order (filter.rs:59-101; exclude-beats-include proven by
  * filter.rs:125-128): any exclude match → DROP; otherwise keep iff the
  * include list is empty or any include matches.
  *
  * The whole filter compiles to ONE boolean Column over the fields array
  * (higher-order `exists` + `rlike`) — it participates in predicate
  * pushdown ordering and whole-stage codegen; no UDF.
  */
object FilterOp {

  sealed trait Rule {
    def matches(fields: Column): Column
  }
  /** Bare name: existence. A `NAME:` with empty value matches the empty
    * value exactly (reference: bare-name vs empty-value distinction,
    * filter.rs tests 109-167).
    */
  final case class NameRule(name: String) extends Rule {
    def matches(fields: Column): Column = FieldOps.fieldContains(fields, name)
  }
  final case class ValueRule(name: String, value: String) extends Rule {
    def matches(fields: Column): Column =
      exists(fields, f =>
        lower(f.getField("name")) === lit(name.toLowerCase(Locale.ROOT)) &&
          f.getField("value") === lit(value))
  }
  final case class RegexRule(name: String, regex: String) extends Rule {
    def matches(fields: Column): Column =
      exists(fields, f =>
        lower(f.getField("name")) === lit(name.toLowerCase(Locale.ROOT)) &&
          f.getField("value").rlike(regex))
  }

  /** Parse a CLI-style rule string (split on first ':'). */
  def parseRule(s: String, regex: Boolean = false): Rule = s.indexOf(':') match {
    case -1 => NameRule(s)
    case i  =>
      val (n, v) = (s.substring(0, i), s.substring(i + 1))
      if (regex) RegexRule(n, v) else ValueRule(n, v)
  }

  /** Compile include/exclude rule lists into one predicate Column. */
  def compile(includes: Seq[Rule], excludes: Seq[Rule], fields: Column = col("fields")): Column = {
    val excluded = excludes.map(_.matches(fields)).reduceOption(_ || _).getOrElse(lit(false))
    val included = includes.map(_.matches(fields)).reduceOption(_ || _).getOrElse(lit(true))
    !excluded && included
  }
}
