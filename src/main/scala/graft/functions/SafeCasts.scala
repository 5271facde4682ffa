package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Null-tolerant scalar conversions — the engine's equivalent of the
  * reference's `_safe_int/_safe_float/_safe_bool/_safe_timestamp/
  * _safe_text` suite (normalize_pipedrive.py:63-112) and of Postgres
  * `::TYPE` casts of JSON text (normalize_evo_members_v2.py:131-185).
  *
  * Semantics (documented + spec-tested, SURVEY.md §7.3 hard-point 2):
  *   - garbage / empty input → NULL, never an exception, under either
  *     setting of spark.sql.ansi.enabled (every final conversion is a
  *     `try_` form);
  *   - API-drift dict payloads like {"value": 42} are unwrapped before
  *     casting (get_json_object fallback chain);
  *   - booleans accept true/1/yes/on (+ t/f like Postgres ::BOOLEAN);
  *   - safeText serializes nested structures to JSON text instead of
  *     failing.
  *
  * All combinators are Column→Column and codegen'd, no UDFs. The shared
  * cleaning step (unwrap, trim, `''` → NULL) is one native expression,
  * `graft.expressions.SafeScalar`: composed from built-ins it was ~20
  * plan nodes per call, and a gold table makes hundreds of calls; the
  * casts after it are built-in `try_` forms.
  */
object SafeCasts {

  /** Unwrap {"value": x} / {"id": x} drift payloads, trim spaces, and
    * turn empty text into NULL (see [[graft.expressions.SafeScalar]]). */
  private def cleaned(c: Column): Column =
    GraftColumnBridge.column(graft.expressions.SafeScalar(
      GraftColumnBridge.expression(c.cast("string"))))

  /** Text → BIGINT; accepts "42", "42.0" via truncation? No — reference
    * _safe_int(int(float)) accepts floats, so parse as decimal then
    * truncate toward zero. */
  def safeLong(c: Column): Column =
    cleaned(c).try_cast("decimal(28,8)").try_cast("long")

  def safeInt(c: Column): Column =
    cleaned(c).try_cast("decimal(28,8)").try_cast("int")

  def safeDecimal(c: Column, precision: Int = 15, scale: Int = 2): Column =
    cleaned(c).try_cast(s"decimal($precision,$scale)")

  def safeDouble(c: Column): Column = cleaned(c).try_cast("double")

  /** true/1/yes/on/t → true; false/0/no/off/f → false; else NULL. */
  def safeBool(c: Column): Column = {
    val s = lower(cleaned(c))
    when(s.isin("true", "1", "yes", "on", "t"), lit(true))
      .when(s.isin("false", "0", "no", "off", "f"), lit(false))
      .otherwise(lit(null).cast("boolean"))
  }

  /** ISO timestamp text → TIMESTAMP (UTC session); invalid → NULL. */
  def safeTimestamp(c: Column): Column =
    try_to_timestamp(cleaned(c))

  def safeDate(c: Column): Column =
    try_to_date(cleaned(c))

  /** Scalar text (empty → NULL). For struct/array/map columns use
    * `structText` — Spark schemas are static per column, so the
    * reference's per-value type dispatch (_safe_text) becomes a
    * compile-time choice by the transformer that knows the schema. */
  def safeText(c: Column): Column = cleaned(c)

  /** Nested value → compact JSON text instead of failing. */
  def structText(c: Column): Column = to_json(c)

  /** COALESCE default with the same shape the gold SQL uses. */
  def boolOrFalse(c: Column): Column = coalesce(safeBool(c), lit(false))
}
