package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.GetJsonObjectEvaluator
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The evaluation of [[SafeScalar]], shared by both paths: one
  * `get_json_object` evaluator per path. An evaluator holds its input
  * between calls, so an instance belongs to one generated class (one
  * task) or to one interpreted expression, never to two threads. */
final class SafeScalarEval {
  private val value = GetJsonObjectEvaluator(UTF8String.fromString("$.value"))
  private val id = GetJsonObjectEvaluator(UTF8String.fromString("$.id"))

  private def lookup(e: GetJsonObjectEvaluator, s: UTF8String): UTF8String = {
    e.setJson(s)
    e.evaluate().asInstanceOf[UTF8String]
  }

  /** `trim(coalesce(s->'$.value', s->'$.id', s))`, `''` → NULL. A text
    * without a `{` byte holds no JSON object (no UTF-8 continuation
    * byte is 0x7B), so both lookups are skipped for it. */
  def clean(s: UTF8String): UTF8String = {
    var v: UTF8String = null
    if (s.contains(SafeScalarEval.Brace)) {
      v = lookup(value, s)
      if (v == null) v = lookup(id, s)
    }
    val t = (if (v == null) s else v).trim()
    if (t.numBytes == 0) null else t
  }
}

object SafeScalarEval {
  private val Brace = UTF8String.fromString("{")
}

/** One expression for the cleaning step of every `SafeCasts` call
  * (SURVEY.md §7.3 hard-point 2): unwrap a `{"value": x}` / `{"id": x}`
  * drift payload, trim spaces, and map `''` to NULL — the same result
  * as the composed `trim(coalesce(get_json_object(s,'$.value'),
  * get_json_object(s,'$.id'), s))` under `when(_ === '')`.
  *
  * The composed form is ~20 Catalyst nodes per call, the `when` holding
  * its subtree twice, and a gold table casts hundreds of fields; the
  * analyzer, optimizer, code generator and task serializer walk every
  * node on every load. As one node the plans are 4–5× smaller, and the
  * `{` scan skips both JSON parses for the plain scalars that make up
  * nearly every value. Generated code calls one [[SafeScalarEval]] held
  * once per generated class.
  */
case class SafeScalar(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "safe_scalar"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"safe_scalar requires STRING input, got ${child.dataType.sql}")

  @transient private lazy val eval = new SafeScalarEval

  override protected def nullSafeEval(input: Any): Any =
    eval.clean(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cls = classOf[SafeScalarEval].getName
    ctx.addImmutableStateIfNotExists(cls, "safeScalarEval",
      v => s"$v = new $cls();")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = safeScalarEval.clean($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SafeScalar = copy(child = newChild)
}
