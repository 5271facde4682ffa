package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** `file_line_no(input_file_name())`: the 1-based position of the
  * current row within its input file. A counter per task that restarts
  * whenever the child's value (the file path) changes.
  *
  * Correct only when every file is read whole, in order, by one task,
  * and nothing between the scan and this expression drops a row — the
  * contract [[graft.sources.Bronze.read]] sets up with a non-splittable
  * text format and no filter but partition pruning. Stateful, so every
  * projection gets its own copy (the same treatment Spark gives
  * `monotonically_increasing_id`).
  *
  * Nullable although it never returns null: bronze's `source_line_no`
  * column has always been a nullable INT, and silver/gold schemas
  * derived from it must not change.
  */
case class FileLineNo(child: Expression)
    extends UnaryExpression with Nondeterministic {

  @transient private[this] var lastFile: UTF8String = _
  @transient private[this] var lineNo: Int = _

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def stateful: Boolean = true
  override def prettyName: String = "file_line_no"

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    lastFile = null
    lineNo = 0
  }

  override protected def evalInternal(input: InternalRow): Any = {
    val file = child.eval(input).asInstanceOf[UTF8String]
    if (!file.equals(lastFile)) {
      lastFile = file.clone()
      lineNo = 0
    }
    lineNo += 1
    lineNo
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val file = child.genCode(ctx)
    val last = ctx.addMutableState("UTF8String", "lastFile")
    val n = ctx.addMutableState(CodeGenerator.JAVA_INT, "lineNo")
    ctx.addPartitionInitializationStatement(s"$last = null; $n = 0;")
    ev.copy(code = code"""
      ${file.code}
      if (!${file.value}.equals($last)) {
        $last = ${file.value}.clone();
        $n = 0;
      }
      $n++;
      final boolean ${ev.isNull} = false;
      final ${CodeGenerator.JAVA_INT} ${ev.value} = $n;""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): FileLineNo = copy(child = newChild)
}
