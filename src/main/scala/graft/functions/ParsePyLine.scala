package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** P1 as a native Catalyst expression: parse one wire line
  * `['Topic', payload, 'ts']` into `STRUCT<topic, payload, ts: STRING>`
  * (null on malformed input — T13 skip semantics).
  *
  * Versus the Scala-UDF wrapping of [[PyLiteral.parseLine]], this stays
  * inside whole-stage codegen and avoids the UDF's catalyst↔Scala row
  * conversion on the single hottest path in the engine (every ingested
  * line passes through it). The parse itself is shared with the UDF path
  * (PyLiteral), so semantics are identical by construction.
  */
case class ParsePyLine(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ParsePyLine.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parse_pyline requires STRING input, got ${child.dataType.catalogString}")

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ParsePyLine.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.ParsePyLine.parse($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ParsePyLine =
    copy(child = newChild)

  override def prettyName: String = "parse_pyline"
}

object ParsePyLine {

  val schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("payload", StringType),
    StructField("ts", StringType)))

  /** Static helper shared by interpreted eval and generated code. */
  def parse(line: UTF8String): InternalRow = {
    if (line == null) return null
    val e = PyLiteral.parseLine(line.toString)
    if (e == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        UTF8String.fromString(e.topic),
        UTF8String.fromString(e.payload),
        UTF8String.fromString(e.ts)))
  }

  def parse_pyline(c: Column): Column = Registry.call("parse_pyline", c)
}
