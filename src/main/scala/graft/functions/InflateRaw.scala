package graft.functions

import java.util.zip.Inflater

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Raw-DEFLATE (zlib with negative wbits, i.e. no zlib header) decompression
  * as a native Catalyst expression.
  *
  * The reference decodes `CarData.z` / `Position.z` payloads with
  * `zlib.decompress(base64.b64decode(s), -zlib.MAX_WBITS)`
  * (/root/reference/monitor_car_telemetry.py:32-48,
  * /root/reference/monitor_car_positions.py:32-48). Spark has `unbase64`
  * built in but no raw-inflate, so this is one of the two genuinely custom
  * codecs in the engine (SURVEY §2.9). Implemented as a `UnaryExpression`
  * with `doGenCode` so it stays inside whole-stage codegen rather than
  * falling out into a UDF call boundary.
  */
case class InflateRaw(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"inflate_raw requires BINARY input, got ${child.dataType.catalogString}")

  // Output can be null for corrupt input even when the child is non-null.
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    InflateRaw.inflate(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.InflateRaw.inflate($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
    code
  }

  override protected def withNewChildInternal(newChild: Expression): InflateRaw =
    copy(child = newChild)

  override def prettyName: String = "inflate_raw"
}

object InflateRaw {

  /** Static decompression helper shared by interpreted eval and codegen.
    * Returns null (→ SQL NULL) on corrupt input: wire lines are untrusted
    * and malformed payloads must skip, not kill the task (reference
    * behavior T13, /root/reference/transformer.py:65-68).
    */
  def inflate(compressed: Array[Byte]): Array[Byte] = {
    val inflater = new Inflater(true) // nowrap=true == -MAX_WBITS
    try {
      inflater.setInput(compressed)
      val out = new java.io.ByteArrayOutputStream(math.max(64, compressed.length * 4))
      val buf = new Array[Byte](8192)
      while (!inflater.finished() && !inflater.needsInput()) {
        val n = inflater.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (n == 0 && inflater.needsDictionary()) return null
      }
      if (!inflater.finished()) null else out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally {
      inflater.end()
    }
  }

  /** Column wrapper: raw-inflate a BINARY column (installs the function
    * catalog in the active session on first use, see [[Registry]]).
    */
  def inflate_raw(c: Column): Column = Registry.call("inflate_raw", c)
}
