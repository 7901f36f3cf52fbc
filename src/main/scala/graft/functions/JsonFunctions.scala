package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Removes a fixed set of top-level keys from a JSON object, preserving the
  * types and order of the remaining fields exactly.
  *
  * This is the "pop promoted fields + ignore-list from the payload" operator
  * (reference: venus/db/write.py:41-52,65-67). It cannot be composed from
  * built-ins without losing value types (a MAP<STRING,STRING> round-trip
  * stringifies numbers/booleans, breaking the reference's contract that the
  * retained payload keeps e.g. `random_timing_data` as a double —
  * reference: tests/test_sender.py:133-136), hence a custom Expression.
  * Kernel in [[ExprKernels.jsonDropKeys]]; codegen-capable (it sits in the
  * per-record ingest hot path).
  *
  * Returns NULL for malformed input or non-object documents (those rows are
  * dead-lettered upstream anyway).
  */
case class JsonDropKeys(child: Expression, keys: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_drop_keys"

  private lazy val keysArray: Array[String] = keys.toArray

  override def nullSafeEval(input: Any): Any =
    ExprKernels.jsonDropKeys(input.asInstanceOf[UTF8String], keysArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the key list is a reference object: embedded once per generated class,
    // not re-built per row
    val keysRef = ctx.addReferenceObj("dropKeys", keysArray, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ExprKernels.jsonDropKeys($c, $keysRef);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One read of a JSON wire line into the ingest outputs: a
  * `struct<created DOUBLE, message STRING, correlation_id STRING,
  * data_raw STRING, reason STRING>`.
  *
  * The reference reads each record with one `json.loads` and pops keys
  * from the dict (reference: venus/db/write.py:34-52); this is that read
  * for a whole micro-batch, so `logs` (or `metric`) and `dead_letter` are
  * projections of one parse instead of six (three `get_json_object`s, a
  * `json_drop_keys`, a `from_json` and one more `get_json_object`).
  *
  *  - `reason` is `malformed_json` when the line is not UTF-8, Jackson
  *    rejects it (its depth and number-length limits included) or its top
  *    level is not an object (content after the closing brace is not
  *    read), else `missing_created` when `created` has no double whose
  *    `× 10⁶` (its microseconds) fits a Long, else null. A row goes to
  *    the table exactly when `reason` is null.
  *  - `created`, `message`, `correlation_id`: the first non-null value of
  *    the top-level key, as `get_json_object` finds it; `created` then cast
  *    as `try_cast(_ AS DOUBLE)` does. `message` and `correlation_id` are
  *    read only when `promote`.
  *  - `data_raw`: the object without the `drop` keys, byte-identical to
  *    [[JsonDropKeys]]; written only when `withData`, and then every key
  *    the kernel reads must be dropped.
  *
  * Kernel in [[ExprKernels.parseWire]]; codegen-capable, like
  * [[JsonDropKeys]], so the ingest projection stays inside
  * WholeStageCodegen. A null line is `malformed_json`, never an error.
  */
case class ParseWire(child: Expression, drop: Seq[String], promote: Boolean, withData: Boolean)
    extends UnaryExpression {

  require(!withData ||
    (drop.contains("created") && (!promote || Seq("message", "correlation_id").forall(drop.contains))),
    "parse_wire: with data_raw, every key the kernel reads must be dropped")

  override def dataType: DataType = ParseWire.Schema
  override def nullable: Boolean = false

  // The kernel is a pure function of its input. It is declared
  // nondeterministic only so the optimizer keeps a filter on `reason` ABOVE
  // this projection: pushed below it, the alias is substituted and each line
  // is parsed twice (once in the Filter, once in the Project — Spark shares
  // no subexpression across operators).
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "parse_wire"

  private lazy val dropArray: Array[String] = drop.toArray

  override def eval(input: InternalRow): Any =
    ExprKernels.parseWire(
      child.eval(input).asInstanceOf[UTF8String], dropArray, promote, withData)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val dropRef = ctx.addReferenceObj("wireDrop", dropArray, "java.lang.String[]")
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
        graft.functions.ExprKernels.parseWire(
          ${c.isNull} ? null : ${c.value}, $dropRef, $promote, $withData);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ParseWire {
  val Schema: StructType = StructType(Seq(
    StructField("created", DoubleType),
    StructField("message", StringType),
    StructField("correlation_id", StringType),
    StructField("data_raw", StringType),
    StructField("reason", StringType)))
}

object JsonFunctions {
  import org.apache.spark.sql.GraftBridge

  /** `json_drop_keys(col, keys)` as a Column. */
  def json_drop_keys(json: Column, keys: Seq[String]): Column =
    GraftBridge.column(JsonDropKeys(GraftBridge.expression(json), keys))

  /** `parse_wire(col, drop, promote, withData)` as a Column ([[ParseWire]]). */
  def parse_wire(json: Column, drop: Seq[String], promote: Boolean, withData: Boolean): Column =
    GraftBridge.column(ParseWire(GraftBridge.expression(json), drop, promote, withData))
}
