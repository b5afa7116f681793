package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}

/** Native Catalyst `crc32c(binary) -> long` (reference digest #2,
  * /root/reference/src/digest.rs:99-102 — the iSCSI/Castagnoli CRC the
  * reference emits in export BlockEnd checksums, src/app/model.rs:37-41).
  *
  * Spark ships only `crc32`; a Scala UDF would break whole-stage codegen
  * on the export hot path, so this is a real `Expression` with
  * `doGenCode` — the generated code calls `java.util.zip.CRC32C`
  * (JDK-intrinsified SSE4.2/ARMv8 CRC instructions) directly inside the
  * fused loop, matching built-in `crc32`'s shape.
  */
case class Crc32c(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"crc32c requires binary input, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "crc32c"

  protected override def nullSafeEval(input: Any): Any = {
    val crc = new java.util.zip.CRC32C()
    crc.update(input.asInstanceOf[Array[Byte]])
    crc.getValue
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, value => {
      val crc = ctx.freshName("crc32c")
      s"""
         |java.util.zip.CRC32C $crc = new java.util.zip.CRC32C();
         |$crc.update($value, 0, $value.length);
         |${ev.value} = $crc.getValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Crc32c =
    copy(child = newChild)
}

/** Native Catalyst `xxh3_64(binary) -> long` (reference digest #3,
  * /root/reference/src/digest.rs:195 — the XXH3 checksum the reference
  * emits in export BlockEnd, src/app/model.rs:37-41).
  *
  * Spark's built-in `xxhash64` is XXH64, a different function; this
  * generates a static call to the from-spec [[graft.core.Xxh3]]
  * (vector-pinned in Xxh3Spec) inside the fused loop, keeping the
  * export hot path in whole-stage codegen.
  */
case class Xxh3_64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"xxh3_64 requires binary input, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "xxh3_64"

  protected override def nullSafeEval(input: Any): Any =
    graft.core.Xxh3.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, value =>
      s"${ev.value} = graft.core.Xxh3.hash($value, 0, $value.length);")

  override protected def withNewChildInternal(newChild: Expression): Xxh3_64 =
    copy(child = newChild)
}

/** Native Catalyst `canonical_url(string) -> string` — the frontier
  * round's hottest scalar ([[graft.frontier.Canonical]] contract). As an
  * `Expression` with `doGenCode` it stays inside whole-stage codegen
  * (the udf form split the round's main pipeline into two codegen
  * stages), and the already-canonical fast path returns the input
  * `UTF8String` object unchanged — zero copies for the common case.
  */
case class CanonicalUrlExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"canonical_url requires string input, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "canonical_url"

  protected override def nullSafeEval(input: Any): Any =
    graft.frontier.Canonical.canonicalizeUtf8(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, value =>
      s"${ev.value} = graft.frontier.Canonical.canonicalizeUtf8($value);")

  override protected def withNewChildInternal(newChild: Expression): CanonicalUrlExpr =
    copy(child = newChild)
}

/** Session-extension injector: `spark.sql.extensions=graft.functions.GraftExtensions`
  * (or [[GraftFunctions.register]] at runtime) makes `crc32c` / `xxh3_64`
  * available to SQL and `call_function`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.crc32cDescriptor)
    ext.injectFunction(GraftFunctions.xxh3Descriptor)
  }
}

object GraftFunctions {

  private[functions] val crc32cDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("crc32c"),
    new ExpressionInfo(classOf[Crc32c].getName, "crc32c"),
    (exprs: Seq[Expression]) => Crc32c(exprs.head)
  )

  private[functions] val xxh3Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("xxh3_64"),
    new ExpressionInfo(classOf[Xxh3_64].getName, "xxh3_64"),
    (exprs: Seq[Expression]) => Xxh3_64(exprs.head)
  )

  /** Runtime registration for sessions built without the extension. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "crc32c", exprs => Crc32c(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "xxh3_64", exprs => Xxh3_64(exprs.head), "built-in")
  }

  /** Column API (requires [[register]] or [[GraftExtensions]] first). */
  def crc32c(c: Column): Column = call_function("crc32c", c)

  /** Registration-free Column for [[Xxh3_64]], built from the Expression
    * directly (the SQL name `xxh3_64` still needs [[register]]).
    */
  def xxh3(c: Column): Column =
    ColumnBridge.column(Xxh3_64(ColumnBridge.expression(c)))

  /** Registration-free Column wrapper for [[CanonicalUrlExpr]] — the
    * frontier round must not depend on per-session function registry
    * state, so the Column is built from the Expression directly.
    */
  def canonicalUrlColumn(c: Column): Column =
    ColumnBridge.column(CanonicalUrlExpr(ColumnBridge.expression(c)))

  /** A per-row kernel as a Column: `owner.method(args)` becomes one
    * static call in the generated code (Catalyst's `StaticInvoke`), over
    * Catalyst's internal values — `UTF8String`, `ArrayData`,
    * `InternalRow`, `Array[Byte]` and unboxed primitives — so no encoder
    * or row converter runs and the operator stays in whole-stage codegen.
    * `owner` is a Scala object; a kernel whose result type is primitive
    * returns the boxed type, and null means null. A null argument gives
    * null without a call, as a ScalaUDF does for a null primitive
    * argument.
    *
    * `pinned` marks the call nondeterministic. The kernel is pure, but
    * the optimizer then neither inlines it into each consumer of its
    * alias nor derives a filter from it, so it runs once per row.
    */
  def kernel(owner: AnyRef, dataType: DataType, method: String, args: Seq[Column],
             pinned: Boolean = false): Column =
    ColumnBridge.column(StaticInvoke(owner.getClass, dataType, method,
      args.map(ColumnBridge.expression), isDeterministic = !pinned))
}
