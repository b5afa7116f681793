package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Session-extension injector: `spark.sql.extensions=graft.functions.GraftExtensions`
  * (or [[GraftFunctions.register]] at runtime) makes `crc32c` / `xxh3_64`
  * available to SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach(ext.injectFunction)
}

object GraftFunctions {

  /** `crc32c(binary) -> long`: the iSCSI/Castagnoli CRC the reference
    * emits in export BlockEnd checksums (reference digest #2,
    * src/digest.rs:99-102, src/app/model.rs:37-41). Spark ships only
    * `crc32`.
    */
  def crc32c(c: Column): Column = overBinary(kernel(graft.core.Digests, LongType, "crc32c", Seq(c)))

  /** `xxh3_64(binary) -> long`: the from-spec [[graft.core.Xxh3]] the
    * reference emits in export BlockEnd and names extract conflicts with
    * (reference digest #3, src/digest.rs:195). Spark's `xxhash64` is
    * XXH64, a different function.
    */
  def xxh3(c: Column): Column = overBinary(kernel(graft.core.Xxh3, LongType, "hash", Seq(c)))

  /** A one-argument kernel that takes binary the way Spark's own `crc32`
    * does: a string argument is cast to binary, any other type fails
    * analysis.
    */
  private def overBinary(k: Column): Column = ColumnBridge.column(
    ColumnBridge.expression(k).asInstanceOf[StaticInvoke].copy(inputTypes = Seq(BinaryType)))

  /** The SQL names, built from the Column functions above. */
  private[functions] val sqlFunctions
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq[(String, Column => Column)]("crc32c" -> crc32c, "xxh3_64" -> xxh3).map {
      case (name, f) => (FunctionIdentifier(name),
        new ExpressionInfo(classOf[StaticInvoke].getName, name),
        (args: Seq[Expression]) => ColumnBridge.expression(f(ColumnBridge.column(args.head))))
    }

  /** Runtime registration for sessions built without the extension. */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  /** A per-row kernel as a Column: `owner.method(args)` becomes one
    * static call in the generated code (Catalyst's `StaticInvoke`), over
    * Catalyst's internal values — `UTF8String`, `ArrayData`,
    * `InternalRow`, `Array[Byte]` and unboxed primitives — so no encoder
    * or row converter runs and the operator stays in whole-stage codegen.
    * `owner` is a Scala object; a kernel whose result type is primitive
    * returns the boxed type, and null means null. A null argument gives
    * null without a call, as a ScalaUDF does for a null primitive
    * argument. The result is nullable whatever the arguments are.
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
