package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftBridge.{expression => exprOf, column => colOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, ObjectType}

/**
 * One graft kernel as a SQL/Column function, in the shape Spark gives its
 * own built-ins (`url_encode`, `aes_encrypt`): the optimizer replaces the
 * function by a `StaticInvoke` of `runtime.method`, so the call is
 * codegen'd inside WholeStageCodegen, shares common-subexpression
 * elimination, and returns NULL when an input is NULL.
 *
 * @param name    SQL name; the function prints and auto-aliases as
 *                `name(inputs)`
 * @param runtime the Scala object holding the kernel (`PxRuntime.getClass`)
 * @param method  the kernel; its parameters are the inputs, then the
 *                constants of [[apply]]
 * @param result  result type. `LongArray` is a kernel returning a JVM
 *                `long[]`, which becomes an ARRAY<BIGINT>. An ARRAY result
 *                with non-null elements gets nullable elements when an
 *                input array has them, unless `fillsNulls`.
 * @param inputs  input types; any other input type fails analysis with
 *                the function's name in the message
 * @param cast    the analyzer may cast inputs to `inputs` first (INT or
 *                DECIMAL coordinates)
 * @param orNull  the kernel may return null
 */
private[graft] case class Kernel(name: String, runtime: Class[_], method: String,
                                 result: DataType, inputs: Seq[DataType],
                                 cast: Boolean = false, orNull: Boolean = false,
                                 fillsNulls: Boolean = false) {
  /** The kernel over `args`; `consts` (Int, Float, Double, float[]) follow
    * them into the call as literals and stay out of the printed form. */
  def apply(args: Seq[Column], consts: Any*): Column = {
    require(args.length == inputs.length,
      s"$name takes ${inputs.length} inputs, got ${args.length}")
    colOf(NativeFunction(this, args.map(exprOf), consts.map {
      case a: Array[Float] => Literal(a, ObjectType(a.getClass))
      case v => Literal(v)
    }))
  }
}

private[graft] object Kernel {
  val LongArray: DataType = ObjectType(classOf[Array[Long]])
}

private case class NativeFunction(kernel: Kernel, children: Seq[Expression],
                                  consts: Seq[Literal])
    extends Expression with RuntimeReplaceable with ImplicitCastInputTypes {
  override def prettyName: String = kernel.name
  override def stringArgs: Iterator[Any] = children.iterator
  // only cast-accepting kernels offer their types to the analyzer's casts
  override def inputTypes = if (kernel.cast) kernel.inputs else Nil
  override def checkInputDataTypes(): TypeCheckResult =
    ExpectsInputTypes.checkInputDataTypes(children, kernel.inputs)

  override lazy val replacement: Expression = {
    val call = StaticInvoke(kernel.runtime, resultType, kernel.method,
      children ++ consts, returnNullable = kernel.orNull)
    if (kernel.result != Kernel.LongArray) call
    else StaticInvoke(classOf[UnsafeArrayData], ArrayType(LongType, containsNull = false),
      "fromPrimitiveArray", Seq(call), returnNullable = false)
  }

  private def resultType: DataType = kernel.result match {
    case ArrayType(t, false) if !kernel.fillsNulls && children.exists(_.dataType match {
        case ArrayType(_, nulls) => nulls
        case _ => false
      }) => ArrayType(t, containsNull = true)
    case t => t
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/**
 * SQL-name registration for the engine's kernels, so `spark.sql` users
 * get the same surface as the Column API (the reference's users script
 * everything — OGR SQL included — so the SQL door matters for drop-in
 * parity).
 */
object GraftFunctions {
  import graft.text.{EmbedOps, TextOps}

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def put(name: String)(build: Seq[Column] => Column): Unit =
      reg.createOrReplaceTempFunction(name, es => exprOf(build(es.map(colOf))), "scala_udf")
    Seq(SpatialFunctions.PointInPolygon, SpatialFunctions.S2CellId,
      SpatialFunctions.HexCellId, SpatialFunctions.GridCellId,
      SpatialFunctions.GridKRing, SpatialFunctions.HexKRing,
      TextOps.SimHash, TextOps.RollingFp, TextOps.PolyFp, TextOps.TextStats,
      EmbedOps.Dot, EmbedOps.LshSig, PxFunctions.Sum).foreach(k => put(k.name)(k(_)))
    put("shingle_fps") { cs =>
      // n parameterizes the call itself, so it must be a foldable INT —
      // fail with the contract, not a ClassCastException
      val n = exprOf(cs(1)) match {
        case e if e.foldable && e.dataType == IntegerType => e.eval()
        case _ => null
      }
      require(n != null,
        "shingle_fps(text, n): n must be an INT literal, got " + exprOf(cs(1)).sql)
      TextOps.shingleFps(cs(0), n.asInstanceOf[Int])
    }
  }
}
