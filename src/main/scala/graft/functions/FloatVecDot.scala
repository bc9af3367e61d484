package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen dot product over two `ARRAY<FLOAT>` columns.
  *
  * Semantically identical to the pure-Column form
  * `aggregate(zip_with(a, b, (x,y) => x.cast(double)*y.cast(double)), 0d, _+_)`
  * — same left-to-right double accumulation, so results are bit-identical and
  * oracle hashes are unchanged — but executes as a tight primitive loop
  * inside whole-stage codegen instead of one interpreted lambda call per
  * element (the HOF path allocates per-element and breaks codegen). This is
  * the §4/§7 "custom Catalyst Expression" escalation from SURVEY.md, applied
  * to the hottest kernel of the similarity-search queries.
  *
  * Null semantics match zip_with+aggregate: null array → null; mismatched
  * lengths or a null element → null.
  */
case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"vec_dot requires array<float|double> args, got ($l, $r)")
    }

  // element types are fixed per plan — derive once, not per row
  @transient private lazy val leftIsDouble: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }
  @transient private lazy val rightIsDouble: Boolean = right.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (leftIsDouble) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (rightIsDouble) y.getDouble(i) else y.getFloat(i).toDouble
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getA = if (leftIsDouble) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getB = if (rightIsDouble) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $getA * $getB;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}

/** Session registration for graft's native expressions; idempotent. All
  * four codegen kernels are exposed to SQL under the same names the
  * DataFrame helpers use, so `spark.sql` users get the fused paths too:
  * `vec_dot(a, b)`, `minhash_sig(text, n, k)`, `simhash_sig(text, nbits)`,
  * `hyperplane_sigs(vec, bits, tables[, dim])` (int args must be literals —
  * they parameterize the generated kernel, they are not per-row values).
  */
object GraftExpressions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
  import org.apache.spark.sql.types.IntegerType

  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> build _,
    "minhash_sig" -> { exprs =>
      require(exprs.length == 3,
        s"minhash_sig requires (text, shingleN, seeds), got ${exprs.length} args")
      MinHashSig(exprs.head, intLit(exprs(1), "shingleN"), intLit(exprs(2), "seeds"))
    },
    "simhash_sig" -> { exprs =>
      require(exprs.length == 2,
        s"simhash_sig requires (text, nbits), got ${exprs.length} args")
      SimHashSig(exprs.head, intLit(exprs(1), "nbits"))
    },
    "hyperplane_sigs" -> { exprs =>
      require(exprs.length == 3 || exprs.length == 4,
        s"hyperplane_sigs requires (vec, bits, tables[, dim]), got ${exprs.length} args")
      HyperplaneSigs(exprs.head, intLit(exprs(1), "bits"), intLit(exprs(2), "tables"),
        if (exprs.length == 4) intLit(exprs(3), "dim") else 64)
    },
    "token_prefix" -> { exprs =>
      require(exprs.length == 3,
        s"token_prefix requires (toks, dfs_map, threshold), got ${exprs.length} args")
      TokenPrefix(exprs.head, mapLit(exprs(1), "dfs_map"), doubleLit(exprs(2), "threshold"))
    })

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def doubleLit(e: Expression, name: String): Double = e match {
    case Literal(v: Double, DoubleType) => v
    // the SQL parser types a bare `0.6` as DECIMAL, carried as Catalyst's
    // Decimal wrapper (not java.math.BigDecimal)
    case Literal(v: org.apache.spark.sql.types.Decimal, _: DecimalType) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$name must be a numeric literal, got $other")
  }

  /** A foldable MAP<STRING, int/long> argument, folded at plan time — the
    * df table parameterizes the generated kernel, it is not a per-row
    * value.
    */
  private def mapLit(e: Expression, name: String): Map[String, Long] = {
    require(e.foldable, s"$name must be a foldable map literal, got $e")
    val valueIsLong = e.dataType match {
      case MapType(StringType, LongType, _)    => true
      case MapType(StringType, IntegerType, _) => false
      case t => throw new IllegalArgumentException(
        s"$name must be map<string, int|bigint>, got $t")
    }
    val m = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    val keys = m.keyArray()
    val values = m.valueArray()
    (0 until m.numElements()).map { i =>
      // a null slot would otherwise unbox to df 0 — the rarest-possible
      // value, silently promoting that token into every prefix
      require(!values.isNullAt(i),
        s"$name must not contain null values (key ${keys.getUTF8String(i)})")
      keys.getUTF8String(i).toString ->
        (if (valueIsLong) values.getLong(i) else values.getInt(i).toLong)
    }.toMap
  }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  /** Arity-checked builder shared by both registration paths. */
  private[functions] def build(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): FloatVecDot = {
    require(exprs.length == 2,
      s"vec_dot requires exactly 2 arguments, got ${exprs.length}")
    FloatVecDot(exprs.head, exprs(1))
  }
}

/** Production registration path: `SparkSessionExtensions` injection, usable
  * as `SparkSession.builder.withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.functions.GraftExtensions` on spark-submit —
  * every session (including thrift/connect ones) gets the engine's native
  * expressions without imperative setup. Every main builds its session
  * through this, via [[graft.GraftSession]].
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    // each entry reports its OWN implementing class so DESCRIBE FUNCTION
    // introspection isn't misleading
    val implClass = Map(
      "vec_dot" -> classOf[FloatVecDot].getName,
      "minhash_sig" -> classOf[MinHashSig].getName,
      "simhash_sig" -> classOf[SimHashSig].getName,
      "hyperplane_sigs" -> classOf[HyperplaneSigs].getName,
      "token_prefix" -> classOf[TokenPrefix].getName)
    GraftExpressions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(implClass(name), name),
        b))
    }
    // whole-operator extension: the two-phase per-key top-k, plus the
    // optimizer rewrite that turns row_number()<=k window filters into it
    ext.injectPlannerStrategy(_ => new graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}
