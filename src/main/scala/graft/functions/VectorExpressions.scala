package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector expressions for the similarity-search hot path.
  *
  * Spark's lambda builtins (`aggregate`/`zip_with`) can express a dot
  * product but evaluate interpreted — per element: a lambda-variable
  * bind + boxed dispatch. For ANN over millions of vectors that inner
  * loop IS the query, so this is the textbook case for a custom
  * Catalyst `Expression` with `doGenCode` (SURVEY.md §2.12): the
  * generated Java is a tight primitive loop inside whole-stage
  * codegen — no boxing, no virtual calls, and `array<float>` embeddings
  * are read natively (no up-cast materialization of the array).
  *
  * Semantics match the lambda formulation bit-for-bit for double
  * inputs: sequential left-to-right double accumulation in element
  * order (so results hash-compare equal against the DuckDB oracle's
  * list_dot_product). Dirty input FAILS FAST instead of silently
  * truncating/zeroing: mismatched vector lengths and null array
  * elements throw (a corrupted 3-element row scored against 64-dim
  * queries would otherwise return a plausible similarity and pass
  * threshold filters; a null element would read as 0.0 from unsafe
  * rows). The null-element check is emitted only when a side's
  * ArrayType says containsNull — literal plane arrays stay check-free
  * in the hottest loops.
  */
abstract class VectorBinaryExpression extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case org.apache.spark.sql.types.NullType => Some(DoubleType) // NULL literal
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> or array<double> arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  /** Interpreted accessor for one side's element type. */
  protected def getD(e: Expression): (ArrayData, Int) => Double =
    e.dataType match {
      case ArrayType(FloatType, _) => (a, i) => a.getFloat(i).toDouble
      case _ => (a, i) => a.getDouble(i)
    }

  /** Codegen accessor snippet for one side's element type. */
  protected def getCode(e: Expression, arr: String, i: String): String =
    e.dataType match {
      case ArrayType(FloatType, _) => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }

  // resolved once per expression instance, not per row (the
  // interpreted path used to re-match the element type and allocate
  // two closures for every evaluated row)
  @transient protected lazy val getL: (ArrayData, Int) => Double = getD(left)
  @transient protected lazy val getR: (ArrayData, Int) => Double = getD(right)

  private def containsNulls(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }
  @transient protected lazy val chkL: Boolean = containsNulls(left)
  @transient protected lazy val chkR: Boolean = containsNulls(right)

  protected def checkedLength(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(s"$prettyName: vector length " +
        s"mismatch: $n vs ${y.numElements()}")
    n
  }

  protected def checkElems(x: ArrayData, y: ArrayData, i: Int): Unit =
    if ((chkL && x.isNullAt(i)) || (chkR && y.isNullAt(i)))
      throw new IllegalArgumentException(
        s"$prettyName: null vector element at index $i")

  /** Codegen twin of [[checkedLength]]. */
  protected def lengthCheckCode(a: String, b: String, n: String): String =
    s"""if ($a.numElements() != $b.numElements())
          throw new IllegalArgumentException("$prettyName: vector length mismatch: "
            + $a.numElements() + " vs " + $b.numElements());
        final int $n = $a.numElements();"""

  /** Codegen twin of [[checkElems]]; empty when neither side can hold
    * null elements (plane literals), keeping the hot loop check-free.
    */
  protected def nullElemCheckCode(a: String, b: String, i: String): String = {
    val checks = Seq(
      if (chkL) Some(s"$a.isNullAt($i)") else None,
      if (chkR) Some(s"$b.isNullAt($i)") else None).flatten
    if (checks.isEmpty) ""
    else s"""if (${checks.mkString(" || ")})
            throw new IllegalArgumentException(
              "$prettyName: null vector element at index " + $i);"""
  }
}

/** cosine(a, b) = a·b / (‖a‖·‖b‖) in one fused pass. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "graft_cosine"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = checkedLength(x, y)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      checkElems(x, y, i)
      val xi = getL(x, i); val yi = getR(y, i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    // zero-norm guard: 0/0 would be NaN, and Spark's NaN-is-greatest
    // ordering/comparison semantics make a NaN similarity pass every
    // `>= threshold` filter and claim every desc top-k slot — a zero
    // (padding/dead) vector must instead be similar to nothing
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        ${lengthCheckCode(a, b, n)}
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          ${nullElemCheckCode(a, b, i)}
          final double $xi = ${getCode(left, a, i)};
          final double $yi = ${getCode(right, b, i)};
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        final double ${dot}_d =
          java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        ${ev.value} = (${dot}_d == 0.0) ? 0.0 : $dot / ${dot}_d;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** dot(a, b) — same fused primitive loop, no normalization. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "graft_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = checkedLength(x, y)
    var dot = 0.0; var i = 0
    while (i < n) {
      checkElems(x, y, i)
      dot += getL(x, i) * getR(y, i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
        ${lengthCheckCode(a, b, n)}
        double $dot = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          ${nullElemCheckCode(a, b, i)}
          $dot += (${getCode(left, a, i)}) * (${getCode(right, b, i)});
        }
        ${ev.value} = $dot;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Registration: per-session (`GraftFunctions.register(spark)`, which
  * queries call idempotently) or config-time via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {
  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      info(classOf[CosineSimilarity], "graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two vectors"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"graft_cosine requires exactly 2 arguments, got ${es.length}")
        CosineSimilarity(es(0), es(1))
      }),
    (FunctionIdentifier("graft_dot"),
      info(classOf[DotProduct], "graft_dot",
        "graft_dot(a, b) - dot product of two vectors"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"graft_dot requires exactly 2 arguments, got ${es.length}")
        DotProduct(es(0), es(1))
      }),
    (FunctionIdentifier("graft_minhash_sig"),
      info(classOf[MinhashSig], "graft_minhash_sig",
        "graft_minhash_sig(toks, k) - k-component MinHash signature " +
          "over word 3-gram shingles of a token array"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"graft_minhash_sig requires exactly 2 arguments, got ${es.length}")
        MinhashSig(es(0), foldableInt(es(1), "graft_minhash_sig k"))
      }),
    (FunctionIdentifier("graft_minhash_bands"),
      info(classOf[MinhashBands], "graft_minhash_bands",
        "graft_minhash_bands(toks, k, bands) - LSH band hashes of the " +
          "k-component MinHash signature (band_id = array position)"),
      (es: Seq[Expression]) => {
        require(es.length == 3,
          s"graft_minhash_bands requires exactly 3 arguments, got ${es.length}")
        MinhashBands(es(0), foldableInt(es(1), "graft_minhash_bands k"),
          foldableInt(es(2), "graft_minhash_bands bands"))
      }),
    (FunctionIdentifier("graft_jaccard_shingles"),
      info(classOf[JaccardShingles], "graft_jaccard_shingles",
        "graft_jaccard_shingles(toksA, toksB, n) - exact word n-gram " +
          "Jaccard similarity of two token arrays"),
      (es: Seq[Expression]) => {
        require(es.length == 3,
          s"graft_jaccard_shingles requires exactly 3 arguments, got ${es.length}")
        JaccardShingles(es(0), es(1), foldableInt(es(2), "graft_jaccard_shingles n"))
      }),
    (FunctionIdentifier("graft_gram_hashes"),
      info(classOf[GramHashes], "graft_gram_hashes",
        "graft_gram_hashes(toks, n) - 64-bit digest per stride-1 " +
          "n-gram position of a token array (grouping keys only)"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"graft_gram_hashes requires exactly 2 arguments, got ${es.length}")
        GramHashes(es(0), foldableInt(es(1), "graft_gram_hashes n"))
      }),
    (FunctionIdentifier("graft_bind"),
      info(classOf[BoundValue], "graft_bind",
        "graft_bind(value) - the literal value, bound by reference: " +
          "generated code does not change with it"),
      BoundValue.build _))

  /** Resolve a foldable int argument (the k/n shape parameters) at
    * function-build time — they size per-instance constant arrays, so
    * a non-literal would be a planning error, not a runtime value.
    */
  private def foldableInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal, got $e")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  /** Register the functions and install the batch-timestamp binding
    * ([[BoundValue.install]]) on `spark`. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
    BoundValue.install(spark)
  }
}

/** `spark.sql.extensions`-style injector: the graft functions and the
  * [[SinglePartitionSort]] query-stage rule.
  */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectQueryStagePrepRule(_ => SinglePartitionSort)
  }
}
