package graft.plans

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType}

/**
 * Native Catalyst expressions + session extension registration — the
 * (b)/(c) extension path from the build plan: where a scalar function
 * sits in the hot path, a codegen'd `Expression` beats a Scala UDF
 * (no Option-boxing, no encoder round-trip, stays inside the
 * WholeStageCodegen span, and is usable from SQL text).
 *
 * Every per-row kernel follows ONE recipe: a [[KernelExpression]]
 * naming one static [[graft.ops.Kernels]] method, one row of
 * [[GraftExtensions.functions]], and one [[GraftFunctions]] wrapper.
 * Registered functions (via [[GraftExtensions]] or
 * `SparkSession.builder.withExtensions(new GraftExtensions)`):
 *  - `graft_stem(str)`  — Porter stem of a single token
 *    (reference semantics incl. the step-1b ordering deviation of
 *    the reference's `utils/Stemmer.scala`, pinned by StemmerSpec);
 *  - `graft_clean(str)` — the tweet cleaning chain (the reference's
 *    `utils/Helper.scala:77-84`);
 *  - `graft_simhash(str)` — 64-bit SimHash of the normalized text
 *    (same semantics as [[graft.ops.SimHash.simhashCol]]);
 *  - `graft_shingles(str, n)`, `graft_minhash(array<string>, k)`,
 *    `graft_winnow(str, k, w)`, `graft_quality(str)`,
 *    `graft_normalize(str, stem)` — documented on their
 *    expressions below.
 */
abstract class KernelExpression(
    override val prettyName: String,
    inputType: DataType,
    override val dataType: DataType,
    kernel: String) extends UnaryExpression with Serializable {

  /** Every constructor field after `child` is a plan-time literal — an
    * integer size that fixes the output's shape, or a boolean switch —
    * passed to the kernel after the row value, in declaration order. */
  private lazy val sizes: Seq[Any] = productIterator.drop(1).toSeq

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (DataTypeUtils.equalsIgnoreNullability(child.dataType, inputType) &&
        sizes.forall { case i: Int => i > 0; case _ => true }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an argument of type ${inputType.simpleString}" +
        (if (sizes.exists(_.isInstanceOf[Int])) " and positive literal sizes" else ""))

  /** The interpreted path invokes the same static method the
    * generated code calls (as Spark's `StaticInvoke` does), so the two
    * paths cannot fork. */
  @transient private lazy val method: java.lang.reflect.Method =
    graft.ops.Kernels.getClass.getMethods.find(_.getName == kernel).get

  override protected def nullSafeEval(input: Any): Any =
    try method.invoke(graft.ops.Kernels,
      (input +: sizes).map(_.asInstanceOf[AnyRef]): _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.Kernels.$kernel(${(c +: sizes).mkString(", ")})")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    makeCopy((newChild +: productIterator.drop(1).toSeq).map(_.asInstanceOf[AnyRef]).toArray)
}

case class StemExpression(child: Expression)
  extends KernelExpression("graft_stem", StringType, StringType, "stemUtf8")

case class CleanTextExpression(child: Expression)
  extends KernelExpression("graft_clean", StringType, StringType, "cleanUtf8")

case class SimHashExpression(child: Expression)
  extends KernelExpression("graft_simhash", StringType, LongType, "simhashUtf8")

/** Word n-gram shingle set (`graft_shingles(text, n)`): the front
  * stage of every MinHash/Jaccard dedup path
  * ([[graft.ops.Dedup.shingles]] wires through this). */
case class ShinglesExpression(child: Expression, n: Int)
  extends KernelExpression("graft_shingles", StringType,
    ArrayType(StringType, containsNull = false), "shinglesUtf8")

/** MinHash signature (`graft_minhash(shingles, k)`): k unsigned-min
  * multiply-add residues over the 60-bit md5 base of each shingle,
  * hashing element bytes straight off the UTF8String backing array. */
case class MinhashExpression(child: Expression, k: Int)
  extends KernelExpression("graft_minhash", ArrayType(StringType),
    ArrayType(LongType, containsNull = false), "minhashUtf8")

/** Winnowing fingerprint selection (`graft_winnow(norm, k, w)`): the
  * distinct window-min 60-bit-md5 gram hashes of an already-normalized
  * text — [[graft.ops.Fingerprint]]'s kernel as ONE static call per
  * row instead of an interpreted `transform`/`slice`/`array_min`
  * higher-order chain. `k` is the gram length, `w` the window width. */
case class WinnowExpression(child: Expression, k: Int, w: Int)
  extends KernelExpression("graft_winnow", StringType,
    ArrayType(LongType, containsNull = false), "winnowUtf8")

/** Composite quality score (`graft_quality(text)`): the
  * [[graft.ops.TextStats.qualityScore]] heuristic in one pass over the
  * string + one over its lowercase form, instead of four independent
  * interpreted passes (three regex splits with array HOFs and a regex
  * replace). NULL propagates null here; the Column wrapper restores
  * the legacy chain's NULL value. */
case class QualityExpression(child: Expression)
  extends KernelExpression("graft_quality", StringType, DoubleType, "qualityUtf8")

/** The tweet normalisation chain of [[graft.text.TextClean.cleanSource]]
  * (`graft_normalize(text, stem)`): optional Porter stem, tweet
  * tokenizer, emoji substitution (the built-in emoticon map), the
  * cleaning rules, whitespace split and
  * English stop-word removal, joined — one static call per row in
  * place of a Scala UDF and two MLlib projections. */
case class NormalizeExpression(child: Expression, stem: Boolean)
  extends KernelExpression("graft_normalize", StringType, StringType, "normalizeUtf8")

/** Session extension: `.withExtensions(new GraftExtensions)` or config
  * `spark.sql.extensions=graft.plans.GraftExtensions`; for an already-
  * running session use [[GraftExtensions.register]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  type FunctionDescription = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  /** One row per kernel: SQL name, the types of its plan-time literal
    * arguments after the row argument, and the expression built from
    * the row argument and the literals. */
  val functions: Seq[FunctionDescription] = Seq(
    kernel("graft_stem")((c, _) => StemExpression(c)),
    kernel("graft_clean")((c, _) => CleanTextExpression(c)),
    kernel("graft_simhash")((c, _) => SimHashExpression(c)),
    kernel("graft_shingles", IntegerType)((c, s) => ShinglesExpression(c, s(0).asInstanceOf[Int])),
    kernel("graft_minhash", IntegerType)((c, s) => MinhashExpression(c, s(0).asInstanceOf[Int])),
    kernel("graft_winnow", IntegerType, IntegerType)((c, s) =>
      WinnowExpression(c, s(0).asInstanceOf[Int], s(1).asInstanceOf[Int])),
    kernel("graft_quality")((c, _) => QualityExpression(c)),
    kernel("graft_normalize", BooleanType)((c, s) =>
      NormalizeExpression(c, s(0).asInstanceOf[Boolean])))

  /** The literal arguments are part of the expression's SHAPE (output
    * width / gram length, or a plan-time switch), so SQL callers must
    * pass literals — a per-row value would make the plan data-dependent. */
  private def kernel[E <: KernelExpression: ClassTag](name: String, literals: DataType*)(
      build: (Expression, Seq[Any]) => E): FunctionDescription =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, name),
      (children: Seq[Expression]) => {
        val arity = 1 + literals.length
        if (children.length != arity) throw new IllegalArgumentException(
          s"$name requires exactly $arity arguments, got ${children.length}")
        build(children.head, children.tail.zip(literals).map {
          case (Literal(v, t), want) if t == want && v != null => v
          case (other, want) => throw new IllegalArgumentException(
            s"$name requires a literal ${if (want == IntegerType) "integer size" else want.simpleString} " +
              s"argument, got $other")
        })
      })

  /** Retrofit the functions into an existing session (e.g. one created
    * without `withExtensions`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      reg.registerFunction(ident, info, builder)
    }
  }
}

/** Column-API access (requires the extensions to be installed in the
  * session, e.g. `.withExtensions(new GraftExtensions)`). */
object GraftFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{call_function, lit}

  private def kernel(name: String, c: Column, literals: Any*): Column =
    call_function(name, c +: literals.map(lit(_)): _*)

  def graftStem(c: Column): Column = kernel("graft_stem", c)
  def graftClean(c: Column): Column = kernel("graft_clean", c)
  def graftSimhash(c: Column): Column = kernel("graft_simhash", c)
  def graftShingles(c: Column, n: Int): Column = kernel("graft_shingles", c, n)
  def graftMinhash(c: Column, k: Int): Column = kernel("graft_minhash", c, k)
  def graftWinnow(c: Column, k: Int, w: Int): Column = kernel("graft_winnow", c, k, w)
  def graftQuality(c: Column): Column = kernel("graft_quality", c)
  def graftNormalize(c: Column, stem: Boolean): Column =
    kernel("graft_normalize", c, stem)
}
