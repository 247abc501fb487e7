package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import graft.sources.PushKnownIds

/** Shared contract for binary expressions over two same-typed numeric
  * arrays (array<float> or array<double>): type checking, element-type
  * dispatch, and the HOF-parity null rule — `zip_with` pads a shorter
  * array with nulls and a null poisons the fold, so mismatched lengths
  * or any null element must yield NULL.
  */
trait NumericArrayBinaryExpression extends BinaryExpression {
  protected def elem(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elem(left.dataType), elem(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> or two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  protected def isFloat: Boolean = elem(left.dataType).contains(FloatType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
}

/** Native cosine similarity over two numeric-array columns
  * (array<float> or array<double>, matching on each side).
  *
  * The composable form (`aggregate(zip_with(...))`) materializes an
  * intermediate product array per row, walks the data three times
  * (dot, |a|², |b|²), and — like every higher-order-function lambda —
  * runs interpreted, outside whole-stage codegen. This expression is
  * one fused loop, participates in codegen via [[doGenCode]], and
  * allocates nothing — the difference between "works" and "fast" when
  * scoring billions of embeddings.
  *
  * Semantics match the HOF form and the DuckDB oracle exactly: floats
  * widen to double BEFORE multiply, sums fold left-to-right, and a
  * length mismatch or null element yields NULL (the zip_with padding
  * rule) instead of a silently truncated score.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends NumericArrayBinaryExpression {

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    val f = isFloat
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = if (f) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (f) ys.getFloat(i).toDouble else ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getter = if (isFloat) "getFloat" else "getDouble"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = (double) $a.$getter($i);
         |    double $y = (double) $b.$getter($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of one vector against a whole CODEBOOK —
  * `cosine_all(vec, array(array(...), ...))` returns the array of
  * per-centroid cosines, bit-identical to
  * `array(cosine_sim(vec, c0), cosine_sim(vec, c1), ...)`.
  *
  * Why it exists: the composable form inlines K fused cosine loops
  * into the generated projection — and cell assignment
  * (`array_position(cosc, array_max(cosc))`) repeats the whole
  * K-element array expression per reference, so a 16-centroid
  * codebook over 64-dim literals expands to ~50 unrolled loops of 64
  * constants in ONE janino method. Compilation of that method (seconds
  * per stage, several stages per query) dominated the entire IVF
  * family's runtime at bench scale. This expression is one registry
  * call site; the codebook literal is decoded ONCE (foldable right
  * child → thread-local lazy), and the generated code shrinks to a
  * function call. Deliberately a CodegenFallback — the K×dim loop is
  * plain JVM code either way, and keeping it out of the generated
  * source is the entire point.
  *
  * Per-element semantics replicate [[CosineSimilarity]] exactly: same
  * widen-then-multiply, same left-to-right folds, and per-centroid
  * NULL on length mismatch or null element (the CreateArray form's
  * per-slot null rule). A null vector yields NULL overall.
  */
case class CosineMulti(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _),
            ArrayType(ArrayType(DoubleType, _), _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double>, foldable array<array<double>>), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "cosine_all"
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Codebook decoded once from the foldable literal: per centroid,
    * the element array (null slot → poisoned centroid → NULL cosine)
    * and its precomputed squared norm.
    */
  @transient private lazy val codebook: Array[(Array[Double], Double)] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { k =>
      if (arr.isNullAt(k)) null
      else {
        val c = arr.getArray(k)
        val n = c.numElements()
        val out = new Array[Double](n)
        var nb = 0.0
        var i = 0
        var poisoned = false
        while (i < n) {
          if (c.isNullAt(i)) { poisoned = true; i = n }
          else { out(i) = c.getDouble(i); nb += out(i) * out(i); i += 1 }
        }
        if (poisoned) null else (out, nb)
      }
    }.toArray
  }

  override def nullSafeEval(v: Any, cb: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val f = isFloat
    // vector decoded once (null element → every cosine NULL, matching
    // cosine_sim's per-pair rule)
    val vec = new Array[Double](n)
    var na = 0.0
    var vecNull = false
    var i = 0
    while (i < n && !vecNull) {
      if (xs.isNullAt(i)) vecNull = true
      else {
        vec(i) = if (f) xs.getFloat(i).toDouble else xs.getDouble(i)
        na += vec(i) * vec(i)
        i += 1
      }
    }
    val out = new Array[Any](codebook.length)
    var k = 0
    while (k < codebook.length) {
      val cent = codebook(k)
      if (vecNull || cent == null || cent._1.length != n) out(k) = null
      else {
        val ys = cent._1
        var dot = 0.0
        var j = 0
        while (j < n) { dot += vec(j) * ys(j); j += 1 }
        out(k) = dot / (math.sqrt(na) * math.sqrt(cent._2))
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sign-random-projection LSH signature in one pass —
  * `rp_signature(vec, array(array(...), ...))` returns the bucket id
  * whose bit j is set iff dot(vec, plane_j) > 0; bit-identical to the
  * composable `Σ CASE WHEN dot_product(vec, plane_j) > 0 THEN 2^j END`
  * form (same left-to-right dot fold per plane, strict > 0).
  *
  * Exists for the same reason as [[CosineMulti]]: 16 inlined
  * dot-product loops over 64-double literal planes blow the generated
  * projection up to janino-compile-bound size. One fallback call site,
  * planes decoded once. NULL if the vector is NULL, has a null
  * element, or mismatches any plane's length (the dot_product
  * null-poisons the sum, so the composable CASE would yield an
  * indeterminate bucket — refuse instead).
  */
case class RpSignature(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _),
            ArrayType(ArrayType(DoubleType, _), _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double>, foldable array<array<double>>), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  // This expression INVENTS nulls (length mismatch, null element) even
  // when both inputs are non-nullable literals — without this override
  // the default child-OR nullability lets consumers skip the null check
  // and read the slot's default 0 as a valid bucket id.
  override def nullable: Boolean = true
  override def prettyName: String = "rp_signature"
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val planes: Array[Array[Double]] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { k =>
      val c = arr.getArray(k)
      val out = new Array[Double](c.numElements())
      var i = 0
      while (i < out.length) { out(i) = c.getDouble(i); i += 1 }
      out
    }.toArray
  }

  override def nullSafeEval(v: Any, cb: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val f = isFloat
    val vec = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      vec(i) = if (f) xs.getFloat(i).toDouble else xs.getDouble(i)
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      if (p.length != n) return null
      var dot = 0.0
      var k = 0
      while (k < n) { dot += vec(k) * p(k); k += 1 }
      if (dot > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native dot product over two numeric-array columns — the target of
  * [[RewriteDotProducts]], which rewrites the composable
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)`
  * idiom into this fused, codegen'd loop.
  *
  * Null semantics replicate the HOF form exactly: `zip_with` pads a
  * shorter array with nulls and a null product nulls the running sum,
  * so mismatched lengths or any null element yield NULL here too.
  */
case class DotProduct(left: Expression, right: Expression)
    extends NumericArrayBinaryExpression {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) return null
    val f = isFloat
    var dot = 0.0
    var i = 0
    val n = xs.numElements()
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = if (f) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (f) ys.getFloat(i).toDouble else ys.getDouble(i)
      dot += x * y
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val getter = if (isFloat) "getFloat" else "getDouble"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += (double) $a.$getter($i) * (double) $b.$getter($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  private val cosineInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "cosine_sim")
  private val shinglesInfo = new ExpressionInfo(
    classOf[WordShingles].getName, "word_shingles")
  private val shingleHashesInfo = new ExpressionInfo(
    classOf[WordShingleHashes].getName, "word_shingle_hashes")

  private val cosineBuilder: Seq[Expression] => Expression =
    exprs => CosineSimilarity(exprs(0), exprs(1))
  private val shinglesBuilder: Seq[Expression] => Expression =
    exprs => WordShingles(exprs(0), exprs(1))
  private val shingleHashesBuilder: Seq[Expression] => Expression =
    exprs => WordShingleHashes(exprs(0), exprs(1))

  private val dotInfo = new ExpressionInfo(
    classOf[DotProduct].getName, "dot_product")
  private val dotBuilder: Seq[Expression] => Expression =
    exprs => DotProduct(exprs(0), exprs(1))

  private val jaccardInfo = new ExpressionInfo(
    classOf[SortedJaccard].getName, "jaccard_sorted")
  private val jaccardBuilder: Seq[Expression] => Expression =
    exprs => SortedJaccard(exprs(0), exprs(1))

  private val cosMultiInfo = new ExpressionInfo(
    classOf[CosineMulti].getName, "cosine_all")
  private val cosMultiBuilder: Seq[Expression] => Expression =
    exprs => CosineMulti(exprs(0), exprs(1))

  private val rpSigInfo = new ExpressionInfo(
    classOf[RpSignature].getName, "rp_signature")
  private val rpSigBuilder: Seq[Expression] => Expression =
    exprs => RpSignature(exprs(0), exprs(1))

  private val deflateInfo = new ExpressionInfo(
    classOf[DeflateLen].getName, "deflate_len")
  private val deflateBuilder: Seq[Expression] => Expression =
    exprs => DeflateLen(exprs(0))

  private val wordpieceInfo = new ExpressionInfo(
    classOf[WordpieceTokens].getName, "wordpiece_tokens")
  private val wordpieceBuilder: Seq[Expression] => Expression =
    exprs => WordpieceTokens(exprs(0))

  private val sortedPairsInfo = new ExpressionInfo(
    classOf[SortedPairs].getName, "sorted_pairs")
  private val sortedPairsBuilder: Seq[Expression] => Expression =
    exprs => SortedPairs(exprs(0))

  private val gramPairsInfo = new ExpressionInfo(
    classOf[GramPairs].getName, "gram_pairs")
  private val gramPairsBuilder: Seq[Expression] => Expression =
    exprs => GramPairs(exprs(0))

  private val triCreditsInfo = new ExpressionInfo(
    classOf[TriangleCredits].getName, "triangle_credits")
  private val triCreditsBuilder: Seq[Expression] => Expression =
    exprs => TriangleCredits(exprs(0), exprs(1), exprs(2))

  private val edgeCreditsInfo = new ExpressionInfo(
    classOf[EdgeCredits].getName, "edge_credits")
  private val edgeCreditsBuilder: Seq[Expression] => Expression =
    exprs => EdgeCredits(exprs(0), exprs(1), exprs(2))

  private val windowHashesInfo = new ExpressionInfo(
    classOf[WordWindowHashes].getName, "word_window_hashes")
  private val windowHashesBuilder: Seq[Expression] => Expression =
    exprs => WordWindowHashes(exprs(0), exprs(1))

  private val lcsInfo = new ExpressionInfo(classOf[LcsTokens].getName, "lcs_tokens")
  private val lcsBuilder: Seq[Expression] => Expression =
    exprs => LcsTokens(exprs(0), exprs(1))

  private val charNgramsInfo = new ExpressionInfo(
    classOf[CharNgrams].getName, "char_ngrams")
  private val charNgramsBuilder: Seq[Expression] => Expression =
    exprs => CharNgrams(exprs(0), exprs(1))

  private val tokenCountInfo = new ExpressionInfo(
    classOf[TokenCount].getName, "token_count")
  private val tokenCountBuilder: Seq[Expression] => Expression =
    exprs => TokenCount(exprs(0))

  private val jaroWinklerInfo = new ExpressionInfo(
    classOf[JaroWinklerSim].getName, "jaro_winkler")
  private val jaroWinklerBuilder: Seq[Expression] => Expression =
    exprs => JaroWinklerSim(exprs(0), exprs(1))

  private val prefixLenInfo = new ExpressionInfo(
    classOf[PrefixLen].getName, "prefix_len")
  private val prefixLenBuilder: Seq[Expression] => Expression =
    exprs => PrefixLen(exprs(0), exprs(1))

  /** The graft optimizer rules, installed alike by [[register]] and
    * [[GraftExtensions]].
    */
  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(RewriteDotProducts, RewriteBoundedLevenshtein, RewriteTokenCount, PushKnownIds)

  /** Idempotent registration on an existing session — functions plus
    * the [[optimizerRules]] — usable from any query lambda without
    * rebuilding the session.
    */
  def register(spark: SparkSession): Unit = {
    val installed = spark.experimental.extraOptimizations
    val missing = optimizerRules.filterNot(installed.contains)
    if (missing.nonEmpty) spark.experimental.extraOptimizations = installed ++ missing
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", dotBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", cosineBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", shinglesBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingle_hashes", shingleHashesBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaccard_sorted", jaccardBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "deflate_len", deflateBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_all", cosMultiBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rp_signature", rpSigBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "wordpiece_tokens", wordpieceBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_pairs", sortedPairsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gram_pairs", gramPairsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "triangle_credits", triCreditsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "edge_credits", edgeCreditsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_window_hashes", windowHashesBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lcs_tokens", lcsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_ngrams", charNgramsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_count", tokenCountBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_winkler", jaroWinklerBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "prefix_len", prefixLenBuilder, "built-in")
  }

  /** Session-extension wiring: sessions built with
    * `.withExtensions(new GraftExtensions)` (or
    * spark.sql.extensions=graft.functions.GraftExtensions) get the
    * graft functions as first-class SQL functions, and the same
    * [[optimizerRules]] as [[register]].
    */
  final class GraftExtensions extends (SparkSessionExtensions => Unit) {
    override def apply(e: SparkSessionExtensions): Unit = {
      e.injectFunction((FunctionIdentifier("cosine_sim"), cosineInfo, cosineBuilder))
      e.injectFunction((FunctionIdentifier("dot_product"), dotInfo, dotBuilder))
      e.injectFunction((FunctionIdentifier("word_shingles"), shinglesInfo, shinglesBuilder))
      e.injectFunction((FunctionIdentifier("word_shingle_hashes"), shingleHashesInfo, shingleHashesBuilder))
      e.injectFunction((FunctionIdentifier("jaccard_sorted"), jaccardInfo, jaccardBuilder))
      e.injectFunction((FunctionIdentifier("deflate_len"), deflateInfo, deflateBuilder))
      e.injectFunction((FunctionIdentifier("cosine_all"), cosMultiInfo, cosMultiBuilder))
      e.injectFunction((FunctionIdentifier("rp_signature"), rpSigInfo, rpSigBuilder))
      e.injectFunction((FunctionIdentifier("wordpiece_tokens"), wordpieceInfo, wordpieceBuilder))
      e.injectFunction((FunctionIdentifier("sorted_pairs"), sortedPairsInfo, sortedPairsBuilder))
      e.injectFunction((FunctionIdentifier("gram_pairs"), gramPairsInfo, gramPairsBuilder))
      e.injectFunction((FunctionIdentifier("triangle_credits"), triCreditsInfo, triCreditsBuilder))
      e.injectFunction((FunctionIdentifier("edge_credits"), edgeCreditsInfo, edgeCreditsBuilder))
      e.injectFunction((FunctionIdentifier("word_window_hashes"), windowHashesInfo, windowHashesBuilder))
      e.injectFunction((FunctionIdentifier("lcs_tokens"), lcsInfo, lcsBuilder))
      e.injectFunction((FunctionIdentifier("char_ngrams"), charNgramsInfo, charNgramsBuilder))
      e.injectFunction((FunctionIdentifier("token_count"), tokenCountInfo, tokenCountBuilder))
      e.injectFunction((FunctionIdentifier("jaro_winkler"), jaroWinklerInfo, jaroWinklerBuilder))
      e.injectFunction((FunctionIdentifier("prefix_len"), prefixLenInfo, prefixLenBuilder))
      optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
    }
  }
}
