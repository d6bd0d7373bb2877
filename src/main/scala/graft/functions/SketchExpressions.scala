package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Per-document sketch expressions: fold a document's token/shingle hash
  * array into its fingerprint in ONE codegen'd pass over the row.
  *
  * The composable formulations shuffle every token/shingle row into a
  * wide aggregate (60 vote counters for SimHash, K min() columns for
  * MinHash). Both sketches only need per-document state, so computing
  * them as row-local expressions removes those shuffles entirely — the
  * downstream bucket joins are then the only exchanges in the dedup
  * pipelines. At 100 TB that converts the dominant wide shuffle
  * (tokens × docs rows) into zero.
  */

/** `simhash60(hashes)` — 60-bit SimHash of an array of 60-bit hashes:
  * bit j of the result is set iff more elements have bit j set than
  * clear. Empty/null array → null. */
case class SimHash60(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) null
    else {
      val votes = new Array[Int](60)
      var i = 0
      while (i < n) {
        val h = hs.getLong(i)
        var j = 0
        while (j < 60) {
          if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 60) { if (votes(j) > 0) out |= (1L << j); j += 1 }
      out
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val n = ctx.freshName("n")
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $hs.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int[] $votes = new int[60];
         |  for (int $i = 0; $i < $n; $i++) {
         |    final long $h = $hs.getLong($i);
         |    for (int $j = 0; $j < 60; $j++) {
         |      if ((($h >> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
         |    }
         |  }
         |  long $out = 0L;
         |  for (int $j = 0; $j < 60; $j++) {
         |    if ($votes[$j] > 0) $out |= (1L << $j);
         |  }
         |  ${ev.value} = $out;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)

  override def prettyName: String = "simhash60"
}

/** `minhash_sig(hashes)` — K minhash values of an array of hashes under
  * the affine family h_k = (A_k·(h mod P) + B_k) mod P. Coefficients are
  * baked in as constants (same derivation as the DuckDB oracle). Empty/
  * null array → null. */
case class MinHashSignature(child: Expression, coeffA: Seq[Long],
                            coeffB: Seq[Long], p: Long)
    extends UnaryExpression with ImplicitCastInputTypes {

  private val k = coeffA.length
  require(coeffB.length == k)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) null
    else {
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = hs.getLong(i) % p
        var x = 0
        while (x < k) {
          val v = (coeffA(x) * h + coeffB(x)) % p
          if (v < mins(x)) mins(x) = v
          x += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val as = ctx.freshName("as")
      val bs = ctx.freshName("bs")
      val aRef = ctx.addReferenceObj("coeffA", coeffA.toArray, "long[]")
      val bRef = ctx.addReferenceObj("coeffB", coeffB.toArray, "long[]")
      s"""
         |final int $n = $hs.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  final long[] $as = $aRef;
         |  final long[] $bs = $bRef;
         |  final long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    final long $h = $hs.getLong($i) % ${p}L;
         |    for (int $x = 0; $x < $k; $x++) {
         |      final long $v = ($as[$x] * $h + $bs[$x]) % ${p}L;
         |      if ($v < $mins[$x]) $mins[$x] = $v;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object SketchFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.functions.call_function

  val simhashInfo: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("simhash60"),
    new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
    (children: Seq[Expression]) => SimHash60(children(0)))

  /** minhash_sig bakes the K/affine constants shared with the DuckDB
    * oracle (graft.operators.MinHashDedup). */
  val minhashInfo: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
    (children: Seq[Expression]) => MinHashSignature(children(0),
      graft.operators.MinHashDedup.coeffA, graft.operators.MinHashDedup.coeffB,
      graft.operators.MinHashDedup.P))

  val hex60Info: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("hex60_array"),
    new ExpressionInfo(classOf[Hex60Array].getName, "hex60_array"),
    (children: Seq[Expression]) => Hex60Array(children(0)))

  /** kmin_values(hash, k) — k must fold to an integer literal (the
    * aggregate's state bound is fixed at plan time by construction). */
  val kminInfo: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("kmin_values"),
    new ExpressionInfo(classOf[KMinValues].getName, "kmin_values"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "kmin_values(hash, k) takes two arguments")
      require(children(1).foldable, "kmin_values k must be a literal")
      KMinValues(children(0),
        children(1).eval().asInstanceOf[Number].intValue())
    })

  val cdcInfo: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("cdc_bounds"),
    new ExpressionInfo(classOf[CdcBounds].getName, "cdc_bounds"),
    (children: Seq[Expression]) => CdcBounds(children(0)))

  /** cms_counts(hash, weight, d, w) — d and w must fold to integer
    * literals (the sketch grid is fixed at plan time by construction). */
  val cmsInfo: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("cms_counts"),
    new ExpressionInfo(classOf[CmsCounts].getName, "cms_counts"),
    (children: Seq[Expression]) => {
      require(children.length == 4, "cms_counts(hash, weight, d, w) takes four arguments")
      require(children(2).foldable && children(3).foldable,
        "cms_counts d and w must be literals")
      CmsCounts(children(0), children(1),
        children(2).eval().asInstanceOf[Number].intValue(),
        children(3).eval().asInstanceOf[Number].intValue())
    })

  /** topk_pairs(score, id, k) — k must fold to an integer literal. */
  val topkInfo: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("topk_pairs"),
    new ExpressionInfo(classOf[TopKPairs].getName, "topk_pairs"),
    (children: Seq[Expression]) => {
      require(children.length == 3, "topk_pairs(score, id, k) takes three arguments")
      require(children(2).foldable, "topk_pairs k must be a literal")
      TopKPairs(children(0), children(1),
        children(2).eval().asInstanceOf[Number].intValue())
    })

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      simhashInfo._1, simhashInfo._2, simhashInfo._3)
    spark.sessionState.functionRegistry.registerFunction(
      minhashInfo._1, minhashInfo._2, minhashInfo._3)
    spark.sessionState.functionRegistry.registerFunction(
      hex60Info._1, hex60Info._2, hex60Info._3)
    spark.sessionState.functionRegistry.registerFunction(
      kminInfo._1, kminInfo._2, kminInfo._3)
    spark.sessionState.functionRegistry.registerFunction(
      topkInfo._1, topkInfo._2, topkInfo._3)
    spark.sessionState.functionRegistry.registerFunction(
      cdcInfo._1, cdcInfo._2, cdcInfo._3)
    spark.sessionState.functionRegistry.registerFunction(
      cmsInfo._1, cmsInfo._2, cmsInfo._3)
  }

  def simhash60(c: Column): Column = call_function("simhash60", c)
  def minhashSig(c: Column): Column = call_function("minhash_sig", c)
  def hex60Array(c: Column): Column = call_function("hex60_array", c)
  def kminValues(c: Column, k: Int): Column =
    call_function("kmin_values", c, org.apache.spark.sql.functions.lit(k))
  def topkPairs(score: Column, id: Column, k: Int): Column =
    call_function("topk_pairs", score, id, org.apache.spark.sql.functions.lit(k))
  def cmsCounts(hash: Column, weight: Column, d: Int, w: Int): Column =
    call_function("cms_counts", hash, weight,
      org.apache.spark.sql.functions.lit(d), org.apache.spark.sql.functions.lit(w))
}

/** `hex60_array(strings)` — element-wise [[graft.operators.PortableHash]]
  * 60-bit md5 hash of a string array in one codegen'd loop (the
  * composable `transform(arr, s -> conv(substring(md5(s),1,15),16,10))`
  * runs interpreted per element through four expression layers). Feeds
  * `minhash_sig` / `simhash60`. */
case class Hex60Array(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = graft.operators.PortableHash.hex60Bytes(
        arr.getUTF8String(i).getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $arr.numElements();
         |final long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = graft.operators.PortableHash.hex60Bytes(
         |    $arr.getUTF8String($i).getBytes());
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Hex60Array =
    copy(child = newChild)

  override def prettyName: String = "hex60_array"
}
