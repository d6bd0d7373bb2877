package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, RatcliffSimilarity}
import graft.nlp.Similarity

class FunctionsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("ratcliff_sim evaluates like the driver-side Similarity.ratio") {
    import spark.implicits._
    RatcliffSimilarity.register(spark)
    val pairs = Seq(("abcd", "bcde"), ("mumbay", "mumbai"), ("qabxcd", "abycdf"),
      ("", ""), ("abc", ""))
    val got = pairs.toDF("a", "b")
      .select(RatcliffSimilarity.ratcliffSim(col("a"), col("b"))).collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) => Similarity.ratio(a, b) }
    assert(got.toSeq == want)
  }

  test("ratcliff_sim is callable from SQL and null-propagates") {
    RatcliffSimilarity.register(spark)
    val r = spark.sql("SELECT ratcliff_sim('AMERIC', 'AMERICA') AS s, ratcliff_sim(NULL, 'x') AS n")
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 12.0 / 13) < 1e-12)
    assert(r.isNullAt(1))
  }

  test("GraftExtensions registers ratcliff_sim into a function registry") {
    // exercise the extension path directly (a session built with
    // spark.sql.extensions runs exactly this registration); a fresh
    // registry proves the injection carries everything lookup needs
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    org.apache.spark.sql.GraftTestKit.registerFunctions(ext, reg)
    val fn = org.apache.spark.sql.catalyst.FunctionIdentifier("ratcliff_sim")
    assert(reg.functionExists(fn))
    val built = reg.lookupFunction(fn,
      Seq(org.apache.spark.sql.catalyst.expressions.Literal("abcd"),
        org.apache.spark.sql.catalyst.expressions.Literal("bcde")))
    assert(built.eval(null) == 0.75)
  }

  test("nfc_normalize: canonical composition, fast-path identity, null propagation") {
    import spark.implicits._
    graft.functions.UnicodeNorm.register(spark)
    val cases = Seq(
      "cafe\u0301",          // e + combining acute -> precomposed
      "caf\u00e9",           // already composed -> unchanged
      "plain ascii",         // fast path
      "A\u030a",             // A + combining ring -> angstrom A
      "q\u0307\u0323",       // combining marks REORDER canonically (UAX#15)
      "d\u0323\u0307")       // composes to dot-below d, keeps dot-above mark
    val got = cases.toDF("s")
      .select(graft.functions.UnicodeNorm.nfcNormalize(col("s")))
      .collect().map(_.getString(0))
    val want = cases.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq == want)
    assert(got(0) == "caf\u00e9" && got(0) == got(1),
      "composition must land on the precomposed form")
    assert(got(3) == "\u00c5", "A + combining ring must compose")
    assert(got(4) == "q\u0323\u0307", "canonical reordering must apply")
    assert(got(5) == "\u1e0d\u0307", "partial composition keeps the residual mark")
    // null propagates; SQL surface is registered
    val viaSql = Seq(("cafe\u0301", null: String)).toDF("a", "b")
      .selectExpr("nfc_normalize(a)", "nfc_normalize(b)").head()
    assert(viaSql.getString(0) == "caf\u00e9" && viaSql.isNullAt(1))
  }

  test("cdc_bounds equals the composable filter/aggregate derivation on corpus + edge docs") {
    import spark.implicits._
    graft.functions.SketchFunctions.register(spark)
    val base = graft.operators.TextAnalysis.RollBase
    val mod = graft.operators.TextAnalysis.RollMod
    val hof = s"""filter(sequence(8L, greatest(CAST(length(text) AS BIGINT), 8L)), p ->
                    p <= CAST(length(text) AS BIGINT) AND
                    aggregate(slice(transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)),
                      CAST(p AS INT) - 7, 8), 0L,
                      (acc, c) -> (acc * ${base}L + c) % ${mod}L) % 64 = 0)"""
    val edge = Seq("", "short", "exactly8", "exactly8!", "a" * 200).toDF("text")
    val corpus = Tables(spark, sfDir, "documents").select("text").limit(200)
    for (df <- Seq(edge, corpus)) {
      val diff = df.selectExpr("text", s"$hof AS want", "cdc_bounds(text) AS got")
        .filter("want <> got")
      assert(diff.isEmpty, diff.take(1).mkString)
    }
  }

  test("nearest_entry: argmin by haversine with (city, country) tie-break") {
    import spark.implicits._
    graft.functions.NearestEntry.register(spark)
    // point at origin; two candidates equidistant (symmetric lat) must tie-
    // break to the lexicographically smaller city; a closer third wins
    val df = Seq((0.0, 0.0)).toDF("latitude", "longitude")
      .withColumn("cands", expr(
        """array(
          | named_struct('lat',  1.0D, 'lon', 0.0D, 'city', 'Beta',  'country', 'X'),
          | named_struct('lat', -1.0D, 'lon', 0.0D, 'city', 'Alpha', 'country', 'X'))""".stripMargin))
    val tie = df.select(graft.functions.NearestEntry.nearestEntry(
        col("latitude"), col("longitude"), col("cands")).as("b"))
      .select("b.city").collect()(0).getString(0)
    assert(tie == "Alpha")
    val df2 = df.withColumn("cands", expr(
      """array(
        | named_struct('lat', 5.0D, 'lon', 0.0D, 'city', 'Far',  'country', 'X'),
        | named_struct('lat', 0.1D, 'lon', 0.1D, 'city', 'Near', 'country', 'X'))""".stripMargin))
    val near = df2.select(graft.functions.NearestEntry.nearestEntry(
        col("latitude"), col("longitude"), col("cands")).as("b"))
      .select("b.city").collect()(0).getString(0)
    assert(near == "Near")
    // empty candidate array -> null struct
    val empty = df.withColumn("cands", expr(
      "CAST(array() AS array<struct<lat:double,lon:double,city:string,country:string>>)"))
      .select(graft.functions.NearestEntry.nearestEntry(
        col("latitude"), col("longitude"), col("cands")).as("b"))
      .collect()(0)
    assert(empty.isNullAt(0))
  }

  test("nearest_entry skips null and NaN-distance candidates instead of crashing") {
    import spark.implicits._
    graft.functions.NearestEntry.register(spark)
    val base = Seq((0.0, 0.0)).toDF("latitude", "longitude")
    // null array element + null field + one valid candidate -> valid wins
    val mixed = base.withColumn("cands", expr(
      """array(
        | CAST(NULL AS struct<lat:double,lon:double,city:string,country:string>),
        | named_struct('lat', CAST(NULL AS DOUBLE), 'lon', 0.0D, 'city', 'BadLat', 'country', 'X'),
        | named_struct('lat', 1.0D, 'lon', 0.0D, 'city', 'Good', 'country', 'X'))""".stripMargin))
      .select(graft.functions.NearestEntry.nearestEntry(
        col("latitude"), col("longitude"), col("cands")).as("b"))
      .select("b.city").collect()(0).getString(0)
    assert(mixed == "Good")
    // NaN probe coordinate -> every distance NaN -> null result, no winner
    val nanProbe = Seq((Double.NaN, 0.0)).toDF("latitude", "longitude")
      .withColumn("cands", expr(
        """array(named_struct('lat', 1.0D, 'lon', 0.0D, 'city', 'A', 'country', 'X'))"""))
      .select(graft.functions.NearestEntry.nearestEntry(
        col("latitude"), col("longitude"), col("cands")).as("b"))
      .collect()(0)
    assert(nanProbe.isNullAt(0), "NaN distances must never produce a winner")
  }

  test("centroid rounding keeps the sign of a negative mean that rounds to zero") {
    import spark.implicits._
    // per-key means through the aggregate, the path centroidAgg takes
    val vals = Seq("neg" -> -4e-7, "pos" -> 4e-7, "ord" -> 0.1234567, "negOrd" -> -0.1234567)
    val got = vals.toDF("k", "v").groupBy(col("k"))
      .agg(graft.queries.VectorOps.roundKeepSign(avg(col("v")), 6).as("kept"),
        round(avg(col("v")), 6).as("plain"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    assert(bits(got("neg")._1) == 0x8000000000000000L) // -0.0, as DuckDB's ROUND
    assert(bits(got("pos")._1) == 0L) // 0.0
    assert(bits(got("ord")._1) == bits(0.123457))
    // every value that is not a negative zero stays round's own
    Seq("pos", "ord", "negOrd").foreach(k => assert(bits(got(k)._1) == bits(got(k)._2), k))
  }
}
