package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ClimateEngine
import graft.ingest.Unpivot
import graft.model.{Domain, Fixtures}
import graft.query._

/** QuerySpec compiler, SQL gate, and end-to-end golden Q&A over the
  * fixture tables, replaying the reference's documented questions
  * (FIXTURES.md §6). */
class EngineSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val noaaLong =
    Unpivot.noaaToLong(Fixtures.noaaWide(spark), Domain.noaaTypes)
  private lazy val edgarLong =
    Unpivot.edgarToLong(
      graft.ingest.Clean.stripPrefix(Fixtures.edgarWideRaw(spark), "Y_"),
      Seq("IPCC_annex", "Country_code_A3", "Name", "Substance"))
      .withColumn("gas", col("Substance"))
  private lazy val engine = new ClimateEngine(spark, Map(
    "noaa" -> noaaLong, "fema" -> Fixtures.fema(spark),
    "era5" -> Fixtures.era5(spark), "edgar" -> edgarLong))

  // ---- SpecCompiler ---------------------------------------------------

  test("SpecCompiler: filter + group + agg + sort + limit compiles and runs") {
    val spec = QuerySpec("fema",
      where = Seq(Predicate.Eq("state", "TX"), Predicate.Between("year", 2000, 2010)),
      groupBy = Seq("incident_type"),
      aggregations = Seq(Aggregation(AggFn.Sum, "ihp_total", "total"),
        Aggregation(AggFn.Count, "*", "n")),
      orderBy = Seq(Sort("incident_type")), limit = Some(10))
    val rows = SpecCompiler.compile(spec, Map("fema" -> Fixtures.fema(spark))).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Hurricane", "Tornado"))
  }

  test("SpecCompiler: validation lists all unknown columns at once") {
    val spec = QuerySpec("fema", select = Seq("nope", "state", "alsono"))
    val e = intercept[SpecCompiler.InvalidSpec] {
      SpecCompiler.compile(spec, Map("fema" -> Fixtures.fema(spark)))
    }
    assert(e.problems.size == 2)
  }

  test("SpecCompiler: predicates behave (EqCI, Prefix, In, Or)") {
    val era5 = Fixtures.era5(spark)
    val ci = era5.filter(SpecCompiler.predicate(Predicate.EqCI("City", "mumbai")))
    assert(ci.count() == 4)
    val pre = era5.filter(SpecCompiler.predicate(Predicate.Prefix("date", "2020-06")))
    assert(pre.count() == 3)
    val or = era5.filter(SpecCompiler.predicate(
      Predicate.Or(Seq(Predicate.Eq("City", "Delhi"), Predicate.Eq("City", "Karachi")))))
    assert(or.count() == 7)
  }

  // ---- SqlGate --------------------------------------------------------

  test("SqlGate passes queries, rejects commands at the plan level") {
    Fixtures.fema(spark).createOrReplaceTempView("fema_gate")
    assert(SqlGate.query(spark, "SELECT COUNT(*) AS n FROM fema_gate").collect()(0).getLong(0) == 9)
    intercept[SqlGate.RejectedStatement] {
      SqlGate.check(spark, "DROP TABLE fema_gate")
    }
    intercept[SqlGate.RejectedStatement] {
      SqlGate.check(spark, "INSERT INTO fema_gate VALUES (1)")
    }
    // prefix-check bypass that a SELECT-prefix gate would wave through
    intercept[SqlGate.RejectedStatement] {
      SqlGate.check(spark, "WITH x AS (SELECT 1) INSERT INTO fema_gate SELECT * FROM x")
    }
  }

  // ---- golden Q&A (FIXTURES.md §6 corpus) -----------------------------

  test("NOAA: 'How many droughts occurred in 1980?' → 1") {
    assert(engine.noaaAnswer("How many droughts occurred in 1980?").endsWith("1"))
  }

  test("NOAA: 'What was the total disaster cost in 1983?' sums all types") {
    val a = engine.noaaAnswer("What was the total disaster cost in 1983?")
    assert(a.contains("$38.2 billion"), a)
  }

  test("NOAA: compare flooding and tropical cyclone cost 1980-1984") {
    val a = engine.noaaAnswer("Compare the flooding and tropical cyclone cost between 1980-1984")
    assert(a.contains("Flooding: $25.7 billion"), a)
    assert(a.contains("Tropical Cyclone: $16.2 billion"), a)
  }

  // ---- exhaustive canned-question sweep: every example query the
  // reference ships (main README.md:57-58,72,209-222,
  // Billion_Dollar/new_disaster_c.py:430-434,
  // ERA5_Monthly_Means/README.md:107-109, ERA5_Monthly_Means/era5test.py:98,128)
  // has a golden test quoting the exact string ----------------------------

  test("NOAA: 'How many floods occurred in 2010?' (README.md:209)") {
    assert(engine.noaaAnswer("How many floods occurred in 2010?").endsWith("2"))
  }

  test("NOAA: 'What was the economic impact of hurricanes in Florida?' (README.md:210)") {
    // the NOAA table is national (no state column) — the reference's
    // agent ignores the state mention, so the engine does too: the
    // answer is Tropical Cyclone cost over all fixture years
    val a = engine.noaaAnswer("What was the economic impact of hurricanes in Florida?")
    assert(a.contains("$344.5 billion"), a)
  }

  test("FEMA: 'What was the IHP total for Texas hurricanes in 2012?' (README.md:57)") {
    val a = engine.femaAnswer("What was the IHP total for Texas hurricanes in 2012?")
    assert(a.contains("$4,200,000.00"), a)
  }

  test("FEMA: 'List tornado incidents in Florida from 2005 to 2010.' (README.md:58)") {
    val a = engine.femaAnswer("List tornado incidents in Florida from 2005 to 2010.")
    assert(a.contains("Florida Tornado"), a)
    assert(!a.contains("Texas"), s"state filter leaked: $a")
  }

  test("ERA5: 'What was the skin temperature in Delhi in April 2022?' (ERA5 README.md:107)") {
    val a = engine.era5Answer("What was the skin temperature in Delhi in April 2022?")
    assert(a.contains("Delhi 2022-04 skin_temperature: 308.9 K"), a)
    assert(!a.contains("2020-04"), s"unrequested year leaked: $a")
  }

  test("ERA5: 'Compare total ozone and wind speed in Mumbai and Karachi.' (ERA5 README.md:108)") {
    // no year → reference default 2020
    val a = engine.era5Answer("Compare total ozone and wind speed in Mumbai and Karachi.")
    assert(a.contains("Mumbai 2020-04 total_ozone"), a)
    assert(a.contains("Mumbai 2020-04 wind_speed"), a)
    assert(a.contains("Karachi 2020-04 total_ozone"), a)
    assert(a.contains("Karachi 2020-04 wind_speed"), a)
  }

  test("ERA5: 'What is the total precipitation in Kathmandu in 2020?' (ERA5 README.md:109)") {
    val a = engine.era5Answer("What is the total precipitation in Kathmandu in 2020?")
    assert(a.contains("Kathmandu 2020-06 total_precipitation"), a)
    assert(a.contains("Kathmandu 2020-07 total_precipitation"), a)
  }

  test("ERA5: 'What is the ozone level in Delhi?' (era5test.py:128)") {
    val a = engine.era5Answer("What is the ozone level in Delhi?")
    assert(a.contains("Delhi 2020-04 total_ozone"), a)
  }

  test("ERA5: 'What is the rainfall?' — metric only, all cities, default year (era5test.py:98)") {
    val a = engine.era5Answer("What is the rainfall?")
    assert(a.contains("Dhaka"), a)
    assert(a.contains("Colombo"), a)
    assert(a.contains("Kathmandu"), a)
  }

  test("EDGAR: 'What were the CO₂ emissions in China in 2018?' — subscript form (README.md:221)") {
    val a = engine.edgarAnswer("What were the CO₂ emissions in China in 2018?")
    assert(a.contains("China 2018: 10717.4 kt"), a)
  }

  test("EDGAR: 'Methane emissions in Brazil from 2015 to 2020.' (README.md:222)") {
    val a = engine.edgarAnswer("Methane emissions in Brazil from 2015 to 2020.")
    assert(a.contains("Brazil 2015: 20554.0 kt"), a)
    assert(a.contains("Brazil 2018: 20783.1 kt"), a)
    assert(a.contains("Brazil 2020: 21002.9 kt"), a)
  }

  test("FEMA: 'What was the IHP total for California earthquakes in 2019?'") {
    val a = engine.femaAnswer("What was the IHP total for California earthquakes in 2019?")
    assert(a.contains("$2,900,000.00"), a)
  }

  test("FEMA: comparison phrase filters the summed metric ('more than $X')") {
    // metric + comparison: sum of the metric over rows passing the
    // threshold — Katrina (5.2e9) is the only ihp_total > 1e9
    val a = engine.femaAnswer("Which hurricanes had more than $1,000,000,000 in ihp total?")
    assert(a.contains("$5,200,000,000.00"), a)
  }

  test("FEMA: 'Show tornado incidents in Texas between 2000 and 2010' lists rows") {
    val a = engine.femaAnswer("Show tornado incidents in Texas between 2000 and 2010")
    assert(a.contains("Texas Tornado"), a)
    assert(!a.contains("Outbreak"), s"2015 row leaked into 2000-2010 range: $a")
  }

  test("FEMA: 'Show all earthquake-related applications after 2010 in California'") {
    val a = engine.femaAnswer("Show all earthquake-related applications after 2010 in California")
    // applications alias → valid_ihp_applications; CA earthquakes after
    // 2010: 2012 (510) + 2019 (2342) = 2852
    assert(a.contains("2852.0"), a)
  }

  test("ERA5: 'What was the wind speed in April 2022?' (no city → all cities)") {
    val a = engine.era5Answer("What was the wind speed in April 2022?")
    assert(a.contains("Karachi 2022-04 wind_speed: 4.9 m/s"), a)
  }

  test("ERA5: 'What was the wind speed in Mumbai in June 2021?'") {
    val a = engine.era5Answer("What was the wind speed in Mumbai in June 2021?")
    assert(a.contains("Mumbai 2021-06 wind_speed: 5.8 m/s"), a)
    assert(!a.contains("2021-07"), s"unrequested month leaked: $a")
  }

  test("ERA5: compare precipitation in Dhaka and Colombo in 2020 (one plan, two cities)") {
    val a = engine.era5Answer("Compare precipitation in Dhaka and Colombo in 2020")
    assert(a.contains("Dhaka"), a)
    assert(a.contains("Colombo"), a)
  }

  test("ERA5: unspecified year defaults to 2020 (reference quirk)") {
    val a = engine.era5Answer("Compare skin temperature and total ozone in Delhi")
    assert(a.contains("2020-04"), a)
    assert(a.contains("total_ozone"), a)
  }

  test("EDGAR: 'What were the CO2 emissions in China in 2018?'") {
    val a = engine.edgarAnswer("What were the CO2 emissions in China in 2018?")
    assert(a.contains("China 2018: 10717.4 kt"), a)
  }

  /** The EDGAR wide fixture serialized as a real .xlsx (inline strings,
    * sequential cells with no r= attributes) — proves the S3 reader feeds
    * the actual ingest pipeline, not just its byte-level fixture. */
  private def writeEdgarXlsx(): String = {
    val f = java.nio.file.Files.createTempDirectory("xlsx_edgar").resolve("edgar.xlsx")
    val wide = Fixtures.edgarWideRaw(spark)
    def cell(v: Any): String = v match {
      case s: String => s"""<c t="inlineStr"><is><t>$s</t></is></c>"""
      case other => s"<c><v>$other</v></c>"
    }
    val rowsXml = (wide.schema.fieldNames.toSeq +: wide.collect().toSeq.map(_.toSeq))
      .map(r => "<row>" + r.map(cell).mkString + "</row>").mkString("\n")
    val zos = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="xml" ContentType="application/xml"/></Types>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
         |$rowsXml
         |</sheetData></worksheet>""".stripMargin)
    zos.close()
    f.toString
  }

  test("EDGAR golden question answered from a raw .xlsx via the S3 reader") {
    val wide = graft.sources.Xlsx.read(spark, writeEdgarXlsx())
    assert(wide.schema.fieldNames.toSeq == Seq("IPCC_annex", "Country_code_A3",
      "Name", "Substance", "Y_2015", "Y_2018", "Y_2020"))
    val long = Unpivot.edgarToLong(
      graft.ingest.Clean.stripPrefix(wide, "Y_"),
      Seq("IPCC_annex", "Country_code_A3", "Name", "Substance"))
      .withColumn("gas", col("Substance"))
    val xlsxEngine = new ClimateEngine(spark, Map(
      "noaa" -> noaaLong, "fema" -> Fixtures.fema(spark),
      "era5" -> Fixtures.era5(spark), "edgar" -> long))
    val a = xlsxEngine.edgarAnswer("What were the CO2 emissions in China in 2018?")
    assert(a.contains("China 2018: 10717.4 kt"), a)
  }

  test("EDGAR: 'Methane emissions in Brazil from 2015 to 2020' covers interior years") {
    val a = engine.edgarAnswer("Methane emissions in Brazil from 2015 to 2020")
    assert(a.contains("Brazil 2015"), a)
    assert(a.contains("Brazil 2018"), a) // interior year of the range
    assert(a.contains("Brazil 2020"), a)
  }

  test("EDGAR: ISO-3 country codes resolve via the code dimension (J2)") {
    val a = engine.edgarAnswer("What were the CO2 emissions in CHN in 2018?")
    assert(a.contains("China 2018: 10717.4 kt"), a)
    val b = engine.edgarAnswer("CO2 for USA in 2015")
    assert(b.contains("United States 2015"), b)
    // divergence pin: the reference's case-insensitive probe would turn
    // the word "are" into ARE (United Arab Emirates); all-caps-only
    // matching keeps common words from becoming countries
    val c = engine.edgarAnswer("What are the CO2 emissions of China in 2018?")
    assert(c.contains("China 2018"), c)
    assert(!c.contains("United Arab Emirates"), c)
    // ...while an explicit all-caps ARE still resolves
    val d = engine.edgarAnswer("CO2 emissions in ARE in 2018")
    assert(d.contains("United Arab Emirates 2018"), d)
  }

  test("EDGAR: boundary directional year filters stay filters, never unfiltered") {
    // "after 2020" (the newest fixture year) must return NO rows — a naive
    // (y+1 to max).toList expansion would be empty and read as "no filter",
    // wrongly returning every year
    val a = engine.edgarAnswer("What were the CO2 emissions in China after 2020?")
    assert(!a.contains("China 20"), s"expected no year rows: $a")
    // strict > excludes the named year itself
    val b = engine.edgarAnswer("What were the CO2 emissions in China after 2015?")
    assert(!b.contains("China 2015"), b)
    assert(b.contains("China 2018") && b.contains("China 2020"), b)
  }

  // ---- execution shape: one job per question -------------------------

  test("every domain question runs as one Spark job of one stage and one task") {
    val eng = new ClimateEngine(spark, Map(
      "noaa" -> noaaLong, "fema" -> Fixtures.fema(spark),
      "era5" -> Fixtures.era5(spark), "edgar" -> edgarLong))
    val asks: Seq[(String, () => String, String)] = Seq(
      ("noaa", () => eng.noaaAnswer("How many droughts occurred in 1980?"),
        "Q: How many droughts occurred in 1980?\n1"),
      ("fema-metric", () => eng.femaAnswer("What was the IHP total for Texas hurricanes in 2012?"),
        "Q: What was the IHP total for Texas hurricanes in 2012?\n$4,200,000.00"),
      ("fema-list", () => eng.femaAnswer("List tornado incidents in Florida from 2005 to 2010."),
        "Q: List tornado incidents in Florida from 2005 to 2010.\n" +
          "year=2007, event=Florida Tornado, state=FL, incident_type=Tornado"),
      ("era5", () => eng.era5Answer("What was the wind speed in Mumbai in June 2021?"),
        "Q: What was the wind speed in Mumbai in June 2021?\n" +
          "Mumbai 2021-06 wind_speed: 5.8 m/s"),
      ("edgar", () => eng.edgarAnswer("Methane emissions in Brazil from 2015 to 2020."),
        "Q: Methane emissions in Brazil from 2015 to 2020.\n" +
          "Brazil 2015: 20554.0 kt\nBrazil 2018: 20783.1 kt\nBrazil 2020: 21002.9 kt"))
    // the first round also runs the engine's one-time dimension collects
    asks.foreach { case (_, ask, want) => assert(ask() == want) }
    val counter = countJobs("one-job:") {
      asks.foreach { case (tag, ask, want) =>
        inJobGroup(s"one-job:$tag")(assert(ask() == want))
      }
    }
    asks.foreach { case (tag, _, _) =>
      val g = s"one-job:$tag"
      assert(counter.jobs.get(g) == 1, s"$tag jobs")
      assert(counter.stages.get(g) == 1, s"$tag stages")
      assert(counter.tasks.get(g) == 1, s"$tag tasks")
    }
  }

  // ---- ingest round-trips --------------------------------------------

  test("noaa unpivot∘pivot = id on the wide fixture") {
    val wide = Fixtures.noaaWide(spark)
    val back = Unpivot.noaaToWide(
      Unpivot.noaaToLong(wide, Domain.noaaTypes), Domain.noaaTypes)
    val keep = back.columns
    val orig = wide.select(keep.map(col): _*).orderBy("Year").collect().toSeq
    assert(back.orderBy("Year").collect().toSeq == orig)
  }

  test("edgar strip-prefix + unpivot yields (year,value) rows") {
    val long = edgarLong
    assert(long.filter(col("Name") === "China" && col("year") === 2020)
      .collect()(0).getAs[Double]("value") == 11030.0)
    assert(long.count() == 12) // 4 rows x 3 years
  }

  test("ERA5 ingest pipeline end-to-end: grid -> bbox -> geocode -> city means") {
    import spark.implicits._
    // flattened NetCDF-like grid: 2 points near Mumbai, 1 near Delhi,
    // 1 outside the bbox, over two months
    val grid = Seq(
      ("2020-06-01", 19.0, 72.8, 301.0), ("2020-06-01", 19.2, 73.0, 303.0),
      ("2020-06-01", 28.6, 77.2, 310.0), ("2020-06-01", 52.5, 13.4, 288.0),
      ("2020-07-01", 19.0, 72.8, 299.0), ("2020-07-01", 19.2, 73.0, 301.0))
      .toDF("date", "latitude", "longitude", "skin_temperature")
    val boxed = graft.ingest.Geo.bboxFilter(grid, 6.5, 37.5, 68.0, 97.5)
    assert(boxed.count() == 5, "Berlin point must fall outside the South-Asia bbox")
    val tagged = graft.ingest.Geo.reverseGeocode(boxed, Fixtures.gazetteer(spark))
    val means = graft.ingest.Geo.cityMonthMeans(tagged, Seq("skin_temperature"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(means(("Mumbai", "2020-06-01")) == 302.0) // (301+303)/2
    assert(means(("Mumbai", "2020-07-01")) == 300.0)
    assert(means(("Delhi", "2020-06-01")) == 310.0)
  }

  test("reverse geocode tags grid points with nearest gazetteer city") {
    import spark.implicits._
    val pts = Seq((19.0, 72.9, 5.0), (28.6, 77.2, 7.0)).toDF("latitude", "longitude", "v")
    val got = graft.ingest.Geo.reverseGeocode(pts, Fixtures.gazetteer(spark))
      .select("City").collect().map(_.getString(0)).toSet
    assert(got == Set("Mumbai", "Delhi"))
  }

  test("FEMA: relative date phrase 'last year' resolves against the engine clock") {
    val eng2016 = new ClimateEngine(spark, Map(
      "noaa" -> noaaLong, "fema" -> Fixtures.fema(spark),
      "era5" -> Fixtures.era5(spark), "edgar" -> edgarLong),
      today = java.time.LocalDate.of(2016, 3, 15))
    val a = eng2016.femaAnswer("Show tornado incidents in Texas last year")
    assert(a.contains("Texas Tornado Outbreak"), a) // the 2015 row
    assert(!a.contains("2004"), s"2004 tornado must be excluded by last-year filter: $a")
  }

  test("extractYearNlp: relative phrase subset with a fixed clock") {
    import graft.nlp.Parsers._
    val aug2026 = java.time.LocalDate.of(2026, 8, 12)
    val jan2026 = java.time.LocalDate.of(2026, 1, 10)
    assert(extractYearNlp("floods last year", aug2026) == Some(2025))
    assert(extractYearNlp("storms this year", aug2026) == Some(2026))
    assert(extractYearNlp("fires two years ago", aug2026) == Some(2024))
    assert(extractYearNlp("fires 3 years ago", aug2026) == Some(2023))
    // most recently completed season: summer hasn't ended in Jan
    assert(extractYearNlp("droughts last summer", jan2026) == Some(2025))
    assert(extractYearNlp("droughts last summer", java.time.LocalDate.of(2026, 11, 2)) == Some(2026))
    assert(extractYearNlp("storms last winter", aug2026) == Some(2026)) // Jan-Feb 2026
    // explicit year wins over a relative phrase
    assert(extractYearNlp("hurricanes in 2005, not last year", aug2026) == Some(2005))
    assert(extractYearNlp("no date at all", aug2026) == None)
  }

  test("ERA5: golden relative-month question resolves against the engine clock") {
    val eng = new ClimateEngine(spark, Map(
      "noaa" -> noaaLong, "fema" -> Fixtures.fema(spark),
      "era5" -> Fixtures.era5(spark), "edgar" -> edgarLong),
      today = java.time.LocalDate.of(2021, 8, 15))
    val a = eng.era5Answer("What was the wind speed in Mumbai last month?")
    assert(a.contains("Mumbai 2021-07 wind_speed"), a) // the 6.2 July row
    assert(!a.contains("2021-06"), s"June rows must be excluded by the month filter: $a")
  }

  test("ERA5 geocoder fallback: off-dimension alias resolves via the stub") {
    // "Bombay" is neither exact nor fuzzy-close (difflib 0.8) to any
    // dimension city; the FixtureGeocoder stands in for the reference's
    // Nominatim step and normalizes the alias to Mumbai
    val withGeo = new ClimateEngine(spark, Map(
      "noaa" -> noaaLong, "fema" -> Fixtures.fema(spark),
      "era5" -> Fixtures.era5(spark), "edgar" -> edgarLong),
      geocoder = new graft.engine.FixtureGeocoder(Map("dacca" -> "Dhaka")))
    val q = "How much rainfall in Dacca in June 2020?"
    val a = withGeo.era5Answer(q)
    assert(a.contains("Dhaka 2020-06 total_precipitation"), a)
    assert(!a.contains("Colombo"), s"stub-resolved city must filter others: $a")
    // default NullGeocoder: candidate stays unresolved -> city-unfiltered
    // (the reference's behavior when every candidate fails validation),
    // so Colombo's 2020-06 precipitation row shows up too
    val b = engine.era5Answer(q)
    assert(b.contains("Dhaka") && b.contains("Colombo"), b)
  }

  test("NOAA answers pass through the rewrite second stage") {
    // recording client: proves the draft from answer() feeds rewrite()
    // (the reference's improved_answer lifecycle)
    val recorder = new graft.answer.LlmClient {
      var lastDraft: String = _
      def answer(question: String, context: String): String = s"draft:$context"
      override def rewrite(question: String, draft: String): String = {
        lastDraft = draft; s"polished:$draft"
      }
    }
    val eng = new ClimateEngine(spark, Map(
      "noaa" -> noaaLong, "fema" -> Fixtures.fema(spark),
      "era5" -> Fixtures.era5(spark), "edgar" -> edgarLong), llm = recorder)
    val a = eng.noaaAnswer("How many droughts occurred in 1980?")
    assert(a.startsWith("polished:draft:"), a)
    assert(recorder.lastDraft.startsWith("draft:"))
    // EchoLlm's rewrite is the identity, so existing answers are unchanged
    assert(engine.noaaAnswer("How many droughts occurred in 1980?").endsWith("1"))
  }

  test("bucketed reverse geocode agrees with the literal path on the fixture") {
    import spark.implicits._
    val pts = Seq((19.0, 72.9, 5.0), (28.6, 77.2, 7.0), (6.95, 79.9, 1.0))
      .toDF("latitude", "longitude", "v")
    val gaz = Fixtures.gazetteer(spark)
    val lit = graft.ingest.Geo.reverseGeocode(pts, gaz)
      .select("latitude", "City", "Country").collect().map(_.toSeq).toSet
    val buck = graft.ingest.Geo.reverseGeocodeBucketed(pts, gaz, cellDeg = 5.0)
      .select("latitude", "City", "Country").collect().map(_.toSeq).toSet
    assert(buck == lit)
  }

  test("reverseGeocodeAuto dispatches on gazetteer size") {
    import spark.implicits._
    val pts = Seq((19.0, 72.9)).toDF("latitude", "longitude")
    // small gazetteer -> literal path: a join-free plan (the least() fold
    // constant-folds away over this local relation, so test for the
    // absence of the bucketed path's join rather than the function name)
    val small = graft.ingest.Geo.reverseGeocodeAuto(pts, Fixtures.gazetteer(spark))
    assert(!small.queryExecution.executedPlan.toString.contains("Join"),
      "expected the join-free literal plan for a small gazetteer")
    assert(small.select("City").collect()(0).getString(0) == "Mumbai")
    // >LiteralPathMax rows -> bucketed path: a join appears instead
    // fixed longitude so the probe point's 3x3 cell ring holds candidates
    val big = (0 to graft.ingest.Geo.LiteralPathMax)
      .map(i => (s"c$i", "X", 10.0 + i * 0.01, 72.5))
      .toDF("city", "country", "lat", "lon")
    val bucketed = graft.ingest.Geo.reverseGeocodeAuto(pts, big)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("Join"), s"expected the bucketed join plan:\n${plan.take(400)}")
    assert(bucketed.select("City").collect()(0).getString(0).startsWith("c"),
      "bucketed path must still answer")
  }

  test("bucketed reverse geocode: 10^5-row gazetteer plans and answers exactly") {
    import spark.implicits._
    // ~100k synthetic cities on a 0.5 deg x 0.72 deg grid: dense enough
    // that every point's nearest city sits inside its 1 deg 3x3 cell ring,
    // so the bucketed result must equal brute-force nearest
    val lats = (0 until 200).map(i => -49.75 + i * 0.5)
    val lons = (0 until 500).map(j => -179.64 + j * 0.72)
    val cities = for { (la, i) <- lats.zipWithIndex; (lo, j) <- lons.zipWithIndex }
      yield (s"c${i}_$j", "X", la, lo)
    val gaz = cities.toDF("city", "country", "lat", "lon")
    // deterministic pseudo-random points incl. an antimeridian neighbor
    val pts = (0 until 40).map { k =>
      (((k * 37) % 98) - 49 + 0.21 * (k % 5), ((k * 73) % 359) - 179.5 + 0.13 * (k % 7))
    } :+ (0.1, 179.9)
    val ptsDf = pts.toDF("latitude", "longitude")
    val got = graft.ingest.Geo.reverseGeocodeBucketed(ptsDf, gaz, cellDeg = 1.0)
    // plan audit: broadcast hash join, never a cartesian product, and the
    // plan is O(1) in gazetteer size (no per-city expression nodes)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(500))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    val res = got.select("latitude", "longitude", "City").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getString(2)).toMap
    def hv(a: Double, b: Double, c: Double, d: Double): Double = {
      val (dLat, dLon) = (math.toRadians(c - a), math.toRadians(d - b))
      val x = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(a)) * math.cos(math.toRadians(c)) * math.pow(math.sin(dLon / 2), 2)
      6371.0 * 2.0 * math.asin(math.sqrt(x))
    }
    pts.foreach { case (pla, plo) =>
      val expected = cities.minBy { case (name, _, la, lo) => (hv(pla, plo, la, lo), name) }._1
      assert(res((pla, plo)) == expected, s"point ($pla, $plo)")
    }
  }
}
