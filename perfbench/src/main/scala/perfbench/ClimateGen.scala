package perfbench

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{element_at, expr, lit, round, typedLit}
import org.apache.spark.sql.types._

import graft.model.Domain

/** A question for the NL engine, with the answer text the engine must
  * return (computed here in plain Scala from the generated rows). */
final case class Question(domain: String, text: String, expected: String)

final case class City(name: String, country: String, lat: Double, lon: Double)

final case class FemaRow(year: Int, event: String, incidentNumber: Int,
                         start: String, end: String, state: String,
                         incidentType: String, valid: Double, eligible: Double,
                         ihp: Double, pa: Double, cdbg: Double, paProjects: Double)

/** The four climate tables at reference shapes, generated from a seed:
  *  - NOAA: 45 years × 7 disaster types, long form;
  *  - FEMA: 1,235 rows;
  *  - EDGAR: 210 countries × 4 gases × 54 years, long form;
  *  - ERA5: 60 cities × 13 metrics × 540 months (421,200 rows).
  * Every value is exactly representable in the form the engine prints, so
  * the reference answers match the engine's text byte for byte. */
final class ClimateGen(val seed: Long) extends Serializable {
  import ClimateGen._

  val cities: Vector[City] = {
    val r = Rng.stream(seed, 1)
    val names = uniqueNames(r, FixedCities.map(_._1), Cities - FixedCities.size, 3)
    val fixed = FixedCities.map { case (n, c) => n -> Era5Countries(c) }
    val generated = names.map(n => n -> Era5Countries(r.nextInt(Era5Countries.size)))
    (fixed ++ generated).map { case (n, c) =>
      City(n, c, round4(5 + 30 * r.nextDouble()), round4(60 + 35 * r.nextDouble()))
    }.toVector
  }

  /** (ISO-3 code, name) per country. */
  val countries: Vector[(String, String)] = {
    val r = Rng.stream(seed, 2)
    val names = uniqueNames(r, FixedCountries.map(_._2), 210 - FixedCountries.size, 3)
    val codes = scala.collection.mutable.LinkedHashSet(FixedCountries.map(_._1): _*)
    val out = Vector.newBuilder[(String, String)]
    out ++= FixedCountries
    names.foreach { n =>
      // a code holding a metric alias ("HFC") would add that gas
      var code = ""
      while (code.isEmpty || codes.contains(code) || Forbidden.exists(code.toLowerCase.contains))
        code = (0 until 3).map(_ => ('A' + r.nextInt(26)).toChar).mkString
      codes += code
      out += code -> n
    }
    out.result()
  }

  private val countryScale: Vector[Double] = {
    val r = Rng.stream(seed, 3)
    countries.map(_ => 10 + 100000 * math.pow(r.nextDouble(), 3))
  }

  /** (Year, disaster_type, count, cost in $ billions). */
  val noaa: Vector[(Int, String, Int, Double)] = {
    val r = Rng.stream(seed, 4)
    for (y <- NoaaYears.toVector; t <- Domain.noaaTypes) yield {
      val n = r.nextInt(6)
      (y, t, n, if (n == 0) 0.0 else (1 + r.nextInt(400)) / 10.0)
    }
  }

  val fema: Vector[FemaRow] = {
    val r = Rng.stream(seed, 5)
    val states = graft.nlp.Parsers.UsStates.values.toVector.sorted
    (0 until FemaRows).map { i =>
      val y = FemaYears.start + r.nextInt(FemaYears.size)
      val st = states(r.nextInt(states.size))
      val ty = FemaTypes(r.nextInt(FemaTypes.size))._1
      val m = 1 + r.nextInt(12)
      val d = 1 + r.nextInt(28)
      val no = 1000 + i
      def whole(hi: Double) = math.floor(r.nextDouble() * hi)
      FemaRow(y, s"$ty $st $no", no, s"$m/$d/$y", s"$m/${math.min(28, d + 3)}/$y",
        st, ty, whole(40000), whole(30000), whole(5e7), whole(8e7),
        whole(2e8), whole(900))
    }.toVector
  }

  def edgarValue(ci: Int, gi: Int, year: Int): Double =
    round3(countryScale(ci) * GasFactor(gi) * (1 + 0.02 * (year - EdgarYears.start)) *
      (0.9 + 0.2 * Rng.unit(seed, 6, (ci.toLong * 4 + gi) * 100 + year)))

  /** ERA5 value of city `ci`, metric `mi`, month `t`: the same arithmetic,
    * in the same order, as the Spark column that [[write]] evaluates, so
    * the two agree bit for bit. */
  def era5Value(ci: Int, mi: Int, t: Int): Double = {
    val i = (ci.toLong * Era5Metrics.size + mi) * Era5Months + t
    val u = (XXH64.hashLong(seed, XXH64.hashLong(i, 42L)) >>> 11) / 9007199254740992.0
    val (base, amp) = Era5Scale(mi)
    roundHalfUp(base * (1.0 + amp * Season((t + ci) % 12) + 0.1 * (u - 0.5)), 4)
  }

  private def era5Value(ci: Column, mi: Column, t: Column): Column = {
    val u = expr(s"shiftrightunsigned(xxhash64(id, ${seed}L), 11)") / lit(9007199254740992.0)
    val base = element_at(typedLit(Era5Scale.map(_._1)), mi + 1)
    val amp = element_at(typedLit(Era5Scale.map(_._2)), mi + 1)
    val season = element_at(typedLit(Season), ((t + ci) % 12) + 1)
    round(base * (lit(1.0) + amp * season + lit(0.1) * (u - lit(0.5))), 4)
  }

  def era5Rows: Long = cities.size.toLong * Era5Metrics.size * Era5Months

  /** Writes the four tables as parquet under `dir` (noaa, fema, edgar, era5). */
  def write(spark: SparkSession, dir: String, slices: Int): Unit = {
    def save(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name")
    save(noaa.map { case (y, t, n, c) => Row(y, t, n, c) }, Domain.noaaLong, "noaa")
    save(fema.map(f => Row(f.year, f.event, f.incidentNumber, f.start, f.end,
      f.state, f.incidentType, f.valid, f.eligible, f.ihp, f.pa, f.cdbg,
      f.paProjects)), Domain.fema, "fema")
    val edgar = for {
      (ci, (code, name)) <- countries.indices.zip(countries)
      gi <- Gases.indices
      y <- EdgarYears
    } yield Row(Gases(gi), if (ci % 3 == 0) "Annex_I" else "Non-Annex_I", code, name,
      Gases(gi), y, edgarValue(ci, gi, y))
    save(edgar, Domain.edgarLong, "edgar")
    val m = Era5Metrics.size
    val t = (expr("id") % Era5Months).cast(IntegerType)
    val mi = (expr(s"id div $Era5Months") % m).cast(IntegerType)
    val ci = expr(s"id div ${Era5Months * m}").cast(IntegerType)
    def pick[A: scala.reflect.runtime.universe.TypeTag](xs: Seq[A], k: Column) =
      element_at(typedLit(xs), k + 1)
    spark.range(0, era5Rows, 1, slices).select(
      pick(cities.map(_.country), ci).as("country"), pick(cities.map(_.name), ci).as("City"),
      pick(Era5Dates, t).as("date"), pick(cities.map(_.lat), ci).as("latitude"),
      pick(cities.map(_.lon), ci).as("longitude"), pick(Era5Metrics, mi).as("metric"),
      era5Value(ci, mi, t).as("value"))
      .write.mode("overwrite").parquet(s"$dir/era5")
  }

  // ---- questions ------------------------------------------------------

  /** The question list of one pass: `perDomain` questions per domain,
    * interleaved in a seeded order. Pass k draws fresh slot values, so no
    * two passes ask the same list. */
  def questions(pass: Int, perDomain: Int): Vector[Question] = {
    val r = Rng.stream(seed, 1000L + pass)
    val qs = (0 until perDomain).flatMap { k =>
      Seq(noaaQuestion(r, k), femaQuestion(r, k), era5Question(r, k), edgarQuestion(r, k))
    }
    Rng.shuffle(qs, r)
  }

  private def answer(q: String, body: String) = graft.answer.EchoLlm.answer(q, body)

  private def noaaQuestion(r: java.util.SplittableRandom, k: Int): Question = {
    def pickType() = NoaaWords(r.nextInt(NoaaWords.size))
    def count(pred: ((Int, String, Int, Double)) => Boolean) = noaa.filter(pred).map(_._3).sum
    def cost(pred: ((Int, String, Int, Double)) => Boolean) = noaa.filter(pred).map(_._4).sum
    val y = NoaaYears.start + r.nextInt(NoaaYears.size)
    val (q, body) = k % 4 match {
      case 0 =>
        val (w, t) = pickType()
        (s"How many $w occurred in $y?", count(x => x._1 == y && x._2 == t).toString)
      case 1 =>
        (s"What was the total disaster cost in $y?",
          graft.answer.Format.billions(cost(_._1 == y)))
      case 2 =>
        val (w1, t1) = pickType()
        var (w2, t2) = pickType()
        while (t2 == t1) { val p = pickType(); w2 = p._1; t2 = p._2 }
        val b = math.min(NoaaYears.end, y + 1 + r.nextInt(8))
        val body = Seq(t1, t2).sorted.map { t =>
          s"$t: " + graft.answer.Format.billions(cost(x => x._2 == t && x._1 >= y && x._1 <= b))
        }.mkString("\n")
        (s"Compare the $w1 and $w2 cost between $y-$b", body)
      case _ =>
        val (w, t) = pickType()
        val b = math.min(NoaaYears.end, y + 1 + r.nextInt(10))
        (s"How many $w occurred between $y and $b?",
          count(x => x._2 == t && x._1 >= y && x._1 <= b).toString)
    }
    Question("noaa", q, answer(q, body))
  }

  private def femaQuestion(r: java.util.SplittableRandom, k: Int): Question = {
    val row = fema(r.nextInt(fema.size))
    val stateName = StateNames(row.state)
    val plural = FemaTypes.find(_._1 == row.incidentType).get._2
    val (phrase, metric) = FemaMetrics(r.nextInt(FemaMetrics.size))
    def total(pred: FemaRow => Boolean): Double = fema.filter(pred).map(metric).sum
    def render(v: Double) =
      if (phrase == "valid applications" || phrase == "pa projects") v.toString
      else graft.answer.Format.dollars(v)
    val sameKind = (f: FemaRow) => f.state == row.state && f.incidentType == row.incidentType
    val (q, body) = k % 4 match {
      case 0 =>
        (s"What was the $phrase for $stateName $plural in ${row.year}?",
          render(total(f => sameKind(f) && f.year == row.year)))
      case 1 =>
        val a = row.year - r.nextInt(4)
        val b = row.year + r.nextInt(4)
        val hits = fema.filter(f => sameKind(f) && f.year >= a && f.year <= b)
          .sortBy(f => (f.year, f.event)).take(25)
        (s"Show ${row.incidentType.toLowerCase} incidents in $stateName between $a and $b",
          hits.map(f => s"year=${f.year}, event=${f.event}, state=${f.state}, " +
            s"incident_type=${f.incidentType}").mkString("\n"))
      case 2 =>
        val n = (1 + r.nextInt(4)) * 10000000L
        val shown = java.text.NumberFormat.getIntegerInstance(java.util.Locale.US).format(n)
        (s"Which $plural had more than $$$shown in ihp total?",
          graft.answer.Format.dollars(fema.filter(f =>
            f.incidentType == row.incidentType && f.ihp > n).map(_.ihp).sum))
      case _ =>
        (s"What was the $phrase for $stateName $plural since ${row.year}?",
          render(total(f => sameKind(f) && f.year >= row.year)))
    }
    Question("fema", q, answer(q, body))
  }

  private def era5Question(r: java.util.SplittableRandom, k: Int): Question = {
    def metric() = r.nextInt(Era5Phrases.size)
    def line(ci: Int, mi: Int, t: Int): (String, String, String, String) = {
      val m = Era5Phrases(mi)._2
      val v = era5Value(ci, Era5Metrics.indexOf(m), t)
      (cities(ci).name, m, f"${Era5Start + t / 12}-${t % 12 + 1}%02d",
        graft.answer.Format.withUnit(m, v))
    }
    def body(ls: Seq[(String, String, String, String)]) =
      ls.sortBy(l => (l._1, l._2, l._3)).map(l => s"${l._1} ${l._3} ${l._2}: ${l._4}").mkString("\n")
    val yi = r.nextInt(Era5Months / 12)
    val y = Era5Start + yi
    val (q, b) = k % 4 match {
      case 0 =>
        val (ci, mi, mo) = (r.nextInt(cities.size), metric(), r.nextInt(12))
        (s"What was the ${Era5Phrases(mi)._1} in ${cities(ci).name} in ${MonthNames(mo)} $y?",
          body(Seq(line(ci, mi, yi * 12 + mo))))
      case 1 =>
        val c1 = r.nextInt(cities.size)
        var c2 = r.nextInt(cities.size)
        while (c2 == c1) c2 = r.nextInt(cities.size)
        val m1 = metric()
        var m2 = metric()
        while (m2 == m1) m2 = metric()
        (s"Compare ${Era5Phrases(m1)._1} and ${Era5Phrases(m2)._1} in " +
          s"${cities(c1).name} and ${cities(c2).name} in $y",
          body(for (c <- Seq(c1, c2); m <- Seq(m1, m2); mo <- 0 until 12)
            yield line(c, m, yi * 12 + mo)))
      case 2 =>
        // one misspelled city per round of four, so fuzzyResolve does real work
        val names = cities.map(_.name)
        val long = Rng.shuffle(cities.indices.filter(i => names(i).length >= 7), r)
        val (ci, wrong) = long.view.flatMap(i => misspell(names(i), names, r).map(i -> _)).head
        val (mi, mo) = (metric(), r.nextInt(12))
        (s"What was the ${Era5Phrases(mi)._1} in $wrong in " +
          s"${MonthNames(mo)} $y?", body(Seq(line(ci, mi, yi * 12 + mo))))
      case _ =>
        // no year and no month: the reference's defaults, 2020 and all months
        val (ci, mi) = (r.nextInt(cities.size), metric())
        (s"What is the ${Era5Phrases(mi)._1} in ${cities(ci).name}?",
          body((0 until 12).map(mo => line(ci, mi, (2020 - Era5Start) * 12 + mo))))
    }
    Question("era5", q, answer(q, b))
  }

  private def edgarQuestion(r: java.util.SplittableRandom, k: Int): Question = {
    val ci = r.nextInt(countries.size)
    val (code, name) = countries(ci)
    val (phrase, gi) = GasPhrases(r.nextInt(GasPhrases.size))
    val y = EdgarYears.start + r.nextInt(EdgarYears.size)
    def body(years: Seq[Int]) =
      years.map(yy => s"$name $yy: ${edgarValue(ci, gi, yy)} kt").mkString("\n")
    val (q, b) = k % 4 match {
      case 0 => (s"What were the $phrase emissions in $name in $y?", body(Seq(y)))
      case 1 =>
        val to = math.min(EdgarYears.end, y + r.nextInt(6))
        (s"${phrase.capitalize} emissions in $name from $y to $to.", body(y to to))
      case 2 => (s"What were the $phrase emissions in $code in $y?", body(Seq(y)))
      case _ =>
        val from = math.max(EdgarYears.start, EdgarYears.end - 1 - r.nextInt(8))
        (s"What were the $phrase emissions in $name after $from?",
          body(from + 1 to EdgarYears.end))
    }
    Question("edgar", q, answer(q, b))
  }
}

object ClimateGen {
  val NoaaYears: Range = 1980 to 2024
  val FemaYears: Range = 1998 to 2023
  val FemaRows = 1235
  val EdgarYears: Range = 1970 to 2023
  val Cities = 60
  val Era5Start = 1979
  val Era5Months: Int = 45 * 12
  private val Era5Dates: Vector[String] =
    Vector.tabulate(Era5Months)(t => f"${Era5Start + t / 12}-${t % 12 + 1}%02d-01")
  val Era5Metrics: Vector[String] = Domain.metricRegistry("era5").map(_._1).toVector
  val Gases: Vector[String] = Vector("CO2", "CH4", "N2O", "F-gas")
  private val GasFactor = Vector(1.0, 0.08, 0.01, 0.003)

  private val Era5Countries = Vector("India", "Pakistan", "Bangladesh", "Nepal",
    "Sri Lanka", "Bhutan", "Maldives", "Afghanistan", "Myanmar", "Iran", "China",
    "Thailand", "Vietnam", "Indonesia")
  private val FixedCities = Vector("Mumbai" -> 0, "Delhi" -> 0, "Karachi" -> 1,
    "Dhaka" -> 2, "Kathmandu" -> 3, "Colombo" -> 4, "Lahore" -> 1, "Chennai" -> 0,
    "Kolkata" -> 0, "Chittagong" -> 2)
  // single-word names of at least five letters: a shorter name sits within
  // the 0.85 fuzzy cutoff of its own ISO code ("PER" vs "Peru")
  private val FixedCountries = Vector("CHN" -> "China", "BRA" -> "Brazil",
    "IND" -> "India", "JPN" -> "Japan", "DEU" -> "Germany", "FRA" -> "France",
    "CAN" -> "Canada", "MEX" -> "Mexico", "RUS" -> "Russia", "IDN" -> "Indonesia",
    "NGA" -> "Nigeria", "PAK" -> "Pakistan", "ARG" -> "Argentina", "EGY" -> "Egypt",
    "TUR" -> "Turkey", "ITA" -> "Italy", "ESP" -> "Spain", "KEN" -> "Kenya",
    "CHL" -> "Chile", "AUS" -> "Australia")

  private val Era5Scale: Vector[(Double, Double)] = Vector(
    (290.0, 0.05), (0.3, 0.1), (4.0, 0.3), (95000.0, 0.01), (0.4, 0.2),
    (150.0, 0.3), (0.5, 0.8), (60.0, 0.2), (3.0, 0.6), (1.2, 0.5),
    (2.5, 0.4), (0.8, 0.5), (3.5, 0.6))

  /** Phrases that select exactly one metric under the engine's substring
    * rule, paired with that metric. */
  private val Era5Phrases = Vector("skin temperature" -> "skin_temperature",
    "total ozone" -> "total_ozone", "wind speed" -> "wind_speed",
    "surface pressure" -> "surface_pressure", "vegetation cover" -> "high_vegetation_cover",
    "uv radiation" -> "uv_radiation", "snowfall" -> "snowfall",
    "thermal radiation" -> "net_thermal_radiation",
    "total precipitation" -> "total_precipitation", "evaporation" -> "mean_evaporation_rate",
    "moisture divergence" -> "mean_moisture_divergence")

  private val GasPhrases = Vector("CO2" -> 0, "carbon dioxide" -> 0, "methane" -> 1,
    "CH4" -> 1, "nitrous oxide" -> 2)

  private val NoaaWords = Vector("droughts" -> "Drought", "floods" -> "Flooding",
    "freezes" -> "Freeze", "severe storms" -> "Severe Storm",
    "hurricanes" -> "Tropical Cyclone", "wildfires" -> "Wildfire",
    "winter storms" -> "Winter Storm")

  /** FEMA incident types whose plural names select exactly that type. */
  private val FemaTypes = Vector("Hurricane" -> "hurricanes", "Tornado" -> "tornadoes",
    "Flood" -> "floods", "Earthquake" -> "earthquakes", "Fire" -> "fires",
    "Snowstorm" -> "snowstorms")

  private val FemaMetrics: Vector[(String, FemaRow => Double)] = Vector(
    "ihp total" -> (_.ihp), "public assistance" -> (_.pa), "cdbg" -> (_.cdbg),
    "valid applications" -> (_.valid), "pa projects" -> (_.paProjects))

  private val StateNames: Map[String, String] = graft.nlp.Parsers.UsStates.map {
    case (name, abbr) => abbr -> name.split(" ").map(_.capitalize).mkString(" ") }

  private val MonthNames = Vector("January", "February", "March", "April", "May",
    "June", "July", "August", "September", "October", "November", "December")

  private val Syllables = Vector("ka", "ra", "ban", "dor", "mi", "lo", "zan", "tu",
    "pel", "sha", "go", "vi", "nar", "ke", "bu", "ros", "tal", "qui", "fen", "ja",
    "ul", "ad", "mok", "rin", "es", "po", "yo", "hal", "dri", "zu", "bek", "tor")

  /** Substrings a generated name or ISO code must not contain: a metric
    * alias or a month name inside one would change what the parser
    * extracts. */
  private val Forbidden: Seq[String] =
    Domain.metrics.flatMap(m => m.name.toLowerCase +: m.aliases.map(_.toLowerCase)) ++
      MonthNames.map(_.toLowerCase)

  /** Words of the ERA5 and EDGAR question templates. The engine resolves
    * every word of a question against the names, at a fuzzy cutoff of 0.8
    * (cities) or 0.85 (countries), so a name that close to one of them
    * would also be read from it ("total" as the city "Tulotal"); names
    * keep a margin below 0.75 to each. */
  private val TemplateWords: Seq[String] =
    (Seq("what", "was", "were", "is", "the", "in", "compare", "and", "emissions", "from",
      "to", "after") ++ Era5Phrases.map(_._1) ++ GasPhrases.map(_._1) ++ MonthNames)
      .flatMap(_.toLowerCase.split(" ")).distinct

  private def uniqueNames(r: java.util.SplittableRandom, taken: Seq[String], n: Int,
                          syllables: Int): Vector[String] = {
    val seen = scala.collection.mutable.Set(taken.map(_.toLowerCase): _*)
    val out = Vector.newBuilder[String]
    var made = 0
    while (made < n) {
      val name = (0 until syllables).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
      if (!seen(name) && !Forbidden.exists(name.contains) &&
          TemplateWords.forall(w => graft.nlp.Similarity.ratio(name, w) < 0.75)) {
        seen += name
        out += name.capitalize
        made += 1
      }
    }
    out.result()
  }

  /** Swaps two adjacent, distinct interior letters, so that the result is
    * neither another name nor holds a forbidden substring, and its closest
    * name by difflib ratio is the original alone (a tie would resolve by
    * dimension order, to another city). */
  def misspell(name: String, others: Seq[String], r: java.util.SplittableRandom): Option[String] = {
    def swap(j: Int) = name.substring(0, j) + name(j + 1) + name(j) + name.substring(j + 2)
    def ratio(a: String, b: String) = graft.nlp.Similarity.ratio(a.toLowerCase, b.toLowerCase)
    val spots = (1 until name.length - 2).filter { j =>
      val s = swap(j)
      val own = ratio(s, name)
      name(j) != name(j + 1) && !Forbidden.exists(s.toLowerCase.contains) &&
        others.forall(o => o == name || ratio(s, o) < own)
    }
    if (spots.isEmpty) None else Some(swap(spots(r.nextInt(spots.size))))
  }

  def round3(x: Double): Double = roundHalfUp(x, 3)
  def round4(x: Double): Double = roundHalfUp(x, 4)

  /** Spark's `round` on a double: HALF_UP on the value's decimal string. */
  def roundHalfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** Seasonal factor per month of the year. */
  private val Season: Vector[Double] = Vector.tabulate(12)(k => math.sin(2 * math.Pi * k / 12))
}
