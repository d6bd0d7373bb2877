package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.answer.{EchoLlm, Format, LlmClient}
import graft.model.Domain
import graft.nlp.Parsers
import graft.query._

/** End-to-end NL→answer pipeline over the four climate domains — the
  * single-engine replacement for the reference's four client/server
  * pairs (SURVEY §3 lifecycle mapping: question → QuerySpec → Catalyst
  * plan → rows → formatted answer → LLM seam).
  *
  * Tables are long-format DataFrames registered by name ("noaa", "fema",
  * "era5", "edgar"); routing that the reference does with table/DB
  * fan-out (`era5client.py:247-263`, `EDGARclient.py:216-217`) is plain
  * filtering here, and the per-entity query fan-out collapses into one
  * plan with `isin` + groupBy (SURVEY J1).
  */
class ClimateEngine(spark: SparkSession, tables: Map[String, DataFrame],
                    llm: LlmClient = EchoLlm,
                    geocoder: Geocoder = NullGeocoder,
                    today: java.time.LocalDate = java.time.LocalDate.now()) {

  /** The registered tables as the engine plans them: each small one as a
    * single partition (see [[ClimateEngine.singlePartitionIfSmall]]), so
    * every question over it runs as one job of one task. */
  private val planned: Map[String, DataFrame] =
    tables.map { case (name, df) => name -> ClimateEngine.singlePartitionIfSmall(df) }

  private def resolve(name: String): DataFrame =
    planned.getOrElse(name, sys.error(s"unregistered table '$name'"))

  /** NOAA: "How many droughts occurred in 1980?" / "What was the total
    * disaster cost in 1983?" — long-form filter + sum. */
  def noaaAnswer(question: String): String = {
    val types = Parsers.noaaDisasterTypes(question)
    val yearFilter = Parsers.extractYearFilter(question)
    // "economic impact" is the README's phrasing for the cost metric
    // (reference README.md:210 "What was the economic impact of
    // hurricanes in Florida?" — the NOAA table is national, so the state
    // mention is ignored there exactly as it is here)
    val lower = question.toLowerCase
    val wantCost = lower.contains("cost") || lower.contains("economic impact")
    val metricCol = if (wantCost) "cost" else "count"
    val preds = Seq.newBuilder[Predicate]
    if (types.nonEmpty) preds += Predicate.In("disaster_type", types)
    yearFilter.foreach {
      case Parsers.YearEq(y) => preds += Predicate.Eq("Year", y)
      case Parsers.YearRange(a, b) => preds += Predicate.Between("Year", a, b)
      case Parsers.YearCmp(op, y) => preds += Predicate.Cmp("Year", op, y)
    }
    val spec = QuerySpec("noaa", where = preds.result(),
      groupBy = if (types.size > 1) Seq("disaster_type") else Nil,
      aggregations = Seq(Aggregation(AggFn.Sum, metricCol, "total")),
      orderBy = if (types.size > 1) Seq(Sort("disaster_type")) else Nil)
    val rows = SpecCompiler.compile(spec, resolve).collect()
    val body = rows.map { r =>
      val v = Option(r.get(r.length - 1)).fold(0.0)(_.toString.toDouble)
      val prefix = if (types.size > 1) s"${r.getString(0)}: " else ""
      prefix + (if (wantCost) Format.billions(v) else v.toInt.toString)
    }.mkString("\n")
    // NOAA's two-stage lifecycle: draft from rows, then a readability
    // rewrite pass (`new_disaster_c.py:93-127` improved_answer)
    llm.rewrite(question, llm.answer(question, body))
  }

  /** FEMA: metric questions ("What was the IHP total for California
    * earthquakes in 2019?") and filter questions ("Show tornado
    * incidents in Texas between 2000 and 2010"). */
  def femaAnswer(question: String): String = {
    val metric = Parsers.detectMetrics(question, Domain.metricRegistry("fema")).headOption
    val preds = Seq.newBuilder[Predicate]
    Parsers.extractState(question).foreach(s => preds += Predicate.Eq("state", s))
    Parsers.extractIncidentType(question).foreach(t => preds += Predicate.Eq("incident_type", t))
    // range/directional phrases first; a relative phrase ("last year",
    // "two years ago", "last summer") resolves against the engine clock —
    // the reference's spaCy-DATE + dateparser path
    Parsers.extractYearFilter(question)
      .orElse(Parsers.extractYearNlp(question, today).map(Parsers.YearEq))
      .foreach {
        case Parsers.YearEq(y) => preds += Predicate.Eq("year", y)
        case Parsers.YearRange(a, b) => preds += Predicate.Between("year", a, b)
        case Parsers.YearCmp(op, y) => preds += Predicate.Cmp("year", op, y)
      }
    metric.foreach { m =>
      Parsers.extractComparison(question, m).foreach(f =>
        preds += Predicate.Cmp(f.column, f.op, f.value))
    }
    val spec = metric match {
      case Some(m) =>
        QuerySpec("fema", where = preds.result(),
          aggregations = Seq(Aggregation(AggFn.Sum, m, "total")))
      case None =>
        QuerySpec("fema", where = preds.result(),
          select = Seq("year", "event", "state", "incident_type"),
          orderBy = Seq(Sort("year"), Sort("event")), limit = Some(25))
    }
    val df = SpecCompiler.compile(spec, resolve)
    val body = metric match {
      case Some(m) =>
        val v = Option(df.collect()(0).get(0)).fold(0.0)(_.toString.toDouble)
        if (Domain.unitOf(m) == "$") Format.dollars(v) else v.toString
      case None => Format.renderRows(df.collect().toIndexedSeq)
    }
    llm.answer(question, body)
  }

  /** ERA5: "What was the wind speed in Mumbai in June 2021?" — city ×
    * metric × (year, month) in ONE plan (the reference's cartesian
    * point-query fan-out, J1, as a single filter+aggregate). Unspecified
    * year defaults to 2020, unspecified months to all — reference
    * quirks preserved. Relative month phrases ("last month", "two months
    * ago", "last march") resolve against the engine clock first. */
  def era5Answer(question: String): String = {
    val metrics = Parsers.detectMetrics(question, Domain.metricRegistry("era5"))
    if (metrics.isEmpty) return llm.answer(question, "no metric recognized")
    val (years, months) = Parsers.extractDatesNlp(question, today)
    val cities = resolveCities(question)
    val prefixes = for (y <- years; m <- months) yield s"$y-$m"
    val base = resolve("era5")
      .filter(col("metric").isin(metrics: _*))
      .filter(prefixes.map(p => col("date").startsWith(p)).reduce(_ || _))
    val filtered = if (cities.nonEmpty)
      base.filter(upper(col("City")).isin(cities.map(_.toUpperCase): _*))
    else base
    val rows = filtered
      .groupBy(col("City"), col("metric"), substring(col("date"), 1, 7).as("month"))
      .agg(round(avg(col("value")), 4).as("value"))
      .orderBy("City", "metric", "month")
      .collect()
    val body = rows.map { r =>
      s"${r.getString(0)} ${r.getString(2)} ${r.getString(1)}: " +
        Format.withUnit(r.getString(1), r.getDouble(3))
    }.mkString("\n")
    llm.answer(question, body)
  }

  /** Entity dimensions collected ONCE per engine instance — the
    * reference re-fetches `SELECT DISTINCT City` per unmatched candidate
    * n-gram (`era5client.py:122-137`, a quadratic anti-pattern). */
  private lazy val era5Cities: List[String] =
    resolve("era5").select("City").distinct()
      .collect().map(_.getString(0)).toList.sorted
  private lazy val edgarCountries: List[String] =
    resolve("edgar").select("Name").distinct()
      .collect().map(_.getString(0)).toList.sorted

  /** ISO-3 code → canonical name, collected once (the reference's
    * `{country_code → name}` probe dict, `EDGARclient.py:91-140` — J2's
    * engine-side analog). */
  private lazy val edgarCodeToName: Map[String, String] =
    resolve("edgar").select("Country_code_A3", "Name").distinct()
      .collect().map(r => r.getString(0).toUpperCase -> r.getString(1)).toMap

  /** Cities resolved against the cached City dimension — exact
    * (case-insensitive) first, then fuzzy top-1 at difflib cutoff 0.8
    * (`era5client.py:122-144`), then the external-geocoder fallback seam
    * for candidates neither stage recognized (`era5client.py:147-157`;
    * [[NullGeocoder]] by default, so the fallback is a no-op unless a
    * client is wired in). */
  private def resolveCities(question: String): List[String] = {
    val dim = era5Cities
    val cands = Parsers.entityCandidates(question)
    val exact = cands.filter(c => dim.exists(_.equalsIgnoreCase(c)))
      .map(c => dim.find(_.equalsIgnoreCase(c)).get)
    if (exact.nonEmpty) exact.distinct
    else {
      val fuzzy = cands.flatMap(c => Parsers.fuzzyResolve(c, dim, 0.8)).distinct
      if (fuzzy.nonEmpty) fuzzy
      else cands.flatMap(geocoder.lookupCity).distinct
    }
  }

  /** EDGAR: "What were the CO2 emissions in China in 2018?" — gas routing
    * is a filter on the long table; multi-country/multi-year fan-out is
    * one grouped plan. */
  def edgarAnswer(question: String): String = {
    val gases = Parsers.detectMetrics(question, Domain.metricRegistry("edgar"))
    if (gases.isEmpty) return llm.answer(question, "no gas recognized")
    // candidates resolve as ISO-3 codes first, then fuzzy against names —
    // the reference probes its code dict before get_close_matches
    // (`EDGARclient.py:120-157`). DELIBERATE divergence: codes only match
    // when written in ALL CAPS ("CHN"), because the reference's
    // case-insensitive probe turns common words into countries ("are" →
    // ARE/United Arab Emirates, "can" → CAN/Canada, "per" → PER/Peru) on
    // the full 210-country dimension — spec-pinned in EngineSpec.
    val cands = Parsers.entityCandidates(question)
    val byCode = cands.filter(c => c.length == 3 && c.forall(_.isUpper))
      .flatMap(edgarCodeToName.get)
    val countries =
      (byCode ++ cands.flatMap(c => Parsers.fuzzyResolve(c, edgarCountries, 0.85))).distinct
    val preds = Seq.newBuilder[Predicate]
    preds += Predicate.In("gas", gases)
    if (countries.nonEmpty) preds += Predicate.In("Name", countries)
    // year phrases compile to predicates directly (the reference fans out
    // one query per year of an expanded list; a direct predicate keeps
    // boundary phrases like "after 2023" correct — an empty expansion
    // would wrongly read as "no year filter")
    Parsers.extractYearFilter(question) match {
      case Some(Parsers.YearRange(a, b)) => preds += Predicate.Between("year", a, b)
      case Some(Parsers.YearEq(y)) => preds += Predicate.Eq("year", y)
      case Some(Parsers.YearCmp(op, y)) => preds += Predicate.Cmp("year", op, y)
      case None => () // no year phrase → no year filter (all years)
    }
    val spec = QuerySpec("edgar", where = preds.result(),
      groupBy = Seq("Name", "year"),
      aggregations = Seq(Aggregation(AggFn.Sum, "value", "emissions")),
      orderBy = Seq(Sort("Name"), Sort("year")))
    val rows = SpecCompiler.compile(spec, resolve).collect()
    val body = rows.map { r =>
      s"${r.getString(0)} ${r.getInt(1)}: ${r.get(2)} kt"
    }.mkString("\n")
    llm.answer(question, body)
  }
}

object ClimateEngine {

  /** The largest table, by the optimizer's size estimate, that the engine
    * plans as one partition. For parquet the estimate is the bytes of the
    * compressed files: the ERA5 shape takes about 6 bytes a row, so 8 MiB
    * is about 1.4M rows. Measured on 4 cores (`local[4]`, 4 files, ERA5
    * questions, median of 80 each, one partition vs the parallel scan):
    * 6.4 MB 219 vs 237 ms, 8.5 MB 250 vs 267 ms, 10.6 MB 223 vs 224 ms,
    * 12.9 MB 259 vs 241 ms, 17.0 MB 290 vs 243 ms (README "NL engine").
    * The cutoff sits below the ~11 MB crossing because more cores make
    * the parallel scan faster and move the crossing down. */
  val SinglePartitionMaxBytes: Long = 8L << 20

  /** `df.coalesce(1)` when the optimizer's size estimate for `df` is at
    * or below `maxBytes`, else `df` unchanged. The estimate reads metadata
    * only and runs no job. Filters and column pruning still push below the
    * coalesce, and on one partition the aggregate and the sort need no
    * `Exchange`, so a question plans as one stage with no shuffle. */
  private[graft] def singlePartitionIfSmall(df: DataFrame,
                                            maxBytes: Long = SinglePartitionMaxBytes): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes) df.coalesce(1)
    else df
}
