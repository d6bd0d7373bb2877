package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def climate(g: ClimateGen) =
    (g.cities, g.countries, g.noaa, g.fema, (0 until 60 by 7).map(c => g.era5Value(c, c % 13, c * 5)),
      for (c <- 0 until 5; y <- 1970 to 2023 by 7) yield g.edgarValue(c, 0, y))

  private def tpch(g: TpchGen) =
    g.tables.map { case (name, _, rows, row) => name -> (0 until math.min(rows, 300)).map(row) }

  test("the same seed gives the same climate tables and questions") {
    val (a, b) = (new ClimateGen(7), new ClimateGen(7))
    assert(climate(a) == climate(b))
    assert(a.questions(3, 10) == b.questions(3, 10))
  }

  test("another seed gives other climate tables and questions") {
    val (a, b) = (new ClimateGen(7), new ClimateGen(8))
    val (ta, tb) = (climate(a), climate(b))
    assert(ta.productIterator.zip(tb.productIterator).forall { case (x, y) => x != y })
    assert(a.questions(3, 10).map(_.text) != b.questions(3, 10).map(_.text))
  }

  test("each pass asks other questions, an equal share per domain") {
    val g = new ClimateGen(7)
    val (p0, p1) = (g.questions(0, 10), g.questions(1, 10))
    assert(p0.map(_.text) != p1.map(_.text))
    assert(p0.groupBy(_.domain).view.mapValues(_.size).toMap ==
      Map("noaa" -> 10, "fema" -> 10, "era5" -> 10, "edgar" -> 10))
  }

  test("climate tables have the reference shapes") {
    val g = new ClimateGen(1)
    assert(g.noaa.size == 45 * 7)
    assert(g.fema.size == 1235)
    assert(g.countries.size == 210 && g.countries.map(_._1).distinct.size == 210)
    assert(g.era5Rows == 60L * 13 * 540)
    assert(g.cities.map(_.name.toLowerCase).distinct.size == 60)
  }

  test("the same seed gives the same star-schema tables, another seed others") {
    assert(tpch(new TpchGen(3, 0.01)) == tpch(new TpchGen(3, 0.01)))
    val (a, b) = (tpch(new TpchGen(3, 0.01)).toMap, tpch(new TpchGen(4, 0.01)).toMap)
    // region and nation are fixed dimensions; every other table moves
    assert(a.keySet.filterNot(Set("region", "nation")).forall(t => a(t) != b(t)))
  }

  test("every batch_mix query is registered in its module and has an oracle") {
    import graft.queries._
    val modules = Map("Relational" -> Relational.queries, "EventOps" -> EventOps.queries,
      "TextOps" -> TextOps.queries, "VectorOps" -> VectorOps.queries,
      "ScaleOps" -> ScaleOps.queries, "CorpusOps" -> CorpusOps.queries,
      "SearchOps" -> SearchOps.queries, "HybridOps" -> HybridOps.queries,
      "MediaOps" -> graft.multimodal.MediaOps.queries)
    assert(BatchMix.Queries.forall { case (q, m) => modules(m).contains(q) })
    (BatchMix.Queries.map(_._1) ++ BatchMix.Streaming).foreach { q =>
      assert(graft.SparkEntry.oracleSql.contains(q), q)
    }
  }
}
