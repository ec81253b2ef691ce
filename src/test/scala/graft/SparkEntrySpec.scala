package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract drift guards: every query must carry an oracle, the two
  * maps must agree exactly, and the per-module maps must not shadow each
  * other (Map concatenation keeps the last duplicate silently — round 1
  * shipped a duplicated oracle block no one noticed). */
class SparkEntrySpec extends AnyFunSuite {

  private val modules = Seq(
    "Relational" -> (queries.Relational.queries.keySet, queries.Relational.oracleSql.keySet),
    "Domain" -> (queries.Domain.queries.keySet, queries.Domain.oracleSql.keySet),
    "TrainingData" -> (queries.TrainingData.queries.keySet, queries.TrainingData.oracleSql.keySet),
    "ShopQueries" -> (queries.ShopQueries.queries.keySet, queries.ShopQueries.oracleSql.keySet),
    "Reports" -> (queries.Reports.queries.keySet, queries.Reports.oracleSql.keySet),
    "GraphEvents" -> (queries.GraphEvents.queries.keySet, queries.GraphEvents.oracleSql.keySet),
    "Curation" -> (queries.Curation.queries.keySet, queries.Curation.oracleSql.keySet),
    "MiningQueries" -> (queries.MiningQueries.queries.keySet, queries.MiningQueries.oracleSql.keySet),
    "StatsQueries" -> (queries.StatsQueries.queries.keySet, queries.StatsQueries.oracleSql.keySet),
    "EvalQueries" -> (queries.EvalQueries.queries.keySet, queries.EvalQueries.oracleSql.keySet),
    "PrefQueries" -> (queries.PrefQueries.queries.keySet, queries.PrefQueries.oracleSql.keySet),
    "TrainOps" -> (queries.TrainOps.queries.keySet, queries.TrainOps.oracleSql.keySet),
    "Compliance" -> (queries.Compliance.queries.keySet, queries.Compliance.oracleSql.keySet),
    "ServingOps" -> (queries.ServingOps.queries.keySet, queries.ServingOps.oracleSql.keySet),
    "DataContract" -> (queries.DataContract.queries.keySet, queries.DataContract.oracleSql.keySet))

  test("every query has an oracle and vice versa") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("module query sets are disjoint (no silent shadowing in the ++ chain)") {
    modules.combinations(2).foreach {
      case Seq((na, (qa, _)), (nb, (qb, _))) =>
        val overlap = qa.intersect(qb)
        assert(overlap.isEmpty, s"$na and $nb both define: $overlap")
      case _ =>
    }
  }

  test("each module's queries and oracles agree") {
    modules.foreach { case (name, (q, o)) =>
      assert(q == o, s"$name queries/oracles diverge")
    }
  }

  test("the aggregated surface is the sum of the modules") {
    val total = modules.map(_._2._1.size).sum
    assert(SparkEntry.queries.size == total,
      s"SparkEntry lost entries to shadowing: ${SparkEntry.queries.size} != $total")
    // floor, not exact count: the surface only ever grows — a DROP below
    // a previously-shipped size is the silent-loss signal worth failing on
    assert(SparkEntry.queries.size >= 89)
  }

  test("query names follow the qNN_snake contract the driver sorts on") {
    val re = "^q\\d+_[a-z0-9_]+$".r
    SparkEntry.queries.keys.foreach { k =>
      assert(re.matches(k), s"bad query name: $k")
    }
  }

  test("Verify's subset argument fails on a name that matches no query, listing each") {
    assert(Verify.subsetOf("q40_ah_adapter, q48_generic_lineage") ==
      Set("q40_ah_adapter", "q48_generic_lineage"))
    val e = intercept[IllegalArgumentException](
      Verify.subsetOf("q40_ah_adapter,q40_ah_adaptr,q99_nope"))
    assert(e.getMessage.contains("unknown query names: q40_ah_adaptr, q99_nope"), e.getMessage)
    intercept[IllegalArgumentException](Verify.subsetOf(" , "))
  }
}
