package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lockstep guard between the documented gate surface (SURVEY §8.10's
  * oracle-ID inventory) and the query registry (`SparkEntry.specs`): a
  * future SURVEY row can never ship without a gate entry, and a gate
  * entry can never ship undocumented. Also pins that each name is
  * written once and that every query has an oracle (the driver's hash
  * gate, not the weaker rows-only check). */
class GateInventorySpec extends AnyFunSuite {

  private def surveyInventory: Set[String] = {
    val text = {
      val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
      try src.mkString finally src.close()
    }
    val start = text.indexOf("### 8.10 Oracle-gate inventory")
    assert(start >= 0, "SURVEY.md must contain '### 8.10 Oracle-gate inventory'")
    val sect = text.substring(start)
    val end = sect.indexOf("\n### ", 1)
    val body = if (end >= 0) sect.substring(0, end) else sect
    "`([a-z][a-z0-9_]*)`".r.findAllMatchIn(body).map(_.group(1)).toSet
  }

  test("SURVEY §8.10 inventory == SparkEntry.queries keys (both directions)") {
    val doc = surveyInventory
    val code = SparkEntry.queries.keySet
    val undocumented = (code -- doc).toSeq.sorted
    val unimplemented = (doc -- code).toSeq.sorted
    assert(undocumented.isEmpty,
      s"gate queries missing from SURVEY §8.10: ${undocumented.mkString(", ")}")
    assert(unimplemented.isEmpty,
      s"SURVEY §8.10 ids with no queries entry: ${unimplemented.mkString(", ")}")
  }

  test("query names are distinct within and across modules") {
    val modules = Seq(
      "CoreQueries" -> graft.queries.CoreQueries.specs,
      "PipelineQueries" -> graft.queries.PipelineQueries.specs,
      "ParityQueries" -> graft.queries.ParityQueries.specs,
      "MediaQueries" -> graft.queries.MediaQueries.specs,
      "SinkQueries" -> graft.queries.SinkQueries.specs,
      "AnalyticsQueries" -> graft.queries.AnalyticsQueries.specs,
      "StatQueries" -> graft.queries.StatQueries.specs)
    val owners = modules.flatMap { case (m, specs) => specs.map(_.name -> m) }
    val dupes = owners.groupBy(_._1).collect {
      case (n, os) if os.size > 1 => s"$n (${os.map(_._2).mkString(" & ")})"
    }.toSeq.sorted
    assert(dupes.isEmpty, s"query names defined twice: ${dupes.mkString(", ")}")
    assert(SparkEntry.specs.map(_.name) === owners.map(_._1),
      "SparkEntry.specs must be the modules' specs in order")
    assert(SparkEntry.queries.size === SparkEntry.specs.size)
  }

  test("a name written twice in one module is rejected") {
    val core = graft.queries.CoreQueries.specs
    val planted = core :+ core.head.copy(oracle = "SELECT 1")
    val e = intercept[IllegalArgumentException](SparkEntry.requireDistinct(planted))
    assert(e.getMessage.contains(core.head.name))
    // a Map keyed by name keeps only the last of the two, silently
    assert(planted.map(q => q.name -> q.oracle).toMap.size === core.size)
    assert(SparkEntry.requireDistinct(core) === core)
  }

  test("every queries entry has an oracleSql entry and vice versa") {
    val blank = SparkEntry.specs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: ${blank.sorted.mkString(", ")}")
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted.mkString(", ")}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted.mkString(", ")}")
  }
}
