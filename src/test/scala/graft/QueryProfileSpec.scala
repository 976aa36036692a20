package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{lit, raise_error}

import graft.queries.Catalog
import graft.tools.QueryProfile

class QueryProfileSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def record(q: Catalog.Q, withPlan: Boolean = false) =
    new ObjectMapper().readTree(QueryProfile.profile(spark, sf, q, withPlan))

  test("q03: one parseable record whose plan counts match PlanShapeSpec") {
    val q03 = Catalog.all.find(_.name == "q03_join_enrich").get
    val r = record(q03, withPlan = true)
    assert(r.get("query").asText == "q03_join_enrich")
    assert(r.get("status").asText == "ok", r)
    assert(r.get("plan").get("bhj").asInt == 2)
    assert(r.get("plan").get("smj").asInt == 0)
    assert(r.get("wall_sum_ms").asLong > 0)
    assert(r.get("run_sum_ms").asLong > 0)
    assert(r.get("cpu_sum_ms").asLong > 0)
    assert(r.get("stages").get(0).has("cpu_ms"))
    assert(r.get("gap_ms").asLong >= 0)
    assert(r.get("stages").size > 0)
    assert(r.get("exec_ms").asDouble > 0)
    assert(r.get("formatted_plan").asText.contains("BroadcastHashJoin"))
  }

  test("a failing query yields an error record, not a crash") {
    val execFails = Catalog.Q("x_exec_fails",
      (s, _) => s.range(3).select(raise_error(lit("boom")).as("x")), None)
    val e = record(execFails)
    assert(e.get("status").asText == "exec-error", e)
    assert(e.get("causes").size >= 1)
    assert(e.toString.contains("boom"))

    val buildFails = Catalog.Q("x_build_fails",
      (_, _) => throw new IllegalStateException("no plan"), None)
    val b = record(buildFails)
    assert(b.get("status").asText == "build-error")
    assert(b.get("error").asText == "no plan")
  }
}
