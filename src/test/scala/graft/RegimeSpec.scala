package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two session regimes apply exactly the settings their harnesses ran
  * with before they shared one definition: graft.Bench's catalog regime
  * (which Verify and QueryProfile now share) and tpg.Jobs.session's. */
class RegimeSpec extends AnyFunSuite {

  private def env(n: String, d: String) =
    sys.env.get(n).map(_.trim).filter(_.nonEmpty).getOrElse(d)

  test("catalog regime: Bench's shuffle/repartition 8, AQE off, zstd, UTC, no UI") {
    assert(Regime.catalogConf.toMap == Map(
      "spark.sql.shuffle.partitions" -> env("SPARK_GRAFT_SHUFFLE", "8"),
      "spark.sql.adaptive.enabled" -> env("SPARK_GRAFT_AQE", "false"),
      "graft.scan.repartition" -> env("SPARK_GRAFT_REPART", "8"),
      "spark.sql.parquet.compression.codec" -> "zstd",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    assert(Regime.catalogConf.map(_._1).distinct.size == Regime.catalogConf.size)
  }

  test("one core count for Bench and Verify: SPARK_GRAFT_CPUS, default 32") {
    assert(Regime.cpus == env("SPARK_GRAFT_CPUS", "32"))
  }

  test("jobs regime: shuffle = cores, AQE on, zstd, dynamic partition overwrite") {
    assert(Regime.jobsConf("12").toMap == Map(
      "spark.sql.shuffle.partitions" -> "12",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.parquet.compression.codec" -> "zstd",
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
      "spark.sql.session.timeZone" -> "UTC"))
  }
}
