package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // The catalog regime, shared with graft.Bench (see Regime): the plans
    // the bench TIMES are the plans this harness VERIFIES.
    // SPARK_GRAFT_MASTER (unset by default) lets the multi-JVM
    // deploy audit run this same 222-query gate on local-cluster[n,c,mem]
    // — executors in separate JVMs, real serialization/broadcast paths.
    val spark = sys.env.get("SPARK_GRAFT_MASTER").map(_.trim).filter(_.nonEmpty)
      .fold(Regime.catalog())(Regime.catalog(_))
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (driver never sets it): comma-separated query
    // names; when present, only those queries are dumped — the oracle json
    // still carries every query, so tools/check.py must be pointed at the
    // matching subset (it reports missing dumps as failures otherwise).
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // remove any previous dump FIRST: if this query fails, a stale
      // (previously correct) result must not survive to be compared as
      // if fresh — a failed query should read as missing, not green
      val dir = Paths.get(s"$outDir/$name")
      if (Files.exists(dir)) {
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
