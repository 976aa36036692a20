package graft

import org.apache.spark.sql.SparkSession

/** The one place this engine builds a `SparkSession`. Two regimes:
  *
  *  - `catalog` — Bench, Verify and `tools.QueryProfile`: the 222 catalog
  *    queries over cached or plain parquet tables. The harness that
  *    verifies and the harness that times must plan identically, because
  *    the scan repartition perturbs row order (order-sensitive results:
  *    collect_list/first, float-sum association) and `graft.Par` sizes
  *    exchanges from the session's core count. So both take every setting
  *    from here, including the master's core count.
  *  - `jobs` — the TPG pipeline mains (`tpg.Jobs.session`): cluster-shaped,
  *    shuffle = cores, AQE on, dynamic partition overwrite.
  *
  * Other callers (GenData, the test session) keep their own master and
  * shuffle values but share `base` and `session`.
  *
  * The `*Conf` methods return exactly the pairs a session gets, so the
  * regime can be checked without building a second session.
  */
object Regime {
  private def env(name: String, default: String): String =
    sys.env.get(name).map(_.trim).filter(_.nonEmpty).getOrElse(default)

  /** Local core count for both regimes (`SPARK_GRAFT_CPUS`, default 32). */
  def cpus: String = env("SPARK_GRAFT_CPUS", "32")

  private val utc = "spark.sql.session.timeZone" -> "UTC"

  /** Settings every local harness or tool session carries: UTC session
    * time, no UI. */
  val base: Seq[(String, String)] = Seq(utc, "spark.ui.enabled" -> "false")

  /** The catalog regime's settings.
    *
    * Partition counts are sized by DATA VOLUME, not core count: at sf0.1
    * every table is ≤11 MB, so 8 slices already puts each task near the
    * ~1 MB scheduling floor — more partitions just buy scheduler overhead
    * (measured: repart/shuffle 8/8 = 8.0s total, 16/8 = 9.2, 32/32 = 15.0).
    * At production scale the same sizing rule (tens-of-MB tasks) yields
    * thousands of partitions and AQE takes over runtime sizing.
    *
    * AQE is ON in the jobs regime, the streaming twins and the tests: at
    * cluster scale its runtime re-planning (skew joins, partition
    * coalescing) is essential. Here — hundreds of MB per query, sub-second
    * stages — its per-stage materialize-and-re-optimize barrier costs more
    * than it saves (measured +25% on the 55-query catalog; re-measured
    * round 7 at 73 queries: 23.4s vs 16.0s = +46%, the multi-stage
    * similarity/propagation queries pay the barrier most), so it defaults
    * off. Both modes produce identical results.
    *
    * `graft.scan.repartition` (see `Tables.load`): each harness parquet
    * file is ONE row group, parquet's unit of parallel reading, so without
    * it every scan (and the cached relation built from it) is a single
    * task. With the table cache on, that shuffle is paid once at
    * cache-build time and every query then reads an N-way parallel
    * in-memory table.
    */
  def catalogConf: Seq[(String, String)] = base ++ Seq(
    "spark.sql.shuffle.partitions" -> env("SPARK_GRAFT_SHUFFLE", "8"),
    "spark.sql.adaptive.enabled" -> env("SPARK_GRAFT_AQE", "false"),
    "graft.scan.repartition" -> env("SPARK_GRAFT_REPART", "8"),
    "spark.sql.parquet.compression.codec" -> "zstd")

  /** The catalog regime on `local[cpus]`, or on `master` where a caller
    * must run it elsewhere (Verify's multi-JVM `local-cluster` audit). */
  def catalog(master: String = s"local[$cpus]"): SparkSession =
    session(master, catalogConf)

  /** The pipeline jobs' settings: UTC, shuffle partitions = cores, AQE on,
    * ZSTD sinks, and dynamic partition overwrite so a rerun replaces
    * exactly the partitions it writes (idempotent reruns). The UI is left
    * to the deployment: a submitted job keeps it. */
  def jobsConf(cores: String): Seq[(String, String)] = Seq(utc,
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic")

  /** Build (or join) the session on `master` with `conf`, log level WARN. */
  def session(master: String, conf: Seq[(String, String)],
      appName: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().master(master)
    appName.foreach(b.appName)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
