package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's JVM side: runs one workload and writes its raw results
  * (metrics, the data the output checks need, the trace) as JSON for
  * `run.py`, which checks outputs and prints the final line.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  * <catalogDataDir> <outJson>`.
  *
  * Every workload is a closed loop: a client sends its next request only
  * when the previous one has completed. With tracing on, part of the timed
  * requests run traced (pipeline: the second pass; dashboard and catalog:
  * every other request). The per-layer numbers come from the traced
  * requests and `trace_overhead_frac` compares them with the untraced ones.
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, out: String)

  /** What a workload hands back: latencies per request kind, set-up times,
    * operation counts, per-layer metrics and the check payload.
    */
  final class Result {
    val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var setups: Seq[Double] = Nil
    var timedS = 0.0
    var attempted = 0L
    var failed = 0L
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val check = mutable.LinkedHashMap.empty[String, String]
    def add(kind: String, ms: Double): Unit =
      latMs.synchronized(latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms)
  }

  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def main(argv: Array[String]): Unit = {
    val c = Conf(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6))
    val t0 = System.nanoTime()
    val spark = c.workload match {
      case "catalog" => CatalogWorkload.session()
      case _ => graft.tpg.Jobs.session(s"perfbench-${c.workload}")
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark.sparkContext, c.trace)
    val r = c.workload match {
      case "pipeline" => PipelineWorkload.run(spark, tr, c)
      case "dashboard" => DashboardWorkload.run(spark, tr, c)
      case "catalog" => CatalogWorkload.run(spark, tr, c)
      case w => sys.error(s"unknown workload $w")
    }
    if (c.trace) Files.writeString(Paths.get(c.out.replace(".json", ".trace.json")), tr.json)

    val all = r.latMs.values.flatten.toSeq
    val e2e = Seq(
      "setup_s" -> (sessionS + Stats.median(r.setups)),
      "geomean_ms" -> Stats.geomean(r.latMs.values.map(v => Stats.median(v.toSeq)).toSeq),
      "requests_per_s" -> all.size / r.timedS)
    def obj(kv: Iterable[(String, Double)]) =
      kv.map { case (k, v) => s""""$k":${Stats.num(v)}""" }.mkString("{", ",", "}")
    val stamp = obj(Seq("session_start_s" -> sessionS, "samples" -> all.size.toDouble,
      "timed_s" -> r.timedS)).dropRight(1) +
      s""","jvm":"${System.getProperty("java.version")}","spark":"${spark.version}"}"""
    val lat = r.latMs.map { case (k, v) => Main.jstr(k) + ":" + v.map(Stats.num).mkString("[", ",", "]") }
    val parts = Seq("attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
      "e2e" -> obj(e2e), "layer" -> obj(r.layer), "stamp" -> stamp,
      "latencies_ms" -> lat.mkString("{", ",", "}")) ++ r.check
    Files.writeString(Paths.get(c.out),
      parts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}\n"))
    spark.stop()
  }

  /** Run requests from `clients` closed-loop clients until `seconds` have
    * passed and each has made `minRequests`; each client calls
    * `request(client, i)` with its i-th request.
    */
  def closedLoop(clients: Int, seconds: Double, minRequests: Int = 1)(
      request: (Int, Int) => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    concurrently(clients) { cl =>
      var i = 0
      while (i < minRequests || System.nanoTime() < deadline) { request(cl, i); i += 1 }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Run `body(client)` on one thread per client and wait for all. */
  def concurrently(clients: Int)(body: Int => Unit): Unit = {
    val threads = (0 until clients).map(cl => new Thread(() => body(cl)))
    threads.foreach(_.start()); threads.foreach(_.join())
  }

  /** Run one operation, counting it as attempted, and as failed if it
    * throws; true when it succeeded.
    */
  def attempt(r: Result, what: String)(f: => Unit): Boolean = {
    r.synchronized(r.attempted += 1)
    try { f; true }
    catch { case e: Exception =>
      r.synchronized(r.failed += 1)
      System.err.println(s"$what failed: ${e.getMessage}")
      false
    }
  }

  def timeMs[A](f: => A): (A, Double) = {
    val t = System.nanoTime(); val a = f; (a, (System.nanoTime() - t) / 1e6)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  /** Rows as JSON arrays; timestamps as `yyyy-MM-dd HH:mm:ss` (UTC). */
  def rowsJson(rows: Seq[Row]): String = rows.map(_.toSeq.map {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case t: java.sql.Timestamp =>
      jstr(t.toInstant.toString.replace("T", " ").stripSuffix("Z"))
    case t: java.time.Instant => jstr(t.toString.replace("T", " ").stripSuffix("Z"))
    case v => jstr(v.toString)
  }.mkString("[", ",", "]")).mkString("[", ",", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}

/** Per-layer metrics of the traced requests, from their spans. */
object Layers {
  def named(tr: Tracer, name: String): Seq[Span] = tr.all.filter(_.name == name)

  /** wall/exec/busy and output counters of one pipeline step, per pass. */
  def step(tr: Tracer, name: String, out: mutable.Map[String, Double]): Unit = {
    val ss = named(tr, name)
    val n = math.max(1, ss.size).toDouble
    val wall = ss.map(_.ms).sum / 1000 / n
    val exec = ss.map(_.execMs).sum / 1000.0 / n
    out(s"$name.wall_s") = wall
    out(s"$name.exec_s") = exec
    out(s"$name.busy_frac") = if (wall > 0) exec / (wall * Main.cores) else 0
    out(s"$name.stages") = ss.map(_.stages).sum / n
    out(s"$name.rows_out") = ss.map(_.rowsOut).sum / n
    out(s"$name.bytes_out") = ss.map(_.bytesOut).sum / n
    out(s"$name.shuffle_bytes") = ss.map(_.shuffleBytes).sum / n
  }

  val steps: Seq[String] = Seq("tpg.ingest.gtfs", "tpg.ingest.istdaten", "tpg.ingest.weather",
    "tpg.features.events", "tpg.features.by_stop_line", "tpg.features.training_rows")
  val serving: Seq[String] = Seq("latest_events", "missing_profile", "kpi_slice", "slice",
    "slice_kpis", "heatmap")
  val servingKeys: Seq[String] = Seq("p50_ms", "plan_ms", "jobs", "files_read", "bytes_read")
  val catalogKeys: Seq[String] = Seq("build_s", "plan_s", "exec_s", "jobs", "stages", "tasks",
    "busy_frac", "shuffle_bytes", "gc_s")

  /** Every per-layer metric at 0: a workload fills in the layers it runs. */
  def zeros(out: mutable.Map[String, Double]): Unit = {
    for (s <- steps; k <- Seq("wall_s", "exec_s", "busy_frac", "stages", "rows_out",
      "bytes_out", "shuffle_bytes")) out(s"$s.$k") = 0
    for (s <- serving; k <- servingKeys) out(s"tpg.serving.$s.$k") = 0
    for (k <- catalogKeys) out(s"catalog.$k") = 0
    for (q <- CatalogWorkload.queries) out(s"catalog.${CatalogWorkload.short(q)}.s") = 0
    for (k <- PlanStats.keys) out(s"plan.$k") = 0
    Seq("tables.cache_build_s", "tables.cache_mb", "trace_overhead_frac",
      "pipeline.gold_bytes_per_raw_byte", "dashboard.qa_p50_ms", "dashboard.qa_p90_ms",
      "dashboard.stopline_p50_ms", "dashboard.stopline_p90_ms",
      "catalog.pass_s").foreach(out(_) = 0)
  }
}

/** `pipeline`: one client running the six CLI steps over seeded raw inputs. */
object PipelineWorkload {
  import graft.tpg._

  def listed(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getAbsolutePath).sorted

  /** The six CLI steps in order (the `graft.tpg.Jobs` mains), raw → gold. */
  val steps: Seq[(String, (SparkSession, String, String) => Unit)] = Seq(
    "tpg.ingest.gtfs" -> { (spark, raw, gold) =>
      val (routes, trips, stopTimes, stops) = GtfsIngest.ingest(spark, s"$raw/gtfs.zip")
      GtfsIngest.write(routes, s"$gold/gtfs_routes")
      GtfsIngest.write(trips, s"$gold/gtfs_trips")
      GtfsIngest.write(stopTimes, s"$gold/gtfs_stop_times")
      GtfsIngest.write(stops, s"$gold/gtfs_stops")
    },
    "tpg.ingest.istdaten" -> { (spark, raw, gold) =>
      IstdatenIngest.write(
        IstdatenIngest.ingest(spark, listed(s"$raw/istdaten")), s"$gold/ist_events")
    },
    "tpg.ingest.weather" -> { (spark, raw, gold) =>
      WeatherIngest.write(WeatherIngest.ingest(spark, listed(s"$raw/weather")),
        s"$gold/weather_obs")
    },
    "tpg.features.events" -> { (spark, _, gold) =>
      FeaturesEvents.write(
        FeaturesEvents.build(spark.read.parquet(s"$gold/ist_events"),
          spark.read.parquet(s"$gold/weather_obs"), asof = true),
        s"$gold/features")
      FeaturesEvents.qc(spark.read.parquet(s"$gold/features")).collect()
    },
    "tpg.features.by_stop_line" -> { (spark, _, gold) =>
      FeaturesEvents.write(FeaturesByStopLine.build(spark.read.parquet(s"$gold/features")),
        s"$gold/by_stop_line")
      FeaturesByStopLine.qc(spark.read.parquet(s"$gold/by_stop_line")).collect()
    },
    "tpg.features.training_rows" -> { (spark, _, gold) =>
      FeaturesEvents.write(TrainingRow.build(spark.read.parquet(s"$gold/features"),
        spark.read.parquet(s"$gold/weather_obs")), s"$gold/training_rows")
    })

  /** Run the named steps (all six by default), each in its own span. */
  def pass(spark: SparkSession, tr: Tracer, raw: String, gold: String, req: Long,
      only: Set[String] = steps.map(_._1).toSet): Unit =
    for ((name, step) <- steps if only(name)) tr.span(name, req)(step(spark, raw, gold))

  val days = 30
  val rowsPerDay = 800
  val trips = 300

  def run(spark: SparkSession, tr: Tracer, c: Main.Conf): Main.Result = {
    val r = new Main.Result
    // Set-up: the pipeline once over a small input, which pays class
    // loading, code generation and the first JIT compilations.
    val warmRaw = s"${c.work}/warm_raw"
    RawGen.generate(warmRaw, c.seed ^ 0x5eed, days = 2, rowsPerDay = 300, trips = 100)
    r.setups = Seq(Main.timeMs(pass(spark, tr.off, warmRaw, s"${c.work}/warm_gold", -1))._2 / 1000)
    val raw = s"${c.work}/raw"
    val manifest = RawGen.generate(raw, c.seed, days, rowsPerDay, trips)
    System.gc()

    val golds = mutable.ArrayBuffer.empty[String]
    def timed(t: Tracer, seconds: Double, kind: String): Double =
      Main.closedLoop(1, seconds) { (_, i) =>
        val gold = s"${c.work}/gold_${kind}_$i"
        val (ok, ms) = Main.timeMs(Main.attempt(r, "pipeline pass")(
          t.span("pipeline.pass", i)(pass(spark, t, raw, gold, i))))
        if (ok) { r.add(kind, ms); golds += gold }
      }
    if (!c.trace) r.timedS = timed(tr, c.seconds, "pipeline")
    else {
      r.timedS = timed(tr.off, c.seconds / 2, "pipeline")
      val untraced = Stats.median(r.latMs("pipeline").toSeq)
      timed(tr, c.seconds / 2, "traced")
      tr.drain()
      val traced = r.latMs.remove("traced").get.toSeq
      Layers.zeros(r.layer)
      Layers.steps.foreach(Layers.step(tr, _, r.layer))
      r.layer("trace_overhead_frac") = Stats.median(traced) / untraced - 1
    }
    val last = golds.lastOption.getOrElse(s"${c.work}/none")
    val goldBytes = Seq("gtfs_routes", "gtfs_trips", "gtfs_stop_times", "gtfs_stops",
      "ist_events", "weather_obs", "features", "by_stop_line", "training_rows")
      .map(t => Main.dirBytes(new File(s"$last/$t"))).sum
    if (c.trace) r.layer("pipeline.gold_bytes_per_raw_byte") =
      goldBytes.toDouble / manifest.get("raw_bytes")
    r.check("manifest") = manifest.json
    r.check("golds") = golds.map(Main.jstr).mkString("[", ",", "]")
    r
  }
}

/** `dashboard`: the two reference apps as two closed-loop clients over gold
  * that the program's own pipeline builds during set-up.
  */
object DashboardWorkload {
  import graft.tpg.Serving

  val days = 30
  val rowsPerDay = 400
  /** The gold the dashboards read; GTFS and training rows are not among it. */
  val goldSteps: Set[String] = Set("tpg.ingest.istdaten", "tpg.ingest.weather",
    "tpg.features.events", "tpg.features.by_stop_line")

  final case class Call(name: String, planMs: Double, files: Long, bytes: Long)

  /** Filters pick lines with the generator's popularity. */
  val lineZipf = new RawGen.Zipf(RawGen.nLines, RawGen.lineSkew)

  def run(spark: SparkSession, tr: Tracer, c: Main.Conf): Main.Result = {
    val r = new Main.Result
    val raw = s"${c.work}/raw"
    val manifest = RawGen.generate(raw, c.seed, days, rowsPerDay, trips = 100)
    // Set-up: build the gold the clients read with the program's pipeline.
    val gold = s"${c.work}/gold"
    r.setups = Seq(Main.timeMs(
      PipelineWorkload.pass(spark, tr.off, raw, gold, -1, goldSteps))._2 / 1000)
    val calls = new ConcurrentLinkedQueue[Call]()
    val samples = new ConcurrentLinkedQueue[String]()

    def serve(t: Tracer, name: String, req: Long)(df: => DataFrame): Array[Row] =
      t.span(s"tpg.serving.$name", req) {
        val d = df
        if (!t.enabled) d.collect()
        else {
          val (_, planMs) = Main.timeMs(d.queryExecution.executedPlan)
          val rows = d.collect()
          val (files, bytes) = PlanStats.filesRead(d.queryExecution.executedPlan)
          calls.add(Call(name, planMs, files, bytes))
          rows
        }
      }

    // Client 0 is the QA app, client 1 the stop×line app. A seeded tenth of
    // the refreshes is recorded for the DuckDB re-answer after the timed phase.
    def refresh(t: Tracer, client: Int, i: Int, rnd: SplittableRandom, kind: String): Unit =
      Main.attempt(r, "dashboard refresh") {
        val req = client * 1000000L + i
        val sample = rnd.nextInt(10) == 0 && samples.size < 40
        if (client == 0) {
          val (resp, ms) = Main.timeMs(t.span("dashboard.qa", req) {
            val feats = spark.read.parquet(s"$gold/features")
            val ev = spark.read.parquet(s"$gold/ist_events")
            Seq("kpi_slice" -> serve(t, "kpi_slice", req)(Serving.kpiSlice(feats)),
              "missing_profile" -> serve(t, "missing_profile", req)(Serving.missingProfile(feats)),
              "latest_events" -> serve(t, "latest_events", req)(Serving.latestEvents(ev)))
          })
          r.add(s"qa$kind", ms)
          if (sample) samples.add(s"""{"app":"qa",""" +
            resp.map { case (k, rows) => s""""$k":${Main.rowsJson(rows.toSeq)}""" }.mkString(",") + "}")
        } else {
          val nLines = 1 + rnd.nextInt(3)
          val lines = (1 to nLines).map(_ => (lineZipf.draw(rnd) + 1).toString).distinct
          val span = 1 + rnd.nextInt(14)
          val start = 1 + rnd.nextInt(days - span + 1)
          val from = f"2024-06-$start%02d"; val to = f"2024-06-${start + span - 1}%02d"
          val (resp, ms) = Main.timeMs(t.span("dashboard.stopline", req) {
            val v = Serving.slice(spark.read.parquet(s"$gold/by_stop_line"), lines,
              fromDate = Some(from), toDate = Some(to))
            val rows = serve(t, "slice", req)(v)
            Seq("slice" -> rows,
              "slice_kpis" -> serve(t, "slice_kpis", req)(Serving.sliceKpis(v)),
              "heatmap" -> serve(t, "heatmap", req)(Serving.heatmap(v)))
          })
          r.add(s"stopline$kind", ms)
          if (sample) {
            val sl = resp.head._2
            val digest = Seq(sl.length.toDouble,
              sl.map(_.getAs[Long]("n_trips").toDouble).sum,
              sl.map(_.getAs[Double]("delay_avg_min")).sum)
            samples.add(s"""{"app":"stopline","lines":${lines.map(Main.jstr).mkString("[", ",", "]")},""" +
              s""""from":"$from","to":"$to","slice":${digest.mkString("[", ",", "]")},""" +
              resp.tail.map { case (k, rows) => s""""$k":${Main.rowsJson(rows.toSeq)}""" }
                .mkString(",") + "}")
          }
        }
      }

    val rnds = Array(new SplittableRandom(c.seed * 31 + 1), new SplittableRandom(c.seed * 31 + 2))
    // warm-up: four untraced refreshes per client, not recorded
    Main.concurrently(2)(cl => (1 to 4).foreach(j =>
      refresh(tr.off, cl, -j, new SplittableRandom(c.seed + cl), "_warm")))
    r.latMs.clear(); r.attempted = 0; r.failed = 0; samples.clear()

    if (!c.trace) r.timedS = Main.closedLoop(2, c.seconds)((cl, i) =>
      refresh(tr, cl, i, rnds(cl), ""))
    else {
      // odd requests traced, even ones not, so both see the same warm-up
      r.timedS = Main.closedLoop(2, c.seconds)((cl, i) =>
        if (i % 2 == 0) refresh(tr.off, cl, i, rnds(cl), "")
        else refresh(tr, cl, i, rnds(cl), "_traced"))
      val untraced = Seq("qa", "stopline").map(k => Stats.median(r.latMs(k).toSeq))
      tr.drain()
      val traced = Seq("qa", "stopline").map(k => Stats.median(r.latMs.remove(k + "_traced").get.toSeq))
      Layers.zeros(r.layer)
      r.layer("trace_overhead_frac") = traced.sum / untraced.sum - 1
      val cs = calls.asScala.toSeq.groupBy(_.name)
      for (n <- Layers.serving) {
        val ss = Layers.named(tr, s"tpg.serving.$n")
        val k = s"tpg.serving.$n"
        r.layer(s"$k.p50_ms") = Stats.median(ss.map(_.ms))
        r.layer(s"$k.jobs") = Stats.median(ss.map(_.jobs.toDouble))
        val cc = cs.getOrElse(n, Nil)
        r.layer(s"$k.plan_ms") = Stats.median(cc.map(_.planMs))
        r.layer(s"$k.files_read") = Stats.median(cc.map(_.files.toDouble))
        r.layer(s"$k.bytes_read") = Stats.median(cc.map(_.bytes.toDouble))
      }
    }
    if (c.trace) for (k <- Seq("qa", "stopline")) {
      val v = r.latMs(k).toSeq
      r.layer(s"dashboard.${k}_p50_ms") = Stats.median(v)
      r.layer(s"dashboard.${k}_p90_ms") = Stats.pct(v, 0.9)
    }
    r.check("manifest") = manifest.json
    r.check("gold") = Main.jstr(gold)
    r.check("samples") = samples.asScala.mkString("[", ",", "]")
    r
  }
}

/** `catalog`: one analyst client running named catalog queries over cached
  * base tables, in `graft.Bench`'s session regime.
  */
object CatalogWorkload {
  import graft.queries.Catalog

  /** Two of the eager queries (driver-side rounds: dedup clusters, k-core),
    * then four ROADMAP targets (quantile windows, personalised PageRank,
    * set-similarity join, assortativity with its shared subtree).
    */
  val numbers: Seq[Int] = Seq(61, 128, 85, 102, 125, 188)
  lazy val queries: Seq[Catalog.Q] = numbers.map(n =>
    Catalog.all.find(_.name.startsWith(s"q${n}_")).getOrElse(sys.error(s"no query q$n")))
  def short(q: Catalog.Q): String = q.name.takeWhile(_ != '_')

  /** `graft.Bench`'s session settings at local[cores]. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Main.cores}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("graft.scan.repartition", "8")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def tables(spark: SparkSession, dir: String): Seq[DataFrame] =
    graft.Tables.names.map(t =>
      if (t == "events") graft.Tables.events(spark, dir) else graft.Tables.load(spark, dir, t))

  /** Order-insensitive digest of a result: row count plus the sum of
    * per-row hashes over the columns in name order. Floating-point values
    * are hashed at ten significant digits, so summation-order noise in the
    * last bits does not change it.
    */
  def digest(df: DataFrame): String = {
    val named = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case DoubleType | FloatType => format_string("%.9e", c.cast("double"))
      case ArrayType(DoubleType | FloatType, _) =>
        transform(c, x => format_string("%.9e", x.cast("double")))
      case _ => c
    }
    val h = xxhash64(named.map { case (f, i) => norm(col(s"c$i"), f.dataType) }: _*)
    val row = d.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    s"${named.map(_._1.name).mkString(",")}|${row.getLong(0)}|${row.get(1)}"
  }

  def run(spark: SparkSession, tr: Tracer, c: Main.Conf): Main.Result = {
    val r = new Main.Result
    val dir = c.data
    val sc = spark.sparkContext
    def storageMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    // Set-up: load and cache the base tables, three times from scratch.
    r.setups = (1 to 3).map { _ =>
      tables(spark, dir).foreach(_.unpersist(blocking = true))
      Main.timeMs(tables(spark, dir).foreach(_.cache().count()))._2 / 1000
    }
    val cacheMb = storageMb

    // Warm pass, which also computes each query's digest for the check.
    val digests = queries.map { q =>
      short(q) -> (try digest(q.run(spark, dir)) catch {
        case e: Exception => s"error: ${e.getMessage.takeWhile(_ != '\n')}"
      })
    }
    System.gc()

    // The client runs passes, each a seeded permutation of the query list,
    // and stops at the first pass boundary after the deadline, so every
    // query is timed equally often.
    val rnd = new SplittableRandom(c.seed)
    def permutation(): Seq[Catalog.Q] = {
      val a = queries.toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }
    val planCounts = mutable.LinkedHashMap.empty[String, Map[String, Long]]
    def runOne(t: Tracer, q: Catalog.Q, req: Long, kind: String): Unit = {
      val (ok, ms) = Main.timeMs(Main.attempt(r, q.name) {
        if (!t.enabled) q.run(spark, dir).write.format("noop").mode("overwrite").save()
        else t.span(s"catalog.${short(q)}", req) {
          val df = t.span("catalog.build", req)(q.run(spark, dir))
          val qe = df.queryExecution
          val plan = t.span("catalog.plan", req)(qe.executedPlan)
          t.span("catalog.exec", req) {
            SQLExecution.withNewExecutionId(qe, Some("noop"))(qe.toRdd.foreach(_ => ()))
          }
          planCounts.getOrElseUpdate(short(q), PlanStats.counts(plan))
        }
      })
      if (ok) r.add(short(q) + kind, ms)
    }
    if (!c.trace) r.timedS = Main.closedLoop(1, c.seconds)((_, i) =>
      permutation().foreach(runOne(tr, _, i, "")))
    else {
      // queries alternate between traced and untraced, swapping each pass,
      // so that over two passes every query runs both ways
      r.timedS = Main.closedLoop(1, c.seconds, minRequests = 2)((_, i) =>
        permutation().foreach { q =>
          if ((i + queries.indexOf(q)) % 2 == 0) runOne(tr.off, q, i, "")
          else runOne(tr, q, i, "_traced")
        })
      tr.drain()
      Layers.zeros(r.layer)
      def medians(kind: String) = queries.flatMap(q => r.latMs.get(short(q) + kind))
        .map(v => Stats.median(v.toSeq))
      val (untraced, traced) = (medians(""), medians("_traced"))
      queries.foreach(q => r.latMs.remove(short(q) + "_traced"))
      r.layer("trace_overhead_frac") = Stats.geomean(traced) / Stats.geomean(untraced) - 1
      val perQuery = queries.flatMap(q => Layers.named(tr, s"catalog.${short(q)}"))
      // totals per pass: a pass runs every query once
      val perPass = queries.size.toDouble / math.max(1, perQuery.size)
      def phase(p: String) = Layers.named(tr, s"catalog.$p").map(_.ms).sum / 1000 * perPass
      val work = tr.all.filter(_.name.startsWith("catalog."))
      def total(f: Span => Long) = work.map(f).sum * perPass
      r.layer("catalog.build_s") = phase("build")
      r.layer("catalog.plan_s") = phase("plan")
      r.layer("catalog.exec_s") = phase("exec")
      r.layer("catalog.jobs") = total(_.jobs)
      r.layer("catalog.stages") = total(_.stages)
      r.layer("catalog.tasks") = total(_.tasks)
      r.layer("catalog.shuffle_bytes") = total(_.shuffleBytes)
      r.layer("catalog.gc_s") = total(_.gcMs) / 1000
      r.layer("catalog.busy_frac") =
        work.map(_.execMs).sum / 1000.0 / (perQuery.map(_.ms).sum / 1000 * Main.cores)
      // each query's plan counted once, so the sums repeat exactly
      for (k <- PlanStats.keys) r.layer(s"plan.$k") = planCounts.values.map(_(k)).sum.toDouble
      for (q <- queries; v <- r.latMs.get(short(q)))
        r.layer(s"catalog.${short(q)}.s") = Stats.median(v.toSeq) / 1000
      r.layer("tables.cache_build_s") = Stats.median(r.setups)
      r.layer("tables.cache_mb") = cacheMb
    }
    val perQuery = queries.flatMap(q => r.latMs.get(short(q)).map(v => Stats.median(v.toSeq)))
    if (c.trace) r.layer("catalog.pass_s") = perQuery.sum / 1000
    r.check("digests") = digests.map { case (k, v) => Main.jstr(k) + ":" + Main.jstr(v) }
      .mkString("{", ",", "}")
    r.check("executions") = queries.map(q => Main.jstr(short(q)) + ":" +
      r.latMs.get(short(q)).fold(0)(_.size)).mkString("{", ",", "}")
    r
  }
}

/** Writes `expected_digests.json` from the dumps of `graft.Verify`, after
  * `tools/check.py` has matched them against the DuckDB oracle:
  *
  * {{{
  * GRAFT_VERIFY_ONLY=<the catalog workload's queries> graft.Verify <data> <dumps>
  * python3 tools/check.py <data> <dumps> <the same queries>
  * perfbench.RecordDigests <dumps> perfbench/expected_digests.json
  * }}}
  */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val spark = CatalogWorkload.session()
    val names = new File(args(0)).list().toSet
    val digests = CatalogWorkload.queries.map { q =>
      val dump = names.find(_ == q.name).getOrElse(sys.error(s"no dump of ${q.name}"))
      s"""  ${Main.jstr(CatalogWorkload.short(q))}: """ +
        Main.jstr(CatalogWorkload.digest(spark.read.parquet(s"${args(0)}/$dump")))
    }
    Files.writeString(Paths.get(args(1)), digests.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
