package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.{Json, Regime, Tables}
import graft.queries.Catalog

/** Per-query profile of catalog queries in the catalog regime (see
  * [[graft.Regime]]): the one dev main for plan, stage and failure
  * inspection. It splits a query's time the way stage-floor analysis needs
  * it — per-row compute (summed executor run time) versus per-stage
  * overhead (the wall time no stage covers: scheduling, broadcast builds,
  * query planning).
  *
  * Usage: `tools/jrun.sh graft.tools.QueryProfile <query…> [--plan]` on
  * the tables in `$SPARK_GRAFT_SF_DIR`, cached as in graft.Bench. Each
  * query is built and run once untimed (warm), then built and run once
  * more under a stage listener; that run's jobs carry their own job
  * group, so only its stages are counted. One JSON line per query:
  *
  *  - `status`: `ok`, `build-error` (the query's build function threw)
  *    or `exec-error` (execution threw; also any failure of the measured
  *    run), with `error` and the `causes` chain on failure;
  *  - `build_ms`, `exec_ms`: the measured run's build and execution;
  *  - `stages`: wall time, executor run time, executor CPU time, tasks,
  *    input bytes, shuffle read and write bytes of each completed stage;
  *  - `wall_sum_ms`, `run_sum_ms`, `cpu_sum_ms`: their sums; `gap_ms`: the
  *    part of the measured run (build + exec) during which none of its
  *    stages ran;
  *  - `plan`: executed-plan operator counts; with `--plan`, also
  *    `formatted_plan`.
  *
  * Run time is task wall time, so when `SPARK_GRAFT_CPUS` exceeds the host's
  * cores it also counts the time a task waits for a core; CPU time does not.
  * Profile with `SPARK_GRAFT_CPUS=$(nproc)` when `run_sum_ms` is to be read
  * as compute.
  */
object QueryProfile {

  private case class Stage(id: Int, attempt: Int, name: String, startMs: Long,
      endMs: Long, runMs: Long, cpuMs: Long, tasks: Int, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long) {
    def wallMs: Long = endMs - startMs
    def json: String =
      s"""{"id":$id,"attempt":$attempt,"name":${Json.str(name)},"wall_ms":$wallMs,""" +
        s""""run_ms":$runMs,"cpu_ms":$cpuMs,"tasks":$tasks,"input_bytes":$inputBytes,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes}"""
  }

  /** Records the completed stages of the jobs tagged with `group`. The
    * listener bus delivers events asynchronously but in order, so once the
    * job tagged `fenceGroup` (submitted after the measured run returned)
    * is seen starting, every stage of the measured run has been seen. */
  private class Recorder(val group: String) extends SparkListener {
    val fenceGroup = s"$group-fence"
    val fenced = new CountDownLatch(1)
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val done = new ConcurrentLinkedQueue[Stage]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
        case `group` => e.stageIds.foreach(stageIds.add(_))
        case `fenceGroup` => fenced.countDown()
        case _ => ()
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageIds.contains(i.stageId)) {
        val m = i.taskMetrics
        val start = i.submissionTime.getOrElse(0L)
        done.add(Stage(i.stageId, i.attemptNumber(), i.name.takeWhile(_ != '\n'),
          start, i.completionTime.getOrElse(start), m.executorRunTime,
          m.executorCpuTime / 1000000L, i.numTasks,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
    }

    def stages: Seq[Stage] = done.asScala.toSeq.sortBy(s => (s.id, s.attempt))
  }

  val planKeys: Seq[String] = Seq("scans", "inmemory_scans", "exchanges",
    "reused_exchanges", "broadcast_exchanges", "bhj", "smj",
    "nested_loop_joins", "windows", "generates")

  /** Operator counts of an executed plan, subqueries included; a reused
    * exchange is counted once, not descended into. */
  def planCounts(plan: SparkPlan): Map[String, Int] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    val kinds = nodes(plan).collect {
      case _: FileSourceScanExec | _: BatchScanExec => "scans"
      case _: InMemoryTableScanExec => "inmemory_scans"
      case _: ShuffleExchangeExec => "exchanges"
      case _: ReusedExchangeExec => "reused_exchanges"
      case _: BroadcastExchangeExec => "broadcast_exchanges"
      case _: BroadcastHashJoinExec => "bhj"
      case _: SortMergeJoinExec => "smj"
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => "nested_loop_joins"
      case _: WindowExec => "windows"
      case _: GenerateExec => "generates"
    }
    planKeys.map(k => k -> kinds.count(_ == k)).toMap
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def failure(status: String, e: Throwable): Seq[(String, String)] = {
    def line(t: Throwable) =
      Option(t.getMessage).getOrElse(t.getClass.getName).linesIterator.nextOption().getOrElse("")
    val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(t => Json.str(s"${t.getClass.getName}: ${line(t)}"))
    Seq("status" -> Json.str(status), "error" -> Json.str(line(e)),
      "causes" -> causes.mkString("[", ",", "]"))
  }

  private def measured(spark: SparkSession, sfDir: String, q: Catalog.Q,
      withPlan: Boolean): Seq[(String, String)] = {
    val sc = spark.sparkContext
    val rec = new Recorder(s"graft-profile-${q.name}-${System.nanoTime()}")
    sc.addSparkListener(rec)
    def tagged[A](group: String)(f: => A): A = {
      sc.setJobGroup(group, s"QueryProfile ${q.name}")
      try f finally sc.clearJobGroup()
    }
    try {
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = tagged(rec.group)(q.run(spark, sfDir))
      val t1 = System.nanoTime()
      tagged(rec.group)(noop(df))
      val t2 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      tagged(rec.fenceGroup)(sc.parallelize(Seq(0), 1).count())
      require(rec.fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain")

      val ss = rec.stages
      // union of the stage intervals, clipped to the measured window
      val (covered, _) = ss.map(s => (s.startMs max w0, s.endMs min w1)).sorted
        .foldLeft((0L, w0)) { case ((sum, upTo), (a, b)) =>
          val from = a max upTo
          if (b > from) (sum + b - from, b) else (sum, upTo)
        }
      val plan = df.queryExecution.executedPlan
      val counts = planCounts(plan)
      Seq("status" -> Json.str("ok"),
        "build_ms" -> f"${(t1 - t0) / 1e6}%.1f",
        "exec_ms" -> f"${(t2 - t1) / 1e6}%.1f",
        "wall_sum_ms" -> ss.map(_.wallMs).sum.toString,
        "run_sum_ms" -> ss.map(_.runMs).sum.toString,
        "cpu_sum_ms" -> ss.map(_.cpuMs).sum.toString,
        "gap_ms" -> ((w1 - w0 - covered) max 0L).toString,
        "stages" -> ss.map(_.json).mkString("[", ",", "]"),
        "plan" -> planKeys.map(k => s""""$k":${counts(k)}""").mkString("{", ",", "}")) ++
        (if (withPlan) Seq("formatted_plan" -> Json.str(df.queryExecution.explainString(FormattedMode)))
         else Nil)
    } finally sc.removeSparkListener(rec)
  }

  /** One JSON record for `q` on `sfDir` in `spark`'s current regime. */
  def profile(spark: SparkSession, sfDir: String, q: Catalog.Q,
      withPlan: Boolean = false): String = {
    val fields = Try(q.run(spark, sfDir)).fold(e => failure("build-error", e), df =>
      Try(noop(df)).flatMap(_ => Try(measured(spark, sfDir, q, withPlan)))
        .fold(e => failure("exec-error", e), identity))
    (("query" -> Json.str(q.name)) +: fields)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val (flags, names) = args.toSeq.partition(_ == "--plan")
    require(names.nonEmpty, "usage: [SPARK_GRAFT_CPUS=$(nproc)] QueryProfile <query…> [--plan]")
    val qs = names.map(n => Catalog.all.find(_.name == n).getOrElse(sys.error(s"no query $n")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a catalog table directory"))
    val spark = Regime.catalog()
    try {
      Tables.cacheAll(spark, sfDir)
      qs.foreach(q => println(profile(spark, sfDir, q, flags.nonEmpty)))
    } finally spark.stop()
  }
}
