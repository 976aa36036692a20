package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One timed call into a layer, plus the Spark work attributed to it. */
final class Span(val id: Int, val name: String, val parent: Int, val request: Long,
    val startNs: Long) {
  @volatile var endNs: Long = 0L
  var jobs, stages, tasks = 0L
  var execMs, gcMs, shuffleBytes, rowsOut, bytesOut = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each layer, and a listener that
  * attributes Spark jobs, stages and tasks to the innermost open span.
  *
  * Attribution rides on a job-local property: opening a span sets
  * [[Tracer.Key]] on the calling thread, Spark copies local properties into
  * every job that thread submits (and into broadcast and subquery threads),
  * and the listener maps each job's stages to the span named by it. Spans
  * stay in memory; [[json]] writes them out with their self times.
  *
  * A disabled tracer only runs the body, so untraced runs pay nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val t0 = System.nanoTime()
  val unattributed = new Span(0, "unattributed", -1, -1, t0)
  byId.put(0, unattributed)

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .flatMap(id => Option(byId.get(id.toInt))).getOrElse(unattributed)
      s.synchronized(s.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => s.synchronized(s.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) s.synchronized {
        s.tasks += 1
        s.execMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.rowsOut += m.outputMetrics.recordsWritten
        s.bytesOut += m.outputMetrics.bytesWritten
      }
  })

  /** A tracer for the same context that records nothing. */
  lazy val off: Tracer = if (enabled) new Tracer(sc, enabled = false) else this

  /** Run `f` inside a span named `name`; `request` groups the spans of one
    * client request.
    */
  def span[A](name: String, request: Long = -1)(f: => A): A =
    if (!enabled) f
    else {
      val parents = stack.get
      val s = spans.synchronized {
        val s = new Span(spans.size + 1, name, parents.headOption.fold(-1)(_.id),
          request, System.nanoTime())
        spans += s; byId.put(s.id, s); s
      }
      stack.set(s :: parents)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack.set(parents)
        sc.setLocalProperty(Tracer.Key, parents.headOption.map(_.id.toString).orNull)
      }
    }

  /** Every event posted so far has reached the listener. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Span duration minus the part of it that its child spans cover. */
  def selfMs(s: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var until = s.startNs
    iv.foreach { case (a, b) =>
      val lo = math.max(a, until); if (b > lo) { covered += b - lo; until = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  def json: String = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${selfMs(s, kids.getOrElse(s.id, Nil))}%.3f,"jobs":${s.jobs},""" +
        f""""stages":${s.stages},"tasks":${s.tasks},"exec_ms":${s.execMs},"gc_ms":${s.gcMs},""" +
        f""""shuffle_bytes":${s.shuffleBytes},"rows_out":${s.rowsOut},"bytes_out":${s.bytesOut}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Operator and SQL-metric counts read from an executed physical plan. With
  * adaptive execution the final plan is read, through every query stage;
  * subqueries are included and a reused exchange is counted once, not
  * descended into.
  */
object PlanStats {
  val keys: Seq[String] = Seq("scans", "inmemory_scans", "exchanges", "reused_exchanges",
    "broadcast_exchanges", "smj", "nested_loop_joins", "windows", "generates")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def kind(p: SparkPlan): Option[String] = p.getClass.getSimpleName match {
    case "FileSourceScanExec" | "BatchScanExec" | "RowDataSourceScanExec" => Some("scans")
    case "InMemoryTableScanExec" => Some("inmemory_scans")
    case "ShuffleExchangeExec" => Some("exchanges")
    case "ReusedExchangeExec" => Some("reused_exchanges")
    case "BroadcastExchangeExec" => Some("broadcast_exchanges")
    case "SortMergeJoinExec" => Some("smj")
    case "BroadcastNestedLoopJoinExec" | "CartesianProductExec" => Some("nested_loop_joins")
    case "WindowExec" => Some("windows")
    case "GenerateExec" => Some("generates")
    case _ => None
  }

  def counts(plan: SparkPlan): Map[String, Long] = {
    val found = nodes(plan).flatMap(kind).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    keys.map(k => k -> found.getOrElse(k, 0L)).toMap
  }

  /** (files read, bytes read) summed over the plan's file scans. */
  def filesRead(plan: SparkPlan): (Long, Long) = {
    val scans = nodes(plan).filter(_.getClass.getSimpleName == "FileSourceScanExec")
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum)
  }
}
