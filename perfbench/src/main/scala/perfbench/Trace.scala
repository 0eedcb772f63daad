package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical plan traversal that sees through adaptive execution. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }
}

/** A span: one interval of work at a layer boundary. Times are epoch
  * milliseconds; `parent` is the span that caused it (0 = none).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double)

/** The traced run's instrumentation, all of it in the benchmark:
  *  - op spans around every call into the engine, each op in its own
  *    Spark job group so jobs, stages and tasks attribute to it;
  *  - a SparkListener for jobs, stages, task delay and task metrics;
  *  - a QueryExecutionListener for the planning phases and the
  *    connector's scan metrics of every executed plan;
  *  - probe spans for direct calls into single layers.
  * Spans stay in memory and are written out once, at the end.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private def now: Double = System.currentTimeMillis().toDouble

  private val runId = ids.getAndIncrement()
  private val runStart = now
  private var phaseId = ids.getAndIncrement()
  private var phaseKind = "setup"
  private var phaseStart = runStart
  @volatile private var currentOp = 0L
  private val opStarts = mutable.HashMap.empty[Long, (String, String, Double)]

  // Listener state, keyed by op span id.
  private final class OpStats {
    var jobs = 0; var stages = 0; var tasks = 0
    var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var shufW = 0.0; var shufR = 0.0; var spill = 0.0
    var scanTaskMs = 0.0
    val delays = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.HashMap.empty[String, Double]
    var cellsRead = 0.0; var winners = 0.0; var fanIn = 0.0
  }
  private val stats = mutable.HashMap.empty[Long, OpStats]
  private def statsOf(op: Long): OpStats = synchronized {
    stats.getOrElseUpdate(op, new OpStats)
  }
  private val jobOp = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Double)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Double]
  private val plans = new ConcurrentLinkedQueue[(Map[String, (Double, Double)],
    Map[String, Double])]()

  sc.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  })

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    val scan = mutable.HashMap.empty[String, Double]
    try Plans.nodes(qe.executedPlan).foreach {
      case b: BatchScanExec =>
        for (k <- Seq("cells_read", "winners_emitted", "merge_fan_in");
             m <- b.metrics.get(k))
          scan(k) = scan.getOrElse(k, 0.0) + m.value
      case _ =>
    } catch { case _: Throwable => }
    plans.add((phases, scan.toMap))
  }

  /** Marks the end of set-up: later ops are the measured ones. */
  def measureStart(): Unit = {
    closePhase()
    phaseId = ids.getAndIncrement(); phaseKind = "measure"; phaseStart = now
  }

  private def closePhase(): Unit =
    spans.add(Span(phaseId, runId, phaseKind, phaseKind, phaseStart, now))

  private val measuredOps = mutable.HashSet.empty[Long]

  def opStart(name: String, cls: String): Long = {
    val id = ids.getAndIncrement()
    opStarts(id) = (name, cls, now)
    if (phaseKind == "measure") measuredOps += id
    currentOp = id
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    id
  }

  def opEnd(id: Long): Unit = {
    val (name, cls, start) = opStarts(id)
    spans.add(Span(id, phaseId, s"op.$cls", name, start, now))
    sc.clearJobGroup()
    currentOp = 0L
  }

  /** Records the planning phases a DataFrame ran when it was built
    * (analysis is eager), which the executed plan's tracker omits.
    */
  def built(qe: QueryExecution): Unit = record(qe)

  /** Times a direct call into one layer beside the current op. */
  def probe[T](kind: String)(body: => T): (T, Double) = {
    val start = now
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    spans.add(Span(ids.getAndIncrement(), currentOp, s"probe.$kind", kind,
      start, start + ms))
    (r, ms)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(0L)
    jobOp(e.jobId) = op
    jobSpan(e.jobId) = (ids.getAndIncrement(), e.time.toDouble)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    statsOf(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for ((sid, start) <- jobSpan.get(e.jobId))
      spans.add(Span(sid, jobOp.getOrElse(e.jobId, 0L), "job",
        s"job ${e.jobId}", start, e.time.toDouble))
  }

  private def opOfStage(stage: Int): Long =
    stageJob.get(stage).flatMap(jobOp.get).getOrElse(0L)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.map(_.toDouble).getOrElse(now)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val op = opOfStage(si.stageId)
      val s = statsOf(op)
      s.stages += 1
      s.tasks += si.numTasks
      val parentJob = stageJob.get(si.stageId).flatMap(jobSpan.get)
        .map(_._1).getOrElse(op)
      val start = si.submissionTime.map(_.toDouble)
        .getOrElse(stageSubmit.getOrElse(si.stageId, now))
      spans.add(Span(ids.getAndIncrement(), parentJob, "stage",
        s"stage ${si.stageId}", start,
        si.completionTime.map(_.toDouble).getOrElse(now)))
      // A stage with no parent stage reads its input from the source:
      // the scan stages.
      if (si.parentIds.isEmpty && si.taskMetrics != null)
        s.scanTaskMs += si.taskMetrics.executorRunTime
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    for (sub <- stageSubmit.get(e.stageId))
      statsOf(opOfStage(e.stageId)).delays +=
        math.max(0.0, e.taskInfo.launchTime - sub)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = statsOf(opOfStage(e.stageId))
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.gcMs += m.jvmGCTime
      s.shufW += m.shuffleWriteMetrics.bytesWritten
      s.shufR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Attributes each executed plan to the op whose interval holds its
    * planning, as spans and as per-op sums.
    */
  private def attributePlans(ops: Seq[(Long, Double, Double)]): Unit =
    plans.asScala.foreach { case (phases, scan) =>
      val t = if (phases.isEmpty) Double.NaN
        else phases.values.map(_._1).min
      val op = ops.find { case (_, s, e) => t >= s && t <= e }
        .map(_._1).getOrElse(0L)
      val st = statsOf(op)
      phases.foreach { case (k, (s, e)) =>
        st.phases(k) = st.phases.getOrElse(k, 0.0) + (e - s)
        spans.add(Span(ids.getAndIncrement(), op, s"planning.$k", k, s, e))
      }
      st.cellsRead += scan.getOrElse("cells_read", 0.0)
      st.winners += scan.getOrElse("winners_emitted", 0.0)
      st.fanIn += scan.getOrElse("merge_fan_in", 0.0)
    }

  /** Drains the listeners, writes the spans with per-kind counts and
    * self times, and returns the per-layer figures over measured ops.
    */
  def finish(measuredS: Double, cpus: Int,
      spansPath: String): Map[String, Double] = {
    BenchAccess.drainListeners(sc)
    closePhase()
    spans.add(Span(runId, 0L, "run", "run", runStart, now))
    sc.removeSparkListener(this)
    val all = spans.asScala.toSeq
    val opSpans = all.filter(_.kind.startsWith("op."))
      .map(s => (s.id, s.start, s.end))
    attributePlans(opSpans)
    val spanList = spans.asScala.toSeq
    writeSpans(spanList, spansPath)

    val measured = opSpans.map(_._1).filter(measuredOps)
    val ms = measured.map(statsOf)
    val n = math.max(1, ms.length).toDouble
    def perOp(f: OpStats => Double): Double = ms.map(f).sum / n
    val cellsRead = ms.map(_.cellsRead).sum
    val winners = ms.map(_.winners).sum
    val byCls = measured.zip(ms).groupBy { case (id, _) =>
      spanList.find(_.id == id).map(_.kind.stripPrefix("op.")).getOrElse("")
    }
    val cqlClasses = Seq("select", "insert", "update", "delete", "lwt", "batch")
    Map(
      "planning.analysis_ms" -> perOp(_.phases.getOrElse("analysis", 0.0)),
      "planning.optimization_ms" ->
        perOp(_.phases.getOrElse("optimization", 0.0)),
      "planning.physical_ms" -> perOp(_.phases.getOrElse("planning", 0.0)),
      "sched.jobs" -> perOp(_.jobs),
      "sched.stages" -> perOp(_.stages),
      "sched.tasks" -> perOp(_.tasks),
      "sched.delay_ms" -> Stats.median(ms.flatMap(_.delays)),
      "exec.run_ms" -> perOp(_.runMs),
      "exec.cpu_ms" -> perOp(_.cpuMs),
      "exec.gc_ms" -> perOp(_.gcMs),
      "exec.shuffle_write_bytes" -> perOp(_.shufW),
      "exec.shuffle_read_bytes" -> perOp(_.shufR),
      "exec.spill_bytes" -> perOp(_.spill),
      "exec.core_util" -> ms.map(_.runMs).sum / (measuredS * 1000.0 * cpus),
      "sources.cells_read" -> perOp(_.cellsRead),
      "sources.winners_emitted" -> perOp(_.winners),
      "sources.merge_fan_in" -> perOp(_.fanIn),
      "sources.useful_frac" ->
        (if (cellsRead > 0) winners / cellsRead else 0.0),
      "sources.scan_task_ms" -> perOp(_.scanTaskMs),
      "trace.spans" -> spanList.length.toDouble,
    ) ++ cqlClasses.map { c =>
      val xs = byCls.getOrElse(c, Nil)
      s"cql.jobs_per_stmt.$c" ->
        (if (xs.isEmpty) 0.0 else xs.map(_._2.jobs.toDouble).sum / xs.length)
    }
  }

  private def writeSpans(all: Seq[Span], path: String): Unit = {
    val kids = all.groupBy(_.parent)
    def selfMs(s: Span): Double = {
      val iv = kids.getOrElse(s.id, Nil).filter(_.id != s.id)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      math.max(0.0, (s.end - s.start) - covered)
    }
    def layer(k: String) = k.takeWhile(_ != '.') match {
      case "op" => "op"
      case other => if (k.startsWith("probe.")) k else other
    }
    val byLayer = all.groupBy(s => layer(s.kind))
    val sb = new StringBuilder
    sb ++= "{\"layers\":" + Json.obj(byLayer.map { case (k, ss) =>
      k -> s"""{"count":${ss.length},"self_ms":${Json.num(ss.map(selfMs).sum)}}"""
    }) + ",\"spans\":["
    sb ++= all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start":${Json.num(s.start)},""" +
        s""""end":${Json.num(s.end)}}"""
    }.mkString(",\n")
    sb ++= "]}"
    Files.write(Paths.get(path), sb.toString.getBytes(UTF_8))
  }
}
