package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import graft.engine.Tables

/** Spans for the traced run, recorded from outside the engine.
  *
  * Each traced op gets three spans around the calls into the engine's
  * layers: `build` (the registry's query function, `graft.registry` and
  * `graft.engine`), `plan` (forcing `executedPlan`; the Catalyst phases
  * come from the op's `QueryPlanningTracker`) and `exec` (the `noop` write:
  * `graft.operators` and `graft.functions` running in tasks). Jobs and
  * stages reported to this `SparkListener` are children of the span that
  * was open when they were submitted, found through the job's local
  * properties; all spans of one op share its id. Spans stay in memory and
  * are written out at the end of the run.
  */
final class TraceListener extends SparkListener {
  import TraceListener._

  private val opSpans = mutable.ArrayBuffer.empty[OpSpan]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
  @volatile private var events = 0L

  /** Run `op` with its three spans; jobs it submits carry the span. */
  def tracedOp(spark: SparkSession, id: String, pass: Int, op: Harness.Op): Unit = {
    val sc = spark.sparkContext
    def span[T](name: String)(f: => T): (T, Double, Double) = {
      sc.setLocalProperty(OpKey, id)
      sc.setLocalProperty(SpanKey, name)
      val t0 = nowMs()
      try { val r = f; (r, t0, nowMs()) }
      finally { sc.setLocalProperty(OpKey, null); sc.setLocalProperty(SpanKey, null) }
    }
    val (df, b0, b1) = span("build")(op.build())
    val (phases, p0, p1) = span("plan") {
      df.queryExecution.executedPlan
      df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
    }
    val (_, e0, e1) = span("exec")(op.exec(df))
    opSpans += OpSpan(id, pass, op.name, b0, b1, p0, p1, e0, e1, phases)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events += 1
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id")))).map(_.toLong)
      val job = Job(e.jobId, op, props.get.getProperty(SpanKey), e.time.toDouble, exec)
      jobs.put(e.jobId, job)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, job))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events += 1
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events += 1
    val i = e.stageInfo
    Option(stageJob.get(i.stageId)).foreach { j =>
      val s = stages.computeIfAbsent(i.stageId, id => Stage(id, j))
      s.numTasks = i.numTasks
      s.startMs = i.submissionTime.getOrElse(0L).toDouble
      s.endMs = i.completionTime.getOrElse(0L).toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events += 1
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j =>
      val s = stages.computeIfAbsent(e.stageId, id => Stage(id, j))
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    events += 1
    e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
      case _ =>
    }
  }

  /** Mean wall time and jobs of one `Tables.table` call, per table. */
  def resolveTables(spark: SparkSession, dataDir: String, layers: ObjectNode): Unit = {
    val sc = spark.sparkContext
    val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val reps = 3
    val perTable = names.map { t =>
      (1 to reps).map { r =>
        sc.setLocalProperty(OpKey, s"resolve:$t:$r")
        sc.setLocalProperty(SpanKey, "resolve")
        val t0 = System.nanoTime()
        try Tables.table(spark, dataDir, t)
        finally { sc.setLocalProperty(OpKey, null); sc.setLocalProperty(SpanKey, null) }
        (System.nanoTime() - t0) / 1e9
      }.sum / reps
    }
    drain()
    val resolveJobs = jobs.values.asScala.count(_.span == "resolve").toDouble / (names.size * reps)
    layers.put("tables.resolve_s", perTable.sum / names.size)
    layers.put("tables.resolve_jobs", resolveJobs)
  }

  /** Wait until the asynchronous listener bus has delivered every event
    * of the jobs submitted so far (balanced job starts and ends, and no
    * new event for 100 ms), at most 10 s.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      Thread.sleep(10)
      val cur = events
      if (cur != last) { last = cur; stableSince = System.nanoTime() }
      else if (jobs.values.asScala.forall(_.endMs > 0) &&
        System.nanoTime() - stableSince > 100000000L) return
    }
  }

  /** Per-layer metrics, each summed over one traced pass and reported as
    * the median over traced passes.
    */
  def summarise(cores: Int, layers: ObjectNode): Unit = {
    val jobsByOp = jobs.values.asScala.toSeq.groupBy(_.op)
    val stagesByJob = stages.values.asScala.toSeq.groupBy(_.job.id)
    def exchanges(execIds: Set[Long]): (Int, Int) = {
      val counts = execIds.toSeq.flatMap(id => Option(plans.get(id))).map { p =>
        val names = planNodes(p)
        (names.count(n => n == "Exchange" || n == "ShuffleExchange" || n == "BroadcastExchange"),
          names.count(_ == "ReusedExchange"))
      }
      (counts.map(_._1).sum, counts.map(_._2).sum)
    }
    val perPass = opSpans.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, ops) =>
      val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      ops.foreach { o =>
        val js = jobsByOp.getOrElse(o.id, Seq.empty)
        val build = js.filter(_.span == "build")
        val exec = js.filter(_.span == "exec")
        val execStages = exec.flatMap(j => stagesByJob.getOrElse(j.id, Seq.empty))
        m("build.s") += (o.b1 - o.b0) / 1e3
        m("build.self_s") += (o.b1 - o.b0 - covered(o.b0, o.b1, build)) / 1e3
        m("build.jobs") += build.size
        m("plan.analysis_s") += o.phases.getOrElse("analysis", 0.0)
        m("plan.optimization_s") += o.phases.getOrElse("optimization", 0.0)
        m("plan.planning_s") += o.phases.getOrElse("planning", 0.0)
        val (ex, reused) = exchanges(exec.flatMap(_.execution).toSet)
        m("plan.exchanges") += ex
        m("plan.reused_exchanges") += reused
        m("exec.s") += (o.e1 - o.e0) / 1e3
        m("exec.jobs") += exec.size
        m("exec.stages") += execStages.size
        m("exec.one_task_stages") += execStages.count(_.numTasks == 1)
        m("exec.tasks") += execStages.map(_.tasks).sum
        m("exec.cpu_s") += execStages.map(_.cpuNs).sum / 1e9
        m("exec.run_s") += execStages.map(_.runMs).sum / 1e3
        m("exec.gc_s") += execStages.map(_.gcMs).sum / 1e3
        m("exec.sched_gap_s") += (o.e1 - o.e0 - covered(o.e0, o.e1, exec)) / 1e3
        m("shuffle.write_mb") += execStages.map(_.shuffleWrite).sum / 1e6
        m("shuffle.read_mb") += execStages.map(_.shuffleRead).sum / 1e6
        m("spill.mb") += execStages.map(_.spill).sum / 1e6
      }
      m("exec.slot_util") = if (m("exec.s") > 0) m("exec.run_s") / (m("exec.s") * cores) else 0.0
      m
    }
    perPass.headOption.foreach(_.keys.foreach { k =>
      layers.put(k, median(perPass.map(_(k))))
    })
  }

  /** Spans as JSON lines: op spans, then their jobs and stages. */
  def writeSpans(path: String): Unit = {
    val mapper = new ObjectMapper()
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      def emit(id: String, name: String, parent: String, start: Double, end: Double): Unit =
        out.println(mapper.writeValueAsString(Map(
          "op" -> id, "span" -> name, "parent" -> parent, "start_ms" -> start,
          "end_ms" -> end).asJava))
      opSpans.foreach { o =>
        emit(o.id, "op", null, o.b0, o.e1)
        emit(o.id, "build", "op", o.b0, o.b1)
        emit(o.id, "plan", "op", o.p0, o.p1)
        emit(o.id, "exec", "op", o.e0, o.e1)
      }
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        emit(j.op, s"job:${j.id}", j.span, j.startMs, j.endMs)
      }
      stages.values.asScala.toSeq.sortBy(_.id).foreach { s =>
        emit(s.job.op, s"stage:${s.id}", s"job:${s.job.id}", s.startMs, s.endMs)
      }
    } finally out.close()
  }
}

object TraceListener {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  final case class OpSpan(id: String, pass: Int, name: String,
                          b0: Double, b1: Double, p0: Double, p1: Double,
                          e0: Double, e1: Double, phases: Map[String, Double])

  final case class Job(id: Int, op: String, span: String, startMs: Double,
                       execution: Option[Long]) {
    @volatile var endMs: Double = 0.0
  }

  final case class Stage(id: Int, job: Job) {
    var numTasks = 0
    var startMs = 0.0
    var endMs = 0.0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  /** Wall clock in ms with sub-ms resolution, comparable with the
    * listener's event times.
    */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Node names of a plan, through adaptive stages and subqueries; a
    * reused exchange is one node (its info repeats the reused subtree).
    */
  def planNodes(p: SparkPlanInfo): Seq[String] =
    if (p.nodeName == "ReusedExchange") Seq(p.nodeName)
    else p.nodeName +: p.children.flatMap(planNodes)

  /** Milliseconds of [start, end] covered by the union of the jobs' spans. */
  def covered(start: Double, end: Double, js: Seq[Job]): Double = {
    val iv = js.map(j => (math.max(start, j.startMs), math.min(end, j.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
