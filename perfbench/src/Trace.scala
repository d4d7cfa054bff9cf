package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One client operation of the closed loop: a flush, a read or a query.
  * Times are wall-clock milliseconds, the clock Spark's listener events
  * carry, so job intervals and span intervals compare directly.
  */
final class Span(val id: Long, val kind: String, val label: String, val startMs: Long) {
  @volatile var endMs: Long = 0L
}

/** Task metrics summed over the stages of some set of jobs. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var jobMs = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var written = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; jobMs += o.jobMs
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; written += o.written
  }
}

/** The span recorder. The client thread tags every Spark job it launches
  * with the open span's id (a local property, inherited by the threads
  * Spark SQL starts for a query); a `SparkListener` files each job and
  * its stages under that span and under the layer named by the job's call
  * site, and a `QueryExecutionListener` adds the planning phases of each
  * query execution. Everything stays in memory until the run ends and
  * [[write]] puts the spans in a file.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  private final class Job(val span: Long, val layer: String, val startMs: Long) {
    var endMs = 0L
    val work = new Work
  }
  private val jobs = mutable.HashMap.empty[Int, Job]
  /** Start time of every job, tagged with a span or not. */
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)]
  private var queriesSeen = 0

  private val listener = new SparkListener {
    // Spark SQL launches some of a query's jobs from its own threads, whose
    // stacks hold no caller frame; the execution's call site, taken on the
    // calling thread when the execution starts, names the caller for them.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized(execSite(x.executionId) = x.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Tracer.this.synchronized(jobStarts += e.time)
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        Tracer.this.synchronized {
          val site = exec.flatMap(execSite.get)
            .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
          jobs(e.jobId) = new Job(s.toLong, layerOf(site), e.time)
          e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = e.stageInfo
      Tracer.this.synchronized {
        stageJob.get(st.stageId).flatMap(jobs.get).foreach { j =>
          val w = j.work
          w.stages += 1
          w.tasks += st.numTasks
          Option(st.taskMetrics).foreach { m =>
            w.taskMs += m.executorRunTime
            w.cpuNs += m.executorCpuTime
            w.gcMs += m.jvmGCTime
            w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            w.written += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  }

  // planning phases carry wall-clock bounds; a span owns those that start
  // inside it (the client runs one operation at a time)
  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ps = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      Tracer.this.synchronized {
        queriesSeen += 1
        ps.foreach(p => planning += ((p.startTimeMs, p.endTimeMs - p.startTimeMs)))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Open a span on the calling thread; every job it launches until
    * [[end]] is attributed to it.
    */
  def begin(kind: String, label: String = ""): Span = synchronized {
    nextId += 1
    val s = new Span(nextId, kind, label, System.currentTimeMillis())
    spans += s
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def end(s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    sc.setLocalProperty(SpanKey, null)
  }

  /** Wait until the listener bus has delivered every job end, then detach. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    def pending = synchronized(jobs.values.count(_.endMs == 0L))
    while (pending > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    // the query-execution listener runs on its own bus queue; give it the
    // same chance to catch up before the maps are read
    var last = -1
    while (synchronized(queriesSeen) != last && System.currentTimeMillis() < deadline) {
      last = synchronized(queriesSeen); Thread.sleep(200)
    }
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Per-layer work of one span. */
  def byLayer(span: Span): Map[String, Work] = synchronized {
    jobs.values.filter(_.span == span.id).groupBy(_.layer).map { case (l, js) =>
      val w = new Work
      js.foreach { j => w.add(j.work); w.jobs += 1; w.jobMs += math.max(0L, j.endMs - j.startMs) }
      l -> w
    }
  }

  /** Jobs that started while the span was open, whether or not they carry
    * its id: a job the tag missed counts here and nowhere else.
    */
  def jobsStartedIn(span: Span): Int = synchronized {
    jobStarts.count(t => t >= span.startMs && t <= span.endMs)
  }

  /** All work of one span. */
  def total(span: Span): Work = {
    val w = new Work
    byLayer(span).values.foreach(w.add)
    w
  }

  /** Span wall time not covered by any of its jobs: planning, catalog
    * calls, file listing and every other driver-side step.
    */
  def uncoveredMs(span: Span): Long = synchronized {
    val iv = jobs.values.filter(_.span == span.id)
      .map(j => (math.max(j.startMs, span.startMs), math.min(j.endMs, span.endMs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (span.endMs - span.startMs) - covered)
  }

  /** Every span, one JSON object a line: its kind, label, bounds, the
    * time no job covers, planning time and per-layer jobs and job time.
    */
  def write(path: String): Unit = {
    val lines = spans.toSeq.map { s =>
      Json.obj(Seq("id" -> s.id, "kind" -> s.kind, "label" -> s.label,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "uncovered_ms" -> uncoveredMs(s),
        "planning_ms" -> planningOf(s),
        "layers" -> byLayer(s).toSeq.sortBy(_._1).map { case (l, w) =>
          l -> Map("jobs" -> w.jobs, "job_ms" -> w.jobMs, "task_ms" -> w.taskMs) }))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  /** Analysis, optimization and planning time of the queries the span ran. */
  def planningOf(span: Span): Long = synchronized {
    planning.collect { case (start, ms) if start >= span.startMs && start <= span.endMs => ms }.sum
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** The layer a job belongs to, from the source file of its call site
    * (the stage name, e.g. `collect at CursorStore.scala:57`).
    */
  def layerOf(callSite: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    file match {
      case "CursorStore.scala" => "cdc.cursor"
      case "SinkStats.scala" => "streaming.stats"
      case "BucketedSnapshot.scala" => "cdc.snapshot"
      case "ChangeStreamSink.scala" if callSite.startsWith("saveAsTable ") => "cdc.mv"
      case "ChangeStreamSink.scala" | "MultiTableChangeSink.scala" => "streaming.sink"
      case _ => "other"
    }
  }

  /** Figures every traced workload reports: task time per span-second and
    * core, and the traced operations' median over the untraced ones'.
    */
  def common(ctx: Ctx, spans: Seq[Span], taskMs: Long,
      traced: Seq[Double], untraced: Seq[Double]): Unit = {
    val wallMs = spans.map(s => s.endMs - s.startMs).sum.toDouble
    val cores = ctx.spark.sparkContext.defaultParallelism
    ctx.out.put("spark.utilisation", taskMs / math.max(1.0, wallMs * cores), "ratio")
    if (traced.nonEmpty && untraced.nonEmpty)
      ctx.out.put("trace.overhead_frac", Main.median(traced) / Main.median(untraced) - 1, "ratio")
  }

  val Layers: Seq[String] =
    Seq("cdc.cursor", "streaming.stats", "cdc.snapshot", "cdc.mv", "streaming.sink", "other")
}
