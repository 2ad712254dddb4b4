package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span: jobs, stages and task metrics
  * from the scheduler's listener events, planning time from the query
  * planning tracker. Byte counters are raw bytes.
  */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, schedMs, gcMs = 0L
  var cpuNs = 0L
  var shuffleWrite, shuffleRead, spill, scan, written = 0L
  var planMs = 0L

  def +=(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; schedMs += o.schedMs; gcMs += o.gcMs
    cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; scan += o.scan; written += o.written
    planMs += o.planMs
  }
}

/** One traced call. `kind` is the span level (workload, query, phase,
  * construct, execute, batch, tier, ...); leaves carry the Spark work
  * that ran under their job group.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Long, var endMs: Long = -1L) {
  def group: String = s"perfbench-$id"
}

final case class JobRec(jobId: Int, group: String, batchId: String, site: String,
                        startMs: Long, var endMs: Long = -1L,
                        stages: mutable.ArrayBuffer[Map[String, Any]] =
                          mutable.ArrayBuffer.empty)

/** The benchmark's span recorder and Spark accounting.
  *
  * Spans are opened and closed on the benchmark's own (single) client
  * thread. Each leaf span sets a job group before it calls into graft,
  * so every job the call launches is tied to it; jobs started without
  * a group (streaming micro-batches, helper threads) fall back to the
  * `streaming.sql.batchId` property and then to the span whose time
  * window holds the job's start.
  *
  * The listeners are only registered when tracing is on; with tracing
  * off the spans still time every call, which is all the end-to-end
  * metrics need.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  // written by the listener-bus thread, read after drain()
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val byJob = mutable.HashMap.empty[Int, Acc]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, planMs)
  @volatile private var started, ended = 0L

  private def accFor(jobId: Int): Acc = byJob.getOrElseUpdate(jobId, new Acc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      // the result stage is the job's last; its name is the call site
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"), site, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      accFor(e.jobId).jobs += 1
      started += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      ended += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        stageJob.get(si.stageId).foreach { jid =>
          accFor(jid).stages += 1
          jobs.get(jid).foreach(_.stages += Map(
            "stage" -> si.stageId, "tasks" -> si.numTasks,
            "startMs" -> si.submissionTime.getOrElse(0L),
            "endMs" -> si.completionTime.getOrElse(0L)))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { jid =>
        val a = accFor(jid)
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.scan += m.inputMetrics.bytesRead
          a.written += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Tracer.this.synchronized {
        plans += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Times `body` as a span; a leaf span's Spark jobs run under its
    * job group. A failure closes the span and propagates.
    */
  def span[T](kind: String, name: String, leaf: Boolean = true)(body: => T): T = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), kind, name,
      System.currentTimeMillis())
    spans += s
    open.push(s)
    if (leaf) sc.setJobGroup(s.group, s"$kind $name", interruptOnCancel = false)
    try body
    finally {
      if (leaf) sc.clearJobGroup()
      s.endMs = System.currentTimeMillis()
      open.pop()
    }
  }

  /** Records an already-finished interval (a streaming micro-batch the
    * benchmark did not call itself) as a span.
    */
  def record(kind: String, name: String, parent: Int, startMs: Long, endMs: Long): Span = {
    val s = Span(spans.size, parent, kind, name, startMs, endMs)
    spans += s
    s
  }

  /** Waits until the listener bus has delivered every job end. */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    while ((ended < started || started == 0 && sc.statusTracker.getActiveJobIds().nonEmpty) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300) // trailing task/stage/plan events
  }

  private def leafFor(j: JobRec, batchSpans: Map[String, Span]): Option[Span] =
    spans.find(_.group == j.group)
      .orElse(batchSpans.get(j.batchId))
      .orElse(spans.reverseIterator.find(s => !spans.exists(_.parent == s.id) &&
        s.startMs <= j.startMs && j.startMs <= s.endMs))

  /** Self accounting per span (work of its own leaf jobs), keyed by span id. */
  def attribute(): Map[Int, Acc] = synchronized {
    val out = mutable.HashMap.empty[Int, Acc]
    val batchSpans = spans.filter(_.kind == "batch").map(s => s.name -> s).toMap
    for ((jid, j) <- jobs; s <- leafFor(j, batchSpans))
      out.getOrElseUpdate(s.id, new Acc) += byJob.getOrElse(jid, new Acc)
    val leaves = spans.filterNot(s => spans.exists(_.parent == s.id))
    for ((t0, ms) <- plans; s <- leaves.reverseIterator.find(s => s.startMs <= t0 && t0 <= s.endMs))
      out.getOrElseUpdate(s.id, new Acc).planMs += ms
    out.toMap
  }

  /** Work of `root` and every span below it. */
  def subtree(root: Int, self: Map[Int, Acc]): Acc = {
    val a = new Acc
    def go(id: Int): Unit = {
      self.get(id).foreach(a += _)
      spans.filter(_.parent == id).foreach(s => go(s.id))
    }
    go(root)
    a
  }

  /** Job seconds grouped by Spark's recorded call site, largest first. */
  def callSites(within: Span): Seq[(String, Double)] = synchronized {
    jobs.values.filter(j => j.startMs >= within.startMs && j.startMs <= within.endMs)
      .groupBy(_.site).map { case (site, js) =>
        site -> js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1000.0 }
      .toSeq.sortBy(-_._2)
  }

  /** The span tree with self times, plus each job and its stages. */
  def dump(self: Map[Int, Acc]): Map[String, Any] = synchronized {
    val spanRecs = spans.map { s =>
      val kids = spans.filter(_.parent == s.id)
      val dur = s.endMs - s.startMs
      val a = self.getOrElse(s.id, new Acc)
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "startMs" -> s.startMs, "endMs" -> s.endMs, "ms" -> dur,
        "selfMs" -> (dur - kids.map(k => k.endMs - k.startMs).sum),
        "jobs" -> a.jobs, "tasks" -> a.tasks, "planMs" -> a.planMs)
    }
    val batchSpans = spans.filter(_.kind == "batch").map(s => s.name -> s).toMap
    val jobRecs = jobs.values.map { j =>
      Map("job" -> j.jobId, "span" -> leafFor(j, batchSpans).map(_.id).getOrElse(-1),
        "site" -> j.site, "startMs" -> j.startMs, "endMs" -> j.endMs,
        "stages" -> j.stages.toSeq)
    }
    Map("spans" -> spanRecs.toSeq, "jobs" -> jobRecs.toSeq)
  }
}
