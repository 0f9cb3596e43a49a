package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds. `parent` is the id
  * of the enclosing span (-1 for the run itself). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any]) {
  def durMs: Double = endMs - startMs
  def toJson: String = Main.json(Map("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "start" -> startMs, "end" -> endMs,
    "attrs" -> attrs))
}

/** Harness spans: opened and closed by benchmark code around calls into
  * public entry points. Every span owns the job group `pb-<id>` while
  * its body runs on the calling thread, so any job its body launches —
  * including jobs on a `Par.concurrently` branch thread, which copies
  * the group — can later be attached to it. The previous group is
  * restored on exit, so nesting works. Streaming drains run their jobs
  * under the stream's run id instead; `bindGroup` maps that id to the
  * drain's span. Nothing here registers a listener: untraced runs keep
  * the same harness spans at the cost of a few clock reads. */
final class Spans(sc: SparkContext) {
  private val nextId = new AtomicInteger(1)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val extra = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val groups = new ConcurrentHashMap[String, Integer]()
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Wall clock in epoch ms with nanoTime resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val runId = 0
  private val runStart = nowMs

  def groupOf(id: Int): String = s"pb-$id"

  /** Run `body` as a span under `parent`; returns the body's value and
    * the span. A throwing body still closes its span (attr `error`). */
  def timed[T](parent: Int, kind: String, name: String)(body: Int => T): (T, Span) = {
    val id = nextId.getAndIncrement()
    val oldGroup = sc.getLocalProperty(Spans.GroupKey)
    val oldDesc = sc.getLocalProperty(Spans.DescKey)
    groups.put(groupOf(id), id)
    sc.setJobGroup(groupOf(id), s"$kind $name", interruptOnCancel = false)
    val start = nowMs
    def close(err: Option[String]): Span = {
      val end = nowMs
      sc.setLocalProperty(Spans.GroupKey, oldGroup)
      sc.setLocalProperty(Spans.DescKey, oldDesc)
      val s = Span(id, parent, kind, name, start, end,
        err.map(e => Map[String, Any]("error" -> e)).getOrElse(Map.empty))
      closed.add(s)
      s
    }
    val v = try body(id) catch {
      case e: Throwable =>
        close(Some(String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")))
        throw e
    }
    (v, close(None))
  }

  /** Add attributes to a span (merged when the spans are written). */
  def annotate(id: Int, attrs: Map[String, Any]): Unit =
    extra.merge(id, attrs, (a, b) => a ++ b)

  /** Attach jobs of job group `group` (a stream run id) to span `id`. */
  def bindGroup(group: String, id: Int): Unit = groups.put(group, id)

  /** The span that owns job group `group`, if any. */
  def owner(group: String): Option[Int] =
    Option(group).flatMap(g => Option(groups.get(g))).map(_.intValue)

  /** Every closed harness span plus the run span, attributes merged. */
  def all(runAttrs: Map[String, Any]): Seq[Span] = {
    val run = Span(runId, -1, "run", "run", runStart, nowMs, runAttrs)
    run +: closed.asScala.toSeq.sortBy(_.id).map { s =>
      s.copy(attrs = s.attrs ++ Option(extra.get(s.id)).getOrElse(Map.empty))
    }
  }
}

object Spans {
  /** Spark's local-property keys for the job group and description. */
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"
}

/** Per-layer recorder built on Spark's public listener APIs only: a
  * `SparkListener` (jobs, stages, tasks, RDD block updates), a
  * `QueryExecutionListener` (Catalyst phase times) and a
  * `StreamingQueryListener` (micro-batch progress). Registered only in
  * traced runs. Events are kept in memory; `spans` turns them into job
  * and stage spans once the session has stopped, which drains the
  * listener bus — no flag decides whether an event counts and no sleep
  * waits for stragglers. Jobs attach to a harness span through the job
  * group their properties carry. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private final class JobRec(val id: Int, val group: String,
      val callSite: String, val start: Long, val stageIds: Seq[Int]) {
    @volatile var end: Long = start
    @volatile var ok: Boolean = false
  }
  private final class StageAcc(val id: Int) {
    @volatile var name = ""
    @volatile var submitted = 0L
    @volatile var completed = 0L
    val firstLaunch = new AtomicLong(Long.MaxValue)
    val tasks, cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs,
      spill, inputBytes, inputRows = new AtomicLong(0L)
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val rddBlocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val rddBytes = new AtomicLong(0L)
  private val rddPeak = new AtomicLong(0L)

  private def stage(id: Int): StageAcc = stages.computeIfAbsent(id, i => new StageAcc(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.map(_.getProperty(Spans.GroupKey)).orNull
    // the short call site of the job's result stage: the innermost
    // frame outside Spark and Scala, e.g. "localCheckpoint at NearDup.scala:164"
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).orNull
    jobs.put(e.jobId, new JobRec(e.jobId, group, site, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.name = e.stageInfo.name
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stage(e.stageInfo.stageId).completed =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.tasks.incrementAndGet()
    s.firstLaunch.accumulateAndGet(e.taskInfo.launchTime, (a, b) => math.min(a, b))
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.runMs.addAndGet(m.executorRunTime)
      s.gcMs.addAndGet(m.jvmGCTime)
      s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      s.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      s.inputRows.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val old = Option(if (size > 0) rddBlocks.put(key, size) else rddBlocks.remove(key))
        .map(_.longValue).getOrElse(0L)
      val cur = rddBytes.addAndGet(size - old)
      rddPeak.accumulateAndGet(cur, (a, b) => math.max(a, b))
    }
  }

  /** Peak bytes of RDD blocks (pins and caches) held at once. */
  def rddPeakBytes: Long = rddPeak.get()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
      plans.add(Map("start" -> start, "func" -> funcName,
        "analysis_ms" -> ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS),
        "optimize_ms" -> ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION),
        "physical_ms" -> ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING)))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map("run_id" -> p.runId.toString, "batch" -> p.batchId,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Job and stage spans plus the raw planning and streaming events.
    * Call after `spark.stop()`: stopping drains the listener bus. */
  def spans(owner: String => Option[Int], fallback: Int): (Seq[Span], Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val parent = owner(j.group).getOrElse(fallback)
      Span(1000000 + j.id, parent, "job", s"job ${j.id}", j.start.toDouble,
        j.end.toDouble, Map("group" -> Option(j.group).getOrElse(""),
          "call_site" -> Option(j.callSite).getOrElse(""), "ok" -> j.ok,
          "stages" -> j.stageIds.size))
    }
    val stageSpans = stages.values.asScala.toSeq.sortBy(_.id).map { s =>
      val parent = Option(stageJob.get(s.id)).map(1000000 + _.intValue).getOrElse(fallback)
      Span(2000000 + s.id, parent, "stage", s.name, s.submitted.toDouble,
        math.max(s.submitted, s.completed).toDouble, Map(
          "tasks" -> s.tasks.get, "cpu_ns" -> s.cpuNs.get, "run_ms" -> s.runMs.get,
          "gc_ms" -> s.gcMs.get, "shuffle_write_bytes" -> s.shuffleWrite.get,
          "shuffle_read_bytes" -> s.shuffleRead.get, "fetch_wait_ms" -> s.fetchWaitMs.get,
          "spill_bytes" -> s.spill.get, "input_bytes" -> s.inputBytes.get,
          "input_rows" -> s.inputRows.get,
          // scheduling delay: stage submitted -> its first task launched
          "task_wait_ms" -> (if (s.submitted > 0 && s.firstLaunch.get != Long.MaxValue)
            math.max(0L, s.firstLaunch.get - s.submitted) else 0L)))
    }
    (jobSpans ++ stageSpans, plans.asScala.toSeq, progress.asScala.toSeq)
  }
}
