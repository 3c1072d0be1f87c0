package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing of one measured window, from public hooks only.
  *
  * Attribution: the client tags every operation with a Spark job tag
  * (`perfbench-op-<seq>`) around the call. Spark copies the thread's tags
  * into every job's properties and every SQL execution's start event, and
  * threads the engine spawns (stream executions, broadcast builds) inherit
  * them. Jobs, their stages and tasks, SQL executions (so Catalyst phase
  * times), streaming queries (so their progress reports) and log events
  * are charged to the op whose tag they carry. Nothing is charged by time
  * window: work that carries no tag lands in the `unattributed` bucket and
  * is reported as a count.
  *
  * Driver-side counters that Spark does not tag (Hadoop FileSystem
  * statistics, driver GC time, `SessionMemo` builds) are read before and
  * after each call on the client thread; with one closed-loop client
  * nothing else issues work between the two reads.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext

  // ---- event-side state (listener threads) ------------------------------
  private val buckets = new ConcurrentHashMap[String, Bucket]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val execOp = new ConcurrentHashMap[Long, String]()
  private val queryOp = new ConcurrentHashMap[String, String]()
  private val execPhases = new ConcurrentHashMap[Long, Map[String, Long]]()
  // Phases of the QueryExecution whose end event is being delivered; see
  // `qeListener`.
  @volatile private var pendingPhases: Option[Map[String, Long]] = None
  private val progress = new ConcurrentHashMap[String, Bucket]()
  private val streamsOpen = new ConcurrentHashMap[String, java.lang.Boolean]()
  private val syncJobsDone = new AtomicLong()

  /** Global task totals, summed by a listener that attributes nothing; the
    * self-check compares them with the per-op sums. */
  val totals = new Bucket

  private def bucket(op: String): Bucket = buckets.computeIfAbsent(op, _ => new Bucket)

  private def tagOf(tags: String): String =
    Option(tags).toSeq.flatMap(_.split(",")).find(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix)).getOrElse(Unattributed)

  private val attributor = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = tagOf(props.map(_.getProperty(JobTagsKey)).orNull)
      jobOp.put(e.jobId, op)
      jobStart.put(e.jobId, e.time)
      e.stageInfos.foreach(s => stageOp.putIfAbsent(s.stageId, op))
      props.flatMap(p => Option(p.getProperty(StreamQueryIdKey)))
        .foreach(q => if (op != Unattributed) queryOp.putIfAbsent(q, op))
      bucket(op).add("scheduler.jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnd.put(e.jobId, e.time)
      if (jobOp.get(e.jobId) == SyncOp) syncJobsDone.incrementAndGet()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      bucket(stageOp.getOrDefault(e.stageInfo.stageId, Unattributed))
        .add("scheduler.stages", 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, Unattributed)
      val b = bucket(op)
      b.add("scheduler.tasks", 1)
      addTask(b, e)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val op = s.jobTags.find(_.startsWith(TagPrefix))
          .map(_.stripPrefix(TagPrefix)).getOrElse(Unattributed)
        execOp.put(s.executionId, op)
      case e: SparkListenerSQLExecutionEnd =>
        pendingPhases.foreach(p => execPhases.put(e.executionId, p))
        pendingPhases = None
      case _ =>
    }
  }

  private val totalsListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      totals.add("scheduler.tasks", 1)
      addTask(totals, e)
    }
  }

  /** Catalyst phase times. A `QueryExecution` does not carry the id of
    * the SQL execution that ran it, so the two are joined through the end
    * event: Spark calls this listener while delivering an execution's end
    * event to the session's listener bus, which sits on the same listener
    * queue just before `attributor` (registered later). The next
    * `SparkListenerSQLExecutionEnd` that `attributor` sees is therefore
    * the one that carried this `QueryExecution`. */
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      pendingPhases = Some(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsOpen.put(e.id.toString, true)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsOpen.remove(e.id.toString)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val b = progress.computeIfAbsent(p.id.toString, _ => new Bucket)
      b.add("streaming.batches", 1)
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      b.add("streaming.trigger_ms", dur("triggerExecution"))
      b.add("streaming.query_planning_ms", dur("queryPlanning"))
      b.add("streaming.add_batch_ms", dur("addBatch"))
      b.add("streaming.wal_commit_ms", dur("walCommit"))
      b.add("streaming.commit_offsets_ms", dur("commitOffsets"))
      val ops = p.stateOperators
      b.add("streaming.state_commit_ms", ops.map(_.commitTimeMs).sum)
      // State size is a level, not a flow: keep the last report's value.
      b.set("streaming.state_rows", ops.map(_.numRowsTotal).sum)
      b.set("streaming.state_memory_bytes", ops.map(_.memoryUsedBytes).sum)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      if (FallbackMarkers.exists(m => msg.contains(m))) {
        bucket(tagOf(sc.getLocalProperty(JobTagsKey))).add("executor.codegen_fallbacks", 1)
      }
    }
  }

  private val codegenLogger = "org.apache.spark.sql.execution.WholeStageCodegenExec"
  private var codegenLevel: Level = _

  def attach(): Unit = {
    sc.addSparkListener(attributor)
    sc.addSparkListener(totalsListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.INFO, null)
    // The "too long generated code" fallback is logged at INFO.
    codegenLevel = LogManager.getLogger(codegenLogger).getLevel
    org.apache.logging.log4j.core.config.Configurator.setLevel(codegenLogger, Level.INFO)
    ctx.updateLoggers()
  }

  /** Wait until every event of the window has reached the listeners, then
    * detach them. A tagged marker job is submitted; events of one listener
    * queue arrive in order, so once its end is seen, every earlier task
    * end has been delivered. Streaming events have their own queue: wait
    * until every started query has reported its termination. */
  def detach(): Unit = {
    val want = syncJobsDone.get() + 1
    sc.addJobTag(TagPrefix + SyncOp)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.removeJobTag(TagPrefix + SyncOp)
    val deadline = System.currentTimeMillis() + 60000
    while ((syncJobsDone.get() < want || !streamsOpen.isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.removeSparkListener(attributor)
    sc.removeSparkListener(totalsListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    org.apache.logging.log4j.core.config.Configurator.setLevel(codegenLogger, codegenLevel)
    ctx.updateLoggers()
    appender.stop()
  }

  // ---- client-side spans ------------------------------------------------

  /** Driver-side counters read around each call on the client thread. */
  private def driverCounters(): Map[String, Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Map(
      "fs.read_ops" -> CountingLocalFs.reads.get,
      "fs.large_read_ops" -> CountingLocalFs.lists.get,
      "fs.write_ops" -> CountingLocalFs.writes.get,
      "fs.bytes_read" -> fs.map(_.getBytesRead).sum,
      "fs.bytes_written" -> fs.map(_.getBytesWritten).sum,
      "jvm.driver_gc_ms" -> GcBeans.map(_.getCollectionTime).sum)
  }

  // One op at a time: the client is a single closed-loop thread.
  private var spanStartMs = 0L
  private var before: Map[String, Long] = Map.empty

  /** Open the span of op `id`: tag the client thread, read counters. */
  def begin(id: String): Unit = {
    graft.util.SessionMemo.drainBuildLog()
    before = driverCounters()
    spanStartMs = System.currentTimeMillis()
    sc.addJobTag(TagPrefix + id)
  }

  /** Close the span of op `id`; `callMs` is the time inside the call that
    * returned the result (the rest was materialization). */
  def end(id: String, callMs: Double): Unit = {
    sc.removeJobTag(TagPrefix + id)
    val b = bucket(id)
    b.set("span.start_ms", spanStartMs)
    b.set("span.end_ms", System.currentTimeMillis())
    b.add("operators.call_ms", callMs)
    val after = driverCounters()
    after.foreach { case (k, v) => b.add(k, v - before(k)) }
    val builds = graft.util.SessionMemo.drainBuildLog()
    b.add("memo.builds", builds.size)
    b.add("memo.build_ms", builds.map(_._2 * 1000).sum)
  }

  // ---- resolution -------------------------------------------------------

  /** Per-op ledgers (and the `unattributed` bucket) once the window is
    * detached: Catalyst phases, streaming progress and the driver gap are
    * joined to ops here, through the ids recorded at event time. */
  def ledgers(): Map[String, Map[String, Double]] = {
    execPhases.asScala.foreach { case (id, phases) =>
      val b = bucket(Option(execOp.get(id)).getOrElse(Unattributed))
      b.add("catalyst.analysis_ms", phases.getOrElse("analysis", 0L).toDouble)
      b.add("catalyst.optimizer_ms", phases.getOrElse("optimization", 0L).toDouble)
      b.add("catalyst.planning_ms", phases.getOrElse("planning", 0L).toDouble)
      b.add("catalyst.query_executions", 1)
    }
    progress.asScala.foreach { case (q, p) =>
      bucket(Option(queryOp.get(q)).getOrElse(Unattributed)).merge(p)
    }
    // Driver gap: op wall time during which none of its jobs ran.
    val jobsOf = jobOp.asScala.toSeq.groupBy(_._2).map { case (op, js) =>
      op -> js.map(_._1).flatMap(j =>
        Option(jobEnd.get(j)).map(e => (jobStart.get(j), e)))
    }
    buckets.asScala.foreach { case (op, b) =>
      val s = b.get("span.start_ms"); val e = b.get("span.end_ms")
      if (e > 0) {
        val covered = union(jobsOf.getOrElse(op, Nil)
          .map { case (a, z) => (math.max(a.toDouble, s), math.min(z.toDouble, e)) }
          .filter { case (a, z) => z > a })
        b.set("scheduler.driver_gap_ms", math.max(0.0, e - s - covered))
      }
    }
    buckets.asScala.map { case (k, b) => k -> b.snapshot }.toMap
  }
}

object Tracer {
  val TagPrefix = "perfbench-op-"
  val Unattributed = "unattributed"
  val SyncOp = "sync"
  val JobTagsKey = "spark.job.tags"
  val StreamQueryIdKey = "sql.streaming.queryId"
  val FallbackMarkers = Seq("Whole-stage codegen disabled",
    "whole-stage codegen was disabled")
  private val GcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Counters of one op (or of the global totals). */
  final class Bucket {
    private val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
    def set(k: String, v: Double): Unit = synchronized { m(k) = v }
    def get(k: String): Double = synchronized { m.getOrElse(k, 0.0) }
    def merge(o: Bucket): Unit = o.snapshot.foreach { case (k, v) => add(k, v) }
    def snapshot: Map[String, Double] = synchronized { m.toMap }
  }

  private def addTask(b: Bucket, e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      b.add("executor.run_ms", m.executorRunTime)
      b.add("executor.cpu_ms", m.executorCpuTime / 1e6)
      b.add("executor.gc_ms", m.jvmGCTime)
      b.add("scheduler.deser_ms", m.executorDeserializeTime)
      if (i != null) {
        val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime
        b.add("scheduler.task_launch_ms", math.max(0L, delay))
      }
      b.add("io.input_bytes", m.inputMetrics.bytesRead)
      b.add("io.input_records", m.inputMetrics.recordsRead)
      b.add("io.output_bytes", m.outputMetrics.bytesWritten)
      b.add("io.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      b.add("io.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      b.add("io.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      b.add("io.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Total length of the union of intervals. */
  private def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curA = Double.NaN; var curZ = Double.NaN
    xs.sortBy(_._1).foreach { case (a, z) =>
      if (curA.isNaN || a > curZ) {
        if (!curA.isNaN) total += curZ - curA
        curA = a; curZ = z
      } else curZ = math.max(curZ, z)
    }
    if (!curA.isNaN) total += curZ - curA
    total
  }
}
