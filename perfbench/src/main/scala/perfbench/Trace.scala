package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer of the program. `group` is the Spark job
  * group the call ran under, so engine work can be charged to it. */
final case class Span(id: Long, name: String, layer: String, parent: Long, opId: Long,
    group: String, startNs: Long, var endNs: Long = -1L, var ok: Boolean = true) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Engine work charged to one job group (one span, or one stream run). */
final class EngineStats {
  var jobs, stages, tasks, actions = 0L
  var taskMs, gcMs = 0L
  var shuffleWrite, shuffleRead, input, output, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0.0

  def add(o: EngineStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; actions += o.actions
    taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    input += o.input; output += o.output; spill += o.spill
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
  }
}

/** Spans plus the engine listeners that count Spark's work per span.
  *
  * Every span runs under its own `setJobGroup`; job, stage and task events
  * are charged to the group in their job's properties. Streaming queries set
  * their run id as job group, and `onQueryStarted` (called synchronously by
  * `start()`) maps that run id to the span that started the stream. Planning
  * phases come from `QueryExecution.tracker` and are charged to the span
  * whose interval holds the optimization phase's start. Anything left
  * unmatched is reported under `unattributed`.
  *
  * With `enabled = false` no spans are recorded and no job groups are set;
  * the listeners still run, because the untraced metrics (trigger times,
  * heap) need them. */
final class Trace(val enabled: Boolean) {
  val Unattributed = "unattributed"

  private val nextId = new AtomicLong(1)
  private val spans  = mutable.ArrayBuffer.empty[Span]
  private val open   = mutable.Stack.empty[Span]
  private var sc: SparkContext = _

  private val groupStats   = mutable.HashMap.empty[String, EngineStats]
  private val stageGroup   = mutable.HashMap.empty[Int, String]
  private val runIdSpan    = mutable.HashMap.empty[String, String]
  private val seenQe       = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())
  private val pendingPhases = mutable.ArrayBuffer.empty[(Long, Double, Double, Double)]
  /** Stream progress per run id: (batchId, durationMs map, input rows). */
  val progress = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Map[String, Long], Long)]]

  private def stats(g: String): EngineStats = groupStats.getOrElseUpdate(g, new EngineStats)
  private def groupOf(props: java.util.Properties): String = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(Unattributed)
    runIdSpan.getOrElse(g, g)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val g = groupOf(e.properties)
      stats(g).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stats(stageGroup.getOrElse(e.stageInfo.stageId, Unattributed)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val st = stats(stageGroup.getOrElse(e.stageId, Unattributed))
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.input += m.inputMetrics.bytesRead
        st.output += m.outputMetrics.bytesWritten
        st.spill += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        Trace.this.synchronized {
          val g = s.jobGroupId.map(id => runIdSpan.getOrElse(id, id)).getOrElse(Unattributed)
          stats(g).actions += 1
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      if (seenQe.add(qe)) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
        val at = ph.get("optimization").orElse(ph.get("planning")).orElse(ph.get("analysis"))
          .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
        pendingPhases += ((at, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = Trace.this.synchronized {
      val span = open.headOption.map(_.group).getOrElse(Unattributed)
      runIdSpan(e.runId.toString) = span
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.getOrElseUpdate(p.runId.toString, mutable.ArrayBuffer.empty) += ((p.batchId, d, p.numInputRows))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(): Unit = if (sc != null) org.apache.spark.perfbenchshim.Bus.drain(sc)

  /** Runs `body` as a span of `layer`. Untraced, only the wall time is kept. */
  def span[A](name: String, layer: String, opId: Long = 0L)(body: => A): (A, Double) = {
    val id = nextId.getAndIncrement()
    val parent = if (enabled) synchronized(open.headOption) else None
    val s = Span(id, name, layer, parent.map(_.id).getOrElse(0L), opId, s"pb-$id", System.nanoTime())
    if (enabled) {
      synchronized { spans += s; open.push(s) }
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
    }
    try {
      val r = body
      s.endNs = System.nanoTime()
      (r, s.ms)
    } catch {
      case t: Throwable => s.endNs = System.nanoTime(); s.ok = false; throw t
    } finally if (enabled) {
      synchronized(open.pop())
      parent match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Forgets everything recorded so far (set-up work), keeping the stream
    * run-id mapping of queries still running. */
  def reset(): Unit = {
    drain()
    synchronized {
      spans.clear(); groupStats.clear(); pendingPhases.clear(); progress.clear()
    }
  }

  /** Charges the time-attributed planning phases to spans and returns the
    * engine work per job group. Call after [[drain]]. */
  def engineByGroup(): Map[String, EngineStats] = synchronized {
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    def wallMs(ns: Long) = epochOffsetMs + ns / 1000000L
    val leafFirst = spans.sortBy(s => s.endNs - s.startNs) // innermost span wins
    pendingPhases.foreach { case (at, a, o, p) =>
      val g = leafFirst.find(s => wallMs(s.startNs) <= at && at <= wallMs(s.endNs))
        .map(_.group).getOrElse(Unattributed)
      val st = stats(g)
      st.analysisMs += a; st.optimizationMs += o; st.planningMs += p
    }
    pendingPhases.clear()
    groupStats.toMap
  }

  /** Per-layer self time: each span's duration minus the part its direct
    * children cover, summed by layer. */
  def selfMsByLayer(): Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum).sum
    }
  }

  def spansJson: String = allSpans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
      s""""op":${s.opId},"group":"${s.group}","start_ns":${s.startNs},"end_ns":${s.endNs},"ok":${s.ok}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Old-generation occupancy after every GC, via GC notifications: the peak
  * is the program's retained heap, not its allocation rate. */
final class HeapPeak {
  @volatile private var peak = 0L
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    .map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit = {
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (oldPools(pool)) synchronized { if (u.getUsed > peak) peak = u.getUsed }
        }
      }
    }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case b: javax.management.NotificationEmitter => b }
  def start(): Unit = { peak = 0L; beans.foreach(_.addNotificationListener(listener, null, null)) }
  def stop(): Unit = beans.foreach(b => try b.removeNotificationListener(listener) catch { case _: Exception => })
  def peakMb: Double = peak / 1048576.0
}

object HeapPeak {
  /** Old-generation occupancy after a full collection: the live set the
    * program retains once the window's work is done. The first collection
    * lets Spark's ContextCleaner release the broadcasts and shuffles that
    * became unreachable; the second collects what that freed. */
  def liveAfterFullGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }
}

/** The `spark` layer's figures: engine work over the measured window. */
object Engine {
  def metrics(trace: Trace, wallS: Double, nproc: Int): Seq[Metric] = {
    val byGroup = trace.engineByGroup()
    val t = new EngineStats
    byGroup.values.foreach(t.add)
    val mb = 1048576.0
    Seq(
      Metric("spark.jobs", t.jobs.toDouble, "count"),
      Metric("spark.stages", t.stages.toDouble, "count"),
      Metric("spark.tasks", t.tasks.toDouble, "count"),
      Metric("spark.task_ms", t.taskMs.toDouble, "ms"),
      Metric("spark.util", if (wallS > 0) t.taskMs / (wallS * 1000 * nproc) else 0.0, "ratio"),
      Metric("spark.shuffle_write_mb", t.shuffleWrite / mb, "MB"),
      Metric("spark.shuffle_read_mb", t.shuffleRead / mb, "MB"),
      Metric("spark.input_mb", t.input / mb, "MB"),
      Metric("spark.output_mb", t.output / mb, "MB"),
      Metric("spark.spill_mb", t.spill / mb, "MB"),
      Metric("spark.gc_ms", t.gcMs.toDouble, "ms"),
      Metric("spark.analysis_ms", t.analysisMs, "ms"),
      Metric("spark.optimization_ms", t.optimizationMs, "ms"),
      Metric("spark.planning_ms", t.planningMs, "ms"),
      Metric("spark.actions", t.actions.toDouble, "count"),
      Metric("spark.unattributed_jobs", byGroup.get(trace.Unattributed).map(_.jobs.toDouble).getOrElse(0.0), "count"))
  }

  /** One diagnostic line: engine work per span (job group), so each span's
    * jobs, tasks, shuffle and planning can be read beside its time. */
  def printGroups(trace: Trace): Unit = {
    val byGroup = trace.engineByGroup()
    val spanOf = trace.allSpans.map(s => s.group -> s).toMap
    val rows = byGroup.toSeq.sortBy(_._1).map { case (g, st) =>
      val label = spanOf.get(g).map(s => s"${s.layer}:${s.name}#${s.id}").getOrElse(g)
      label -> Json.obj(Seq(
        "jobs" -> st.jobs.toString, "stages" -> st.stages.toString, "tasks" -> st.tasks.toString,
        "actions" -> st.actions.toString, "task_ms" -> st.taskMs.toString, "gc_ms" -> st.gcMs.toString,
        "shuffle_write_mb" -> Json.num(st.shuffleWrite / 1048576.0),
        "plan_ms" -> Json.num(st.analysisMs + st.optimizationMs + st.planningMs)))
    }
    println("{\"engine_by_span\": " + Json.obj(rows) + "}")
  }
}
