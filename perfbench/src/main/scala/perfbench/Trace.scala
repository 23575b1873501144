package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Spans of one operation share `op`; `parent` is the
  * id of the span that caused this one (0 for the workload root).
  */
final case class Span(id: Long, parent: Long, op: String, layer: String, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Largest old-generation occupancy right after any GC, over the window
  * between `reset` and `peakMb`. Always on: it is an end-to-end metric.
  */
final class HeapWatch {
  private val peak = new AtomicLong(0L)
  @volatile private var armed = false
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .map(_.getName).filter(n => n.contains("Old") || n.contains("Tenured")).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if oldPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(after, math.max)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = { peak.set(0L); armed = true }

  /** Ends the window with a full collection, so a window with no GC of its
    * own still reports the live heap it left behind.
    */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200)
    armed = false
    peak.get / 1048576.0
  }
}

/** Per-layer recorder for a traced run. Everything is kept in memory and
  * written once when the run ends, and only the timed region is recorded.
  * A Spark job belongs to the operation named by its job group, which the
  * workload sets before each call; a streaming drain runs its jobs under
  * the stream's own group, so those go to the operation running when the
  * job started.
  */
final class Tracer(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val epochAtT0 = System.currentTimeMillis()
  @volatile private var recording = false
  @volatile private var window = (Double.MaxValue, Double.MaxValue)
  private val nextId = new AtomicLong(1L)
  val spans = new ConcurrentLinkedQueue[Span]()
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private val stageAgg = new ConcurrentLinkedQueue[StageInfo]()
  private val opSpanId = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Integer, (Double, String)]()
  private val jobs = new ConcurrentLinkedQueue[(Int, Double, Double, String)]()
  private val progress = new ConcurrentLinkedQueue[(Double, Double)]()

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def reserve(): Long = nextId.getAndIncrement()

  def span(id: Long, parent: Long, op: String, layer: String, name: String, startMs: Double, endMs: Double): Unit =
    if (enabled && recording) spans.add(Span(id, parent, op, layer, name, startMs, endMs))

  /** Bracket the timed region: spans are kept only inside it. */
  def record(on: Boolean): Unit = {
    recording = on
    window = if (on) (nowMs, Double.MaxValue) else (window._1, nowMs)
  }

  private def inWindow(ms: Double): Boolean = window._1 <= ms && ms <= window._2

  /** Span id of a running or finished operation, 0 when unknown. */
  def opId(op: String): Long = Option(opSpanId.get(op)).map(_.longValue).getOrElse(0L)

  /** Run `body` as operation `op` of `layer`, under a job group named after
    * it so the listener can attribute its Spark jobs.
    */
  def op[A](spark: SparkSession, parent: Long, op: String, layer: String, name: String)(body: => A): (A, Double) = {
    val id = reserve()
    val traced = enabled && recording
    if (traced) {
      opSpanId.put(op, id)
      spark.sparkContext.setJobGroup(op, name, interruptOnCancel = false)
    }
    val s = nowMs
    try {
      val out = body
      (out, nowMs - s)
    } finally {
      val e = nowMs
      if (traced) {
        spans.add(Span(id, parent, op, layer, name, s, e))
        spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Listener attaching Spark jobs, stages and streaming progress. */
  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val group = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        jobStart.put(js.jobId, (js.time - epochAtT0.toDouble, group))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(je.jobId)).foreach { case (s, group) =>
          jobs.add((je.jobId, s, je.time - epochAtT0.toDouble, group))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = stageAgg.add(sc.stageInfo)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        progress.add((ms("triggerExecution"), ms("addBatch")))
      }
    })
  }

  /** Fold what the listeners saw during the timed region into counters and
    * job spans. Events arrive asynchronously, so they are sorted into the
    * region by their own timestamps, not by when they arrived.
    */
  def drainListeners(): Unit = if (enabled) {
    def drain[A](q: ConcurrentLinkedQueue[A]): Seq[A] = Iterator.continually(q.poll()).takeWhile(_ != null).toList
    val ops = spans.asScala.filter(s => opSpanId.get(s.op) == s.id).toSeq
    drain(jobs).filter(j => inWindow(j._2)).foreach { case (jobId, s, e, group) =>
      val parent = Option(group).map(opId).filter(_ != 0L)
        .orElse(ops.find(o => o.startMs <= s && s <= o.endMs).map(_.id)).getOrElse(0L)
      val op = ops.find(_.id == parent).map(_.op).getOrElse("-")
      spans.add(Span(reserve(), parent, op, "spark", s"job $jobId", s, e))
      add("spark.jobs", 1)
    }
    drain(stageAgg).filter(_.submissionTime.exists(t => inWindow(t - epochAtT0.toDouble))).foreach { si =>
      add("spark.stages", 1)
      add("spark.tasks", si.numTasks)
      Option(si.taskMetrics).foreach { m =>
        add("spark.task_ms", m.executorRunTime.toDouble)
        add("spark.gc_ms", m.jvmGCTime.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("grid.points_written", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    drain(progress).foreach { case (trigger, addBatch) =>
      add("streaming.batches", 1)
      add("streaming.trigger_ms", trigger)
      add("streaming.add_batch_ms", addBatch)
    }
  }

  /** Time covered by the union of the spans of `layer`. */
  def busyMs(layer: String): Double = {
    val iv = spans.asScala.filter(_.layer == layer).map(s => (s.startMs, s.endMs)).toSeq.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def spansJson: String = spans.asScala.toSeq.sortBy(_.id).map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"layer":"${s.layer}","name":${Json.str(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("[\n", ",\n", "\n]")
}
