package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One call into an engine layer, made by the benchmark.  Times are epoch
  * milliseconds; `counts` holds the span-specific counters.
  */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    startMs: Double,
    endMs: Double,
    counts: Map[String, Double],
    streamBatch: Option[(String, Long)] = None)

/** Span recorder plus the Spark-side collectors the per-layer metrics are
  * joined from.  With `enabled = false` every method is a pass-through and
  * nothing is registered with Spark, so end-to-end runs pay nothing.
  *
  * Attribution: a span sets the `perfbench.span` local property (read back
  * from each job's properties) and a job tag (read back from each SQL
  * execution's start event, which carries the thread's tags).  Streaming
  * jobs carry their query id and batch id instead; trigger spans are built
  * from the query's progress reports and claim the jobs of their batch.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val TagPrefix = "perfbench-span-"

  private final case class Job(
      id: Int, span: Option[Int], stream: Option[(String, Long)],
      exec: Option[Long], startMs: Long, stages: Seq[Int], var endMs: Long = -1L)
  private final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var recordsWritten = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val execPlanMs = mutable.HashMap.empty[Long, Double]
  private val gcPauses = mutable.ArrayBuffer.empty[(Double, Double)]
  @volatile private var events = 0L

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      events += 1
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val stream = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
        yield (q, b.toLong)
      jobs(e.jobId) = Job(e.jobId, prop("perfbench.span").map(_.toInt), stream,
        prop("spark.sql.execution.id").map(_.toLong), e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      events += 1
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      events += 1
      val m = e.taskMetrics
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        events += 1
        val ids = s.jobTags.collect { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt }
        if (ids.nonEmpty) execSpan(s.executionId) = ids.max
      }
      case e: SparkListenerSQLExecutionEnd => lock.synchronized {
        events += 1
        // the end event carries the execution's QueryExecution (a field
        // Spark keeps package-private, hence the reflective read)
        e.getClass.getMethod("qe").invoke(e) match {
          case qe: QueryExecution =>
            val ph = qe.tracker.phases
            val ms = Seq("analysis", "optimization", "planning")
              .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
            execPlanMs(e.executionId) = ms
          case _ =>
        }
      }
      case _ =>
    }
  }

  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val g = info.getGcInfo
        lock.synchronized {
          gcPauses += (((jvmStart + g.getStartTime).toDouble, g.getDuration.toDouble))
        }
      }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
      case _ =>
    }
  }

  private def nowMs: Double = System.currentTimeMillis().toDouble

  private var active = false

  /** Record spans from here on (set-up and warm-up calls are not traced). */
  def start(): Unit = active = true

  /** Run `body` as a span named `name`. */
  def span[T](name: String)(body: => T): T = spanWith(name, (_: T) => Map.empty[String, Double])(body)

  /** [[span]] with span-specific counters, computed from the body's result
    * after the span has ended.
    */
  def spanWith[T](name: String, counts: T => Map[String, Double])(body: => T): T = {
    if (!enabled || !active) return body
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.addJobTag(TagPrefix + id)
    val start = nowMs
    val result =
      try body
      finally {
        sc.removeJobTag(TagPrefix + id)
        stack = stack.tail
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
      }
    val end = nowMs
    spans += Span(id, name, parent, start, end, counts(result))
    result
  }
  private var nextId = 0

  /** A span that ran on a streaming query's thread: one trigger of query
    * `queryId`, batch `batchId`, from its progress report.
    */
  def streamSpan(name: String, startMs: Double, durMs: Double, queryId: String, batchId: Long,
      counts: Map[String, Double]): Unit =
    if (enabled && active) {
      nextId += 1
      spans += Span(nextId, name, 0, startMs, startMs + durMs, counts,
        Some((queryId, batchId)))
    }

  /** Add counters to every span named `name` (for counts measured once,
    * outside the spans, so that measuring them does not inflate the spans).
    */
  def addCounts(name: String, counts: Map[String, Double]): Unit =
    if (enabled) {
      for (i <- spans.indices if spans(i).name == name)
        spans(i) = spans(i).copy(counts = spans(i).counts ++ counts)
    }

  /** Wait until the listener bus has delivered every job end and has been
    * quiet for a moment, so the joins below see all events.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 15_000_000_000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(150)
      val (ev, open) = lock.synchronized((events, jobs.values.count(_.endMs < 0)))
      if (ev == last && open == 0) quiet += 1 else quiet = 0
      last = ev
    }
  }

  /** Per-span metrics joined from the collected events, and the per-layer
    * table: for each span name, `calls` plus the per-call mean of every
    * other metric.  Also returns the largest gap-closure residual: for each
    * span, `gap_s + covered job time - wall_s`, which is 0 when every job
    * of the span lies inside it.
    */
  def report(): (Seq[(Span, Map[String, Double])], Map[String, Map[String, Double]], Double) =
    lock.synchronized {
      val byStream = spans.flatMap(s => s.streamBatch.map(_ -> s.id)).toMap
      def spanOf(j: Job): Option[Int] =
        j.span.orElse(j.stream.flatMap(byStream.get))
          .orElse(j.exec.flatMap(execSpan.get))
      val jobsBySpan = jobs.values.toSeq.flatMap(j => spanOf(j).map(_ -> j)).groupMap(_._1)(_._2)
      // a SQL execution belongs to the span its start event carried, or to
      // the span of any of its jobs
      val execOwner = execSpan.toMap ++ jobs.values.flatMap(j =>
        j.exec.filterNot(execSpan.contains).flatMap(e => spanOf(j).map(e -> _)))
      val planBySpan = execPlanMs.toSeq.flatMap { case (e, ms) => execOwner.get(e).map(_ -> ms) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      var residual = 0.0
      val perSpan = spans.toSeq.sortBy(_.id).map { s =>
        val js = jobsBySpan.getOrElse(s.id, Nil)
        val aggs = js.flatMap(_.stages).distinct.flatMap(stages.get)
        val wall = s.endMs - s.startMs
        val clipped = union(js.map(j => (math.max(j.startMs.toDouble, s.startMs),
          math.min(math.max(j.endMs, j.startMs).toDouble, s.endMs))))
        val covered = union(js.map(j => (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble)))
        residual = math.max(residual, math.abs(covered - clipped))
        val gc = gcPauses.collect { case (st, d) if st >= s.startMs && st < s.endMs => d }.sum
        val m = Map(
          "wall_s" -> wall / 1000.0,
          "jobs" -> js.size.toDouble,
          "tasks" -> aggs.map(_.tasks).sum.toDouble,
          "plan_s" -> planBySpan.getOrElse(s.id, 0.0) / 1000.0,
          "exec_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9,
          "gc_s" -> gc / 1000.0,
          "shuffle_mb" -> aggs.map(_.shuffleBytes).sum / 1e6,
          "spill_mb" -> aggs.map(_.spillBytes).sum / 1e6,
          "gap_s" -> (wall - clipped) / 1000.0,
          "job_s" -> clipped / 1000.0,
          "records_written" -> aggs.map(_.recordsWritten).sum.toDouble) ++ s.counts
        (s, m)
      }
      val layers = perSpan.groupBy(_._1.name).map { case (name, xs) =>
        val keys = xs.flatMap(_._2.keys).distinct
        name -> (Map("calls" -> xs.size.toDouble) ++
          keys.map(k => k -> xs.map(_._2.getOrElse(k, 0.0)).sum / xs.size))
      }
      (perSpan, layers, residual / 1000.0)
    }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
