package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and task counters of the jobs run under one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskWaitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L
  def +=(o: Counters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskWaitMs += o.taskWaitMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    recordsWritten += o.recordsWritten
    this
  }
}

/** What one finished query execution reports: planner phase time and
  * the SQL metrics of its scans and aggregates. */
final case class QueryStats(planMs: Double, scanFiles: Long, scanBytes: Long,
    scanRows: Long, aggMs: Long)

/** One traced interval. Times are microseconds since the tracer started;
  * `parent` is 0 for a root span. */
final class Span(val id: Long, val parent: Long, val name: String,
    val start: Long, var end: Long) {
  def group: String = s"perfbench-$id"
  def ms: Double = (end - start) / 1000.0
}

/** Tracing for the per-layer run, built from the benchmark's own files:
  * a SparkListener (jobs are tagged with job group = span id), a
  * QueryExecutionListener and a StreamingQueryListener. Spans stay in
  * memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val originNanos = System.nanoTime()
  private val originEpochMicros = System.currentTimeMillis() * 1000L
  private def now(): Long = (System.nanoTime() - originNanos) / 1000L
  private def fromEpochMs(ms: Long): Long = ms * 1000L - originEpochMicros

  private var nextId = 0L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val spanByGroup = new ConcurrentHashMap[String, Span]()
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val jobSpans = new ConcurrentHashMap[Int, Span]()
  val queries = new ConcurrentLinkedQueue[QueryStats]()
  val progress = new ConcurrentLinkedQueue[java.util.Map[String, java.lang.Long]]()

  // cached RDD blocks, for the peak of cached bytes inside an op
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var cachedPeak = 0L

  private def counters(group: String): Counters =
    groups.computeIfAbsent(group, _ => new Counters)
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      counters(g).synchronized(counters(g).jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
      // a job from a group the tracer did not open (a streaming query's
      // micro-batch) belongs to the operation the client is waiting in
      // jobs outside any traced operation get no span
      Option(spanByGroup.get(g)).orElse(Option(openRoot)).foreach { p =>
        jobSpans.put(e.jobId, new Span(-e.jobId - 1L, p.id, "job", fromEpochMs(e.time), -1L))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(e.jobId)).foreach { s =>
        s.end = fromEpochMs(e.time)
        Tracer.this.synchronized(spans += s)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(stageSubmitted.put(e.stageInfo.stageId, _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counters(Option(stageGroup.get(e.stageInfo.stageId)).getOrElse("none"))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val c = counters(Option(stageGroup.get(e.stageId)).getOrElse("none"))
        val queued = Option(stageSubmitted.get(e.stageId)).map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
        val schedDelay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.synchronized {
          c.tasks += 1
          c.taskRunMs += m.executorRunTime
          c.taskWaitMs += queued + schedDelay
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) Tracer.this.synchronized {
        val key = info.blockManagerId.executorId + "/" + info.blockId.name
        cachedBytes -= blocks.remove(key).getOrElse(0L)
        if (info.storageLevel.isValid) {
          val size = info.memSize + info.diskSize
          blocks(key) = size
          cachedBytes += size
        }
        cachedPeak = math.max(cachedPeak, cachedBytes)
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def stats(qe: QueryExecution): QueryStats = {
      val plan: SparkPlan = qe.executedPlan
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanLike => s.metrics }
      def sum(ms: Seq[Map[String, org.apache.spark.sql.execution.metric.SQLMetric]], k: String) =
        ms.flatMap(_.get(k)).map(_.value).sum
      val aggs = collectWithSubqueries(plan) { case p if p.metrics.contains("aggTime") => p.metrics }
      val planMs = qe.tracker.phases.collect {
        case (ph, s) if Set("analysis", "optimization", "planning")(ph) => s.durationMs.toDouble
      }.sum
      QueryStats(planMs, sum(scans, "numFiles"), sum(scans, "filesSize"),
        sum(scans, "numOutputRows"), sum(aggs, "aggTime"))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(Plans.stats(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress.durationMs)
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchAccess.drainListeners(sc)

  private val current = new ThreadLocal[Span]
  @volatile private var openRoot: Span = null

  /** Run `body` as a span whose Spark jobs carry the span's job group.
    * A span opened inside another one on the same thread is its child. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val parent = Option(current.get)
    val s = synchronized { nextId += 1; new Span(nextId, parent.map(_.id).getOrElse(0L), name, now(), -1L) }
    spanByGroup.put(s.group, s)
    current.set(s)
    if (parent.isEmpty) openRoot = s
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s.group, name)
    try (body, s)
    finally {
      s.end = now()
      current.set(parent.orNull)
      if (parent.isEmpty) openRoot = null
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      synchronized(spans += s)
    }
  }

  /** Counters of the jobs run under these spans (call after [[drain]]). */
  def countersOf(ss: Span*): Counters =
    ss.foldLeft(new Counters)((acc, s) => acc += counters(s.group))

  /** Counters of jobs from a job group the tracer did not open, such as
    * a streaming query's run id. */
  def countersOfGroup(group: String): Counters = new Counters += counters(group)

  def takeQueries(): Seq[QueryStats] = Iterator.continually(queries.poll()).takeWhile(_ != null).toSeq
  def takeProgress(): Seq[Map[String, Long]] =
    Iterator.continually(progress.poll()).takeWhile(_ != null)
      .map(_.asScala.map { case (k, v) => k -> v.longValue }.toMap).toSeq

  /** Peak cached bytes since the last call; restarts from the current level. */
  def takeCachedPeak(): Long = synchronized {
    val p = cachedPeak
    cachedPeak = cachedBytes
    p
  }

  /** Self time per span name: each span's duration minus the part of it
    * its child spans (jobs included) cover. Returns name -> (count, total ms, self ms). */
  def selfTimes(): Map[String, (Int, Double, Double)] = {
    val all = synchronized(spans.filter(_.end >= 0).toList)
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val cover = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var reach = s.start
        cover.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        (s.end - s.start - covered) / 1000.0
      }
      name -> ((ss.size, ss.map(_.ms).sum, self.sum))
    }
  }

  def writeSpans(path: Path): Unit = {
    val lines = synchronized(spans.toList).sortBy(_.start).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.start, "end_us" -> s.end))
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

object Tracer {
  /** Codegen compile time (ms) since process start. */
  def compileMs(): Double = PerfbenchAccess.compileStats()._2

  /** GC time (ms) of every collector since process start. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
}
