package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Samples of one measured phase. In a traced phase every other
  * operation is traced: its samples are kept apart (kind + [[Phase.Traced]])
  * and the untraced ones, taken in the same window, are the baseline for
  * the tracing overhead. */
final class Phase(val primary: String) {
  /** Latencies in ms, by operation kind. */
  val latency: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** Units of work done by untraced operations (reads, points, documents)
    * and the seconds spent on them. */
  var work = 0L
  var busySeconds = 0.0
  var ops = 0L
  var tracedOps = 0L
  var gcMs = 0L
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  /** The tracer for the next operation: every other one when tracing. */
  def traceNext(tracer: Option[Tracer]): Option[Tracer] = {
    val t = tracer.filter(_ => ops % 2 == 1)
    ops += 1
    if (t.isDefined) tracedOps += 1
    t
  }
  def record(kind: String, ms: Double, traced: Boolean = false): Unit =
    latency.getOrElseUpdate(if (traced) kind + Phase.Traced else kind, mutable.ArrayBuffer.empty) += ms
  def samples(kind: String): Seq[Double] = latency.getOrElse(kind, Nil).toSeq
  def p(kind: String, q: Double): Double = Stats.quantile(samples(kind), q)
}

object Phase {
  val Traced = "@traced"
}

/** One benchmark workload. [[Main]] calls [[setup]] several times, then
  * [[warmup]], then [[measure]] once per phase, then reads the metrics. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path) {
  val outcomes = new Outcomes
  /** Name of the operation kind whose latency is `op_p50_ms` / `op_p90_ms`. */
  def primary: String
  /** Generate the inputs and build the store or cache. Returns the digest
    * of the generated inputs. */
  def setup(): String
  /** Untimed, unchecked runs of every operation kind, repeated until
    * `untilNanos`, so the measured phase starts warm. */
  def warmup(untilNanos: Long): Unit
  /** How long [[warmup]] runs. */
  def warmupSeconds: Double = 4.0
  /** Closed loop of one client until `untilNanos`, or through a fixed
    * schedule of operations sized to the measured seconds. */
  def measure(untilNanos: Long, tracer: Option[Tracer]): Phase
  /** The workload's own end-to-end metrics, by their issue names. */
  def named(ph: Phase): Seq[Metric]
  /** Input properties recorded with every result. */
  def properties: Seq[(String, Any)]
  def close(): Unit = ()

  /** Run `body(0) .. body(n - 1)` on n threads and wait for all of them.
    * Warm-up uses several clients: the JIT warms by invocation counts, so
    * parallel clients bring the single measured client to steady state
    * in a fraction of the time. */
  protected def inParallel(n: Int)(body: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => errors.add(e) }, s"perfbench-warmup-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** (files, bytes) under `p`, skipping names in `skip`. */
  def du(p: Path, skip: String => Boolean = _ => false): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala
        .filter(f => Files.isRegularFile(f) && !p.relativize(f).iterator.asScala.exists(n => skip(n.toString)))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
}

/** Peak live heap: old-generation usage right after a full collection,
  * sampled outside the timed regions. */
object Heap {
  private val oldPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var peak = 0L

  /** A full collection, then the old generation's usage. The second
    * collection runs after Spark's ContextCleaner has had a moment to
    * drop the cached blocks that the first one found unreachable. */
  def collect(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldPools.foreach(p => peak = math.max(peak, p.getUsage.getUsed))
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}
