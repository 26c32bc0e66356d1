package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, timestamp_seconds}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Timeseries
import graft.model.{CountT, IntervalSpec}
import graft.streaming.StreamingIngest
import graft.time.TimeStep

/** The write path: a streaming append into the bucket store, fed one
  * input file at a time by a closed loop, with TTL compaction every
  * [[StreamIngest.CompactEvery]] batches and a read-back of the
  * compacted store after each compaction.
  *
  * The measured window is a fixed schedule rather than a deadline: whole
  * rounds of [[StreamIngest.CompactEvery]] batches plus one compaction
  * cycle, as many rounds as `seconds` / [[StreamIngest.SecondsPerRound]].
  * Every run of a given `seconds` then attempts the same operations, so
  * its `attempted` and `failed` counts do not depend on the host's speed
  * (the compaction read-back is a known failure, see the README). */
final class StreamIngest(spark: SparkSession, seed: Long, work: Path, seconds: Double)
    extends Workload(spark, seed, work) {
  import StreamIngest._

  def primary: String = "batch"
  /** The warm-up feeds files until 3 s before its end, then compacts and
    * reads back; with 4 s the streams saw two files each and the measured
    * batches kept getting faster through the window (about 450 ms to
    * 320 ms). */
  override def warmupSeconds: Double = 12.0
  private val dir = work.resolve("stream_ingest")
  private val watch = dir.resolve("watch")
  private val store = dir.resolve("store")
  private var pts: Points = _
  private var files: IndexedSeq[Path] = _
  private var t: Timeseries = _
  private var query: StreamingQuery = _
  private var next = 0
  private var maxTs = Long.MinValue
  private var lastStream = new Counters

  private def fileStart(i: Int): Int = (pts.size.toLong * i / files.size).toInt

  private def start(store: Path, ckpt: Path, watch: Path): StreamingQuery = {
    val events = spark.readStream.schema(Gen.EventsSchema).csv(watch.toString)
    StreamingIngest.appendToStore(t, events, col("name"), timestamp_seconds(col("ts")),
      col("value"), col("seq"), store.toString, ckpt.toString)
  }

  def setup(): String = {
    close()
    Workload.deleteTree(dir)
    pts = Gen.points(seed, Points, LateFrac)
    val (fs, digest) = pts.writeCsv(dir.resolve("input"), InputFiles)
    files = fs.toIndexedSeq
    t = new Timeseries(spark, CountT, Intervals)
    // the measured stream starts idle on an empty watched directory
    Files.createDirectories(watch)
    query = start(store, dir.resolve("ckpt"), watch)
    query.processAllAvailable()
    next = 0
    maxTs = Long.MinValue
    lastStream = new Counters
    digest
  }

  /** Throw-away streams, one per warm-up client, each into its own store
    * and fed copies of input files one at a time; then one compaction
    * and both read-backs per store. */
  def warmup(untilNanos: Long): Unit = inParallel(WarmupClients) { client =>
    val warm = dir.resolve(s"warmup-$client")
    Files.createDirectories(warm.resolve("watch"))
    val q = start(warm.resolve("store"), warm.resolve("ckpt"), warm.resolve("watch"))
    val stopFeeding = untilNanos - 3000000000L // leave time for compaction and reads
    var i = client
    var now = Long.MinValue
    while (i < WarmupClients || (i < files.size && System.nanoTime() < stopFeeding)) {
      Files.copy(files(i), warm.resolve("watch").resolve(files(i).getFileName))
      q.processAllAvailable()
      for (j <- fileStart(i) until fileStart(i + 1)) now = math.max(now, pts.ts(j))
      i += WarmupClients
    }
    q.stop()
    t.compact(warm.resolve("store").toString, now.toDouble)
    val reader = new Timeseries(spark, CountT, Intervals).load(warm.resolve("store").toString)
    for (interval <- Seq("hour", "minute"))
      try reader.series(Seq(pts.names(0)), interval, start = Some(now - 86400.0), end = Some(now.toDouble)).collect()
      catch { case _: Exception => () } // the minute read-back fails while compaction breaks the sink log
  }

  /** The number of batches in the measured window; `untilNanos` is not
    * used, see the class comment. */
  def batches: Int = {
    val rounds = math.max(1L, math.round(seconds / SecondsPerRound)).toInt
    math.min(rounds, files.size / CompactEvery) * CompactEvery
  }

  def measure(untilNanos: Long, tracer: Option[Tracer]): Phase = {
    val ph = new Phase(primary)
    val last = batches
    val gc0 = Tracer.gcMs()
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val afterCompaction = mutable.ArrayBuffer.empty[Double]
    var justCompacted = false
    def add(k: String, v: Double): Unit = ph.layer(k) = ph.layer.getOrElse(k, 0.0) + v
    while (next < last) {
      val f = files(next)
      val n = fileStart(next + 1) - fileStart(next)
      val traceThis = ph.traceNext(tracer)
      val storeBefore = if (traceThis.isDefined) Workload.du(store, _.startsWith("_")) else (0L, 0L)
      val t0 = System.nanoTime()
      Files.move(f, watch.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      val ok = outcomes.attempt("batch") {
        traced(traceThis, "batch")(query.processAllAvailable())
      }(_ => query.exception.map(e => s"stream failed: ${e.getMessage.take(200)}"))
      val lat = ms(t0)
      next += 1
      for (i <- fileStart(next - 1) until fileStart(next)) maxTs = math.max(maxTs, pts.ts(i))
      if (ok.isDefined) {
        ph.record("batch", lat, traceThis.isDefined)
        batchMs += lat
        if (traceThis.isEmpty) {
          ph.work += n
          ph.busySeconds += lat / 1000
        }
        if (justCompacted) { afterCompaction += lat; justCompacted = false }
      }
      for (tr <- tracer) {
        tr.drain()
        val c = tr.countersOfGroup(query.runId.toString)
        if (traceThis.isDefined) {
          val (filesAfter, bytesAfter) = Workload.du(store, _.startsWith("_"))
          add("sched.jobs_per_op", (c.jobs - lastStream.jobs).toDouble)
          add("sched.stages_per_op", (c.stages - lastStream.stages).toDouble)
          add("sched.tasks_per_op", (c.tasks - lastStream.tasks).toDouble)
          add("sched.task_run_ms_per_op", (c.taskRunMs - lastStream.taskRunMs).toDouble)
          add("sched.task_wait_ms_per_op", (c.taskWaitMs - lastStream.taskWaitMs).toDouble)
          add("write.log_rows_per_point", (c.recordsWritten - lastStream.recordsWritten).toDouble / n)
          add("write.bytes_per_batch", (bytesAfter - storeBefore._2).toDouble)
          add("write.files_per_batch", (filesAfter - storeBefore._1).toDouble)
        }
        lastStream = c
      }
      if (next % CompactEvery == 0) {
        justCompacted = true
        compactCycle(ph, tracer)
      }
    }
    ph.gcMs = Tracer.gcMs() - gc0
    for (tr <- tracer if ph.tracedOps > 0) {
      ph.layer.keys.toSeq.filter(k => !k.startsWith("compact.")).foreach(k => ph.layer(k) = ph.layer(k) / ph.tracedOps)
      val cycles = ph.samples("compact").size.max(1)
      ph.layer.keys.toSeq.filter(_.startsWith("compact.")).foreach(k => ph.layer(k) = ph.layer(k) / cycles)
      if (afterCompaction.nonEmpty && batchMs.nonEmpty)
        ph.layer("compact.stall_ms") = Stats.median(afterCompaction.toSeq) - Stats.median(batchMs.toSeq)
      val prog = tr.takeProgress()
      for ((k, key) <- ProgressKeys if prog.nonEmpty)
        ph.layer(k) = Stats.median(prog.map(_.getOrElse(key, 0L).toDouble))
    }
    ph
  }

  private def traced[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body)._1)

  /** TTL compaction while the stream is idle, then a read-back of the
    * compacted store through a fresh `Timeseries.load`. */
  private def compactCycle(ph: Phase, tracer: Option[Tracer]): Unit = {
    val minute = store.resolve("interval=minute")
    val before = Workload.du(minute)
    val t0 = System.nanoTime()
    val ok = outcomes.attempt("compact")(traced(tracer, "compact")(t.compact(store.toString, maxTs.toDouble)))(_ => None)
    val took = ms(t0)
    if (ok.isDefined) {
      ph.record("compact", took)
      ph.busySeconds += took / 1000
    }
    if (tracer.isDefined) {
      val after = Workload.du(minute)
      def add(k: String, v: Double): Unit = ph.layer(k) = ph.layer.getOrElse(k, 0.0) + v
      add("compact.bytes_read", before._2.toDouble)
      add("compact.bytes_written", after._2.toDouble)
      add("compact.files_before", before._1.toDouble)
      add("compact.files_after", after._1.toDouble)
    }
    val ingested = fileStart(next)
    val ref = new StoreRef(pts, _ < ingested)
    val hot = 0
    val reader = new Timeseries(spark, CountT, Intervals)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    val (from, to) = (maxTs - 86400L + 120L, maxTs)
    outcomes.attempt("readback_minute") {
      rows(reader.load(store.toString).series(Seq(pts.names(hot)), "minute",
        start = Some(from.toDouble), end = Some(to.toDouble)))
    }(got => Check.rows(got, ref.seriesMinute(Seq(hot), from, to)))
    val weekFrom = maxTs - 7 * 86400L
    outcomes.attempt("readback_hour") {
      rows(reader.load(store.toString).series(Seq(pts.names(hot)), "hour",
        start = Some(weekFrom.toDouble), end = Some(to.toDouble), condense = true))
    }(got => Check.rows(got, ref.seriesHourCondensed(hot, weekFrom, to)))
  }

  def named(ph: Phase): Seq[Metric] = Seq(
    Metric("ingest_points_per_s", ph.work / ph.busySeconds, "1/s", ph.work),
    Metric("batch_p50_ms", ph.p("batch", 0.5), "ms", ph.samples("batch").size),
    Metric("batch_p90_ms", ph.p("batch", 0.9), "ms", ph.samples("batch").size),
    Metric("compact_s", ph.samples("compact").sum / 1000, "s", ph.samples("compact").size),
    Metric("store_bytes_per_point", Workload.du(store, _.startsWith("_"))._2.toDouble / math.max(1, fileStart(next)),
      "B", fileStart(next)))

  def properties: Seq[(String, Any)] = Seq(
    "points" -> pts.size, "late_points" -> pts.late, "names" -> Gen.NameCount, "zipf_s" -> Gen.ZipfS,
    "days" -> Gen.Days, "input_files" -> files.size, "files_ingested" -> next,
    "compact_every_batches" -> CompactEvery,
    "store_files" -> Workload.du(store, _.startsWith("_"))._1,
    "store_bytes" -> Workload.du(store, _.startsWith("_"))._2)

  override def close(): Unit =
    if (query != null) { query.stop(); query = null }
}

object StreamIngest {
  val Points = 400000
  val WarmupClients = 2
  val InputFiles = 100
  val CompactEvery = 10
  /** Measured seconds per round of [[CompactEvery]] batches and one
    * compaction cycle, as sized on a 4-CPU host (about 0.45 s a batch). */
  val SecondsPerRound = 5.0
  val LateFrac = 0.01
  val Intervals: Map[String, IntervalSpec] = Map(
    "minute" -> IntervalSpec(TimeStep(60L), Some(1440), None),
    "hour" -> IntervalSpec(TimeStep(3600L), None, Some(TimeStep(60L))))
  /** Per-layer name -> StreamingQueryProgress.durationMs key. */
  val ProgressKeys: Seq[(String, String)] = Seq(
    "stream.trigger_ms" -> "triggerExecution", "stream.add_batch_ms" -> "addBatch",
    "stream.planning_ms" -> "queryPlanning", "stream.wal_commit_ms" -> "walCommit",
    "stream.commit_offsets_ms" -> "commitOffsets", "stream.latest_offset_ms" -> "latestOffset")
}
