package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_seconds}

import graft.Timeseries
import graft.model.{CountT, IntervalSpec}
import graft.time.TimeStep

/** The paper's read path: kairos `get` / `series` against a saved bucket
  * store, one client in a closed loop. */
final class StoreReads(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  import StoreReads._

  def primary: String = "get"
  /** Read latency keeps falling for about 15 s of parallel reads after
    * set-up (JIT); a shorter warm-up leaves that trend in the window. */
  override def warmupSeconds: Double = 15.0
  private val dir = work.resolve("store_reads")
  private val storePath = dir.resolve("store").toString
  private var pts: Points = _
  private var ts: Timeseries = _
  private var ref: StoreRef = _
  private var storeFiles = 0L
  private var storeBytes = 0L
  private var recentStarts = 0L
  private var draws = Vector.empty[Int]
  private val rng = new Rng(seed).fork(10)
  private val zipf = new Zipf(Gen.NameCount, Gen.ZipfS)

  def setup(): String = {
    Workload.deleteTree(dir)
    pts = Gen.points(seed, Points, lateFrac = 0.0)
    val (_, digest) = pts.writeCsv(dir.resolve("input"), InputFiles)
    val events = spark.read.schema(Gen.EventsSchema).csv(dir.resolve("input").toString)
    val writer = new Timeseries(spark, CountT, Intervals)
    writer.attach(writer.bucketize(events, col("name"), timestamp_seconds(col("ts")),
      col("value"), col("seq")))
    writer.save(storePath)
    ts = new Timeseries(spark, CountT, Intervals).load(storePath)
    val (f, b) = Workload.du(dir.resolve("store"), n => n.startsWith(".") || n.startsWith("_"))
    storeFiles = f
    storeBytes = b
    ref = null
    digest
  }

  def warmup(untilNanos: Long): Unit = inParallel(WarmupClients) { client =>
    val r = new Rng(seed).fork(11 + client)
    Iterator.from(0).takeWhile(i => i < Kinds.size || System.nanoTime() < untilNanos).foreach { i =>
      val k = Kinds(i % Kinds.size)
      val names = Seq.fill(3)(zipf.sample(r)).distinct
      rows(read(k, Read(k, if (k == "series_joined") names else names.take(1),
        Gen.Start + (r.nextDouble() * (Gen.End - Gen.Start - 7 * 86400L)).toLong))._1)
    }
  }

  /** Seeded read mix: each block of 20 reads holds 10 `get`, 4 one-day
    * series, 3 seven-day condensed series and 3 three-name joined
    * series, in a shuffled order. */
  private val schedule: Iterator[Read] = Iterator.continually {
    val block = Array.fill(10)("get") ++ Array.fill(4)("series_day") ++
      Array.fill(3)("series_week") ++ Array.fill(3)("series_joined")
    for (i <- block.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = block(i); block(i) = block(j); block(j) = t
    }
    block.toSeq.map { k =>
      val n = if (k == "series_joined") 3 else 1
      val names = Iterator.continually(zipf.sample(rng)).distinct.take(n).toSeq
      val recent = rng.nextDouble() < 0.5
      val span = if (k == "series_week") 7 * 86400L else if (k == "get") 60L else 86400L
      val start =
        if (recent) Gen.End - 86400L + rng.nextInt(86400)
        else Gen.Start + (rng.nextDouble() * (Gen.End - Gen.Start - span)).toLong
      Read(k, names, start)
    }
  }.flatten

  private def read(kind: String, r: Read): (DataFrame, Seq[(Long, Double)] => Option[String]) = {
    val names = r.names.map(pts.names)
    def want = kind match {
      case "get" => ref.getMinute(r.names.head, r.start)
      case "series_day" | "series_joined" => ref.seriesMinute(r.names, r.start, r.start + 86400L - 60L)
      case "series_week" => ref.seriesHourCondensed(r.names.head, r.start, r.start + 7 * 86400L - 3600L)
    }
    val df = kind match {
      case "get" => ts.get(names, "minute", r.start.toDouble)
      case "series_day" | "series_joined" =>
        ts.series(names, "minute", start = Some(r.start.toDouble), end = Some((r.start + 86400L - 60L).toDouble))
      case "series_week" =>
        ts.series(names, "hour", start = Some(r.start.toDouble),
          end = Some((r.start + 7 * 86400L - 3600L).toDouble), condense = true)
    }
    (df, got => Check.rows(got, want))
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  def measure(untilNanos: Long, tracer: Option[Tracer]): Phase = {
    if (ref == null) ref = new StoreRef(pts)
    val ph = new Phase(primary)
    val gc0 = Tracer.gcMs()
    var tracedRows = 0L
    val phaseDraws = Vector.newBuilder[Int]
    while (System.nanoTime() < untilNanos) {
      val r = schedule.next()
      draws = draws ++ r.names
      phaseDraws ++= r.names
      if (r.start >= Gen.End - 86400L) recentStarts += 1
      val cls = if (r.kind == "get") "get" else "series"
      val traceThis = ph.traceNext(tracer)
      val t0 = System.nanoTime()
      var t1 = 0L
      var spans: Option[(Span, Span, Span)] = None
      val got = outcomes.attempt(r.kind) {
        traceThis match {
          case None =>
            val (df, check) = read(r.kind, r)
            val out = rows(df)
            t1 = System.nanoTime()
            (out, check)
          case Some(tr) =>
            var build, action: Span = null
            val (res, op) = tr.span(s"read:${r.kind}") {
              val ((df, check), b) = tr.span("build")(read(r.kind, r))
              val (out, a) = tr.span("action")(rows(df))
              build = b
              action = a
              (out, check)
            }
            t1 = System.nanoTime()
            spans = Some((op, build, action))
            res
        }
      } { case (out, check) => check(out) }
      val lat = (t1 - t0) / 1e6
      got.foreach { case (out, _) =>
        ph.record(cls, lat, traceThis.isDefined)
        if (r.kind != cls) ph.record(r.kind, lat, traceThis.isDefined)
        if (traceThis.isDefined) tracedRows += out.size
        else {
          ph.work += 1
          ph.busySeconds += lat / 1000
        }
      }
      for (tr <- tracer) {
        tr.drain()
        val q = tr.takeQueries()
        for ((op, b, a) <- spans) {
          val c = tr.countersOf(op, b, a)
          def add(k: String, v: Long): Unit = addD(k, v.toDouble)
          def addD(k: String, v: Double): Unit = ph.layer(k) = ph.layer.getOrElse(k, 0.0) + v
          addD("ts.read_build_ms", b.ms)
          add("ts.read_build_jobs", tr.countersOf(b).jobs)
          add("sched.jobs_per_op", c.jobs)
          add("sched.stages_per_op", c.stages)
          add("sched.tasks_per_op", c.tasks)
          add("sched.task_run_ms_per_op", c.taskRunMs)
          add("sched.task_wait_ms_per_op", c.taskWaitMs)
          addD("sql.plan_ms_per_op", q.map(_.planMs).sum)
          add("scan.files_per_read", q.map(_.scanFiles).sum)
          add("scan.bytes_per_read", q.map(_.scanBytes).sum)
          add("scan.rows_per_read", q.map(_.scanRows).sum)
          add("shuffle.bytes_per_read", c.shuffleBytes)
          add("fold.agg_ms_per_read", q.map(_.aggMs).sum)
        }
      }
    }
    ph.gcMs = Tracer.gcMs() - gc0
    if (ph.tracedOps > 0) {
      val rowsExamined = ph.layer.getOrElse("scan.rows_per_read", 0.0)
      ph.layer.keys.toSeq.foreach(k => ph.layer(k) = ph.layer(k) / ph.tracedOps)
      ph.layer("scan.rows_per_result_row") = rowsExamined / math.max(1L, tracedRows)
      ph.layer("input.hot_name_share") = Gen.hotShare(phaseDraws.result())
    }
    ph
  }

  def named(ph: Phase): Seq[Metric] = Seq(
    Metric("get_p50_ms", ph.p("get", 0.5), "ms", ph.samples("get").size),
    Metric("get_p90_ms", ph.p("get", 0.9), "ms", ph.samples("get").size),
    Metric("series_p50_ms", ph.p("series", 0.5), "ms", ph.samples("series").size),
    Metric("series_p90_ms", ph.p("series", 0.9), "ms", ph.samples("series").size),
    Metric("reads_per_s", ph.work / ph.busySeconds, "1/s", ph.work))

  def properties: Seq[(String, Any)] = Seq(
    "points" -> pts.size, "names" -> Gen.NameCount, "zipf_s" -> Gen.ZipfS,
    "days" -> Gen.Days, "input_files" -> InputFiles,
    "store_files" -> storeFiles, "store_bytes" -> storeBytes,
    "input.hot_name_share" -> Gen.hotShare(draws),
    "recent_day_read_share" -> (if (draws.isEmpty) 0.0 else recentStarts.toDouble / outcomes.attempted))
}

object StoreReads {
  val Points = 200000
  val WarmupClients = 3
  final case class Read(kind: String, names: Seq[Int], start: Long)

  val InputFiles = 8
  val Kinds: Seq[String] = Seq("get", "series_day", "series_week", "series_joined")
  val Intervals: Map[String, IntervalSpec] = Map(
    "minute" -> IntervalSpec(TimeStep(60L)),
    "hour" -> IntervalSpec(TimeStep(3600L), None, Some(TimeStep(60L))))
}
