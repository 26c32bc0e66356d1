package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload: set up [[SetupReps]] times, warm up for the
  * workload's `warmupSeconds`, measure for the given seconds, check every result,
  * and print the metrics. With `--trace 1` the listeners are installed,
  * every other operation is traced, and the per-layer metrics come from
  * the traced operations.
  *
  * Usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *   --work DIR --results DIR
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val results = Paths.get(opt("results")).toAbsolutePath
    Files.createDirectories(results)
    val loadBefore = loadAvg()

    SelfTest.checkers().foreach { why =>
      System.err.println(s"checker self-test failed: $why")
      sys.exit(3)
    }

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val w: Workload = name match {
      case "store_reads" => new StoreReads(spark, seed, work)
      case "stream_ingest" => new StreamIngest(spark, seed, work, seconds)
      case "corpus_pipeline" => new CorpusPipeline(spark, seed, work, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val compile0 = Tracer.compileMs()
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val digest = w.setup()
      ((System.nanoTime() - t0) / 1e9, digest)
    }
    val setupCompileMs = (Tracer.compileMs() - compile0) / SetupReps
    require(setups.map(_._2).distinct.size == 1,
      s"one seed gave different inputs across set-ups: ${setups.map(_._2)}")
    val warm0 = System.nanoTime()
    w.warmup(warm0 + (w.warmupSeconds * 1e9).toLong)
    val warmupS = (System.nanoTime() - warm0) / 1e9
    Heap.collect()

    val start = System.nanoTime()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val compileMeasured0 = Tracer.compileMs()
    val ph = w.measure(start + (seconds * 1e9).toLong, tracer)
    val measureCompileMs = Tracer.compileMs() - compileMeasured0
    tracer.foreach(_.uninstall())
    Heap.collect()

    val o = w.outcomes
    println(s"workload $name seed $seed: ${o.attempted} attempted, ${o.failed} failed " +
      s"(${o.threw} threw, ${o.wrong} wrong)")
    o.reasons.foreach { case (k, n) => println(s"  failure: $k x$n") }
    if (ph.samples(ph.primary).isEmpty) {
      System.err.println(s"no ${ph.primary} succeeded; no metrics")
      sys.exit(4)
    }

    val setupS = Stats.median(setups.map(_._1))
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s", SetupReps),
      Metric("op_p50_ms", ph.p(ph.primary, 0.5), "ms", ph.samples(ph.primary).size),
      Metric("op_p90_ms", ph.p(ph.primary, 0.9), "ms", ph.samples(ph.primary).size),
      Metric("work_per_s", ph.work / ph.busySeconds, "1/s", ph.work),
      Metric("live_heap_peak_mb", Heap.peakMb, "MB", 1))
    val named = w.named(ph) ++ Seq(
      Metric("failed_frac", w.outcomes.failed.toDouble / math.max(1L, w.outcomes.attempted), "1",
        w.outcomes.attempted))

    val layers: Seq[Metric] = tracer.toSeq.flatMap { tr =>
      val self = tr.selfTimes()
      val ops = math.max(1L, ph.tracedOps)
      val jobMs = self.get("job").map(_._2).getOrElse(0.0)
      val selfMs = self.collect { case (n, (_, _, s)) if n != "job" => s }.sum
      tr.writeSpans(results.resolve(s"${name}_seed${seed}.spans.jsonl"))
      val tracedPrimary = ph.samples(ph.primary + Phase.Traced)
      ph.layer.toSeq.map { case (k, v) => Metric(k, v, "", ph.tracedOps) } ++ Seq(
        Metric("jvm.gc_ms_per_op", ph.gcMs.toDouble / math.max(1L, ph.ops), "ms", ph.ops),
        Metric("ledger.engagements", graft.ops.Ledger.summary().map(_._2).sum.toDouble, "count", 1),
        Metric("sql.compile_ms", measureCompileMs, "ms", ph.ops),
        Metric("sql.compile_setup_ms", setupCompileMs, "ms", SetupReps),
        Metric("span.self_ms_per_op", selfMs / ops, "ms", ph.tracedOps),
        Metric("span.job_ms_per_op", jobMs / ops, "ms", ph.tracedOps)) ++
        (if (tracedPrimary.isEmpty) Nil
         else Seq(Metric("trace.overhead_ms", Stats.median(tracedPrimary) - ph.p(ph.primary, 0.5), "ms",
           tracedPrimary.size)))
    }

    val conditions = Seq(
      "nproc" -> cpus,
      "load1_before" -> loadBefore,
      "load1_after" -> loadAvg(),
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).mkString(" "),
      "java_version" -> System.getProperty("java.version"),
      "spark_master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "seconds" -> seconds, "seed" -> seed, "trace" -> trace)

    val all = endToEnd ++ named ++ layers
    val metricsJson = all.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n)).toMap
    val detail = Map(
      "workload" -> name,
      "conditions" -> conditions.toMap,
      "inputs" -> (w.properties :+ ("digest" -> setups.head._2)).toMap,
      "setup_s" -> setups.map(_._1),
      "warmup_s" -> warmupS,
      "latency_ms" -> (ph.latency.map { case (k, xs) =>
        k -> Map("n" -> xs.size, "p50" -> Stats.median(xs.toSeq), "p90" -> Stats.quantile(xs.toSeq, 0.9),
          "max" -> xs.max, "samples" -> xs)
      }),
      "outcomes" -> Map("attempted" -> o.attempted, "threw" -> o.threw, "wrong" -> o.wrong,
        "reasons" -> o.reasons),
      "metrics" -> metricsJson)
    val resultFile = results.resolve(s"${name}_seed${seed}_trace${if (trace) 1 else 0}.json")
    Files.write(resultFile, (Json(detail) + "\n").getBytes(UTF_8))

    (conditions ++ w.properties).foreach { case (k, v) => println(s"  $k = $v") }
    all.foreach(m => println(f"metric ${m.name}%-32s ${m.value}%14.4f ${m.unit}%-5s n=${m.n}"))
    println(s"result file $resultFile")
    println(Json(Map("correct" -> (o.wrong == 0 && o.attempted > 0), "attempted" -> o.attempted,
      "failed" -> o.failed, "metrics" -> metricsJson)))
    System.out.flush()
    w.close()
    spark.stop()
    sys.exit(0)
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
