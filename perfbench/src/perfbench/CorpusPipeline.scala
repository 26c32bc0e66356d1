package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{Bpe, Dedup, LangModel}

/** The training-data side: each pass runs bigram LM scoring, BPE
  * training plus token counting, and MinHash-LSH near-duplicate
  * detection over a cached synthetic corpus, each ending in a noop
  * write.
  *
  * A pass takes several seconds, so a deadline would cut the window after
  * one pass on a slow moment and after two on a fast one. The measured
  * window is a fixed number of whole passes instead, sized to `seconds`
  * (see [[passes]]). */
final class CorpusPipeline(spark: SparkSession, seed: Long, work: Path, seconds: Double)
    extends Workload(spark, seed, work) {
  import CorpusPipeline._

  def primary: String = "pass"
  override def warmupSeconds: Double = 16.0
  private val dir = work.resolve("corpus_pipeline")
  private var corpus: Corpus = _
  private var df: DataFrame = _
  private var refNll: Map[Long, (Long, Double)] = _
  private var refMerges: Seq[(String, String, Long)] = _
  private var sample: Seq[Long] = _
  private var shingles: Map[Long, Set[String]] = _

  def setup(): String = {
    if (df != null) df.unpersist(blocking = true)
    Workload.deleteTree(dir)
    corpus = CorpusGen.corpus(seed, Docs)
    Files.createDirectories(dir.resolve("input"))
    val d = new Digest
    for (f <- 0 until InputFiles) {
      val lines = (f until Docs by InputFiles).map(i => s"$i,${corpus.docs(i)}\n").mkString
      val bytes = lines.getBytes(UTF_8)
      d.add(bytes)
      Files.write(dir.resolve("input").resolve(f"part-$f%04d.csv"), bytes)
    }
    df = spark.read.schema("id LONG, text STRING").csv(dir.resolve("input").toString).cache()
    df.count()
    refNll = null
    d.hex
  }

  /** The plain-Scala references first, so their garbage is collected
    * before the measured window; then one client on a quarter of the
    * corpus: the operators keep every core busy, so parallel clients would
    * only queue behind each other, and the JIT warms on the same code
    * paths at a fraction of the data. The first round of the three ops
    * takes most of the warm-up (codegen); later rounds bring the first
    * measured pass close to the ones after it. */
  def warmup(untilNanos: Long): Unit = {
    refNll = CorpusRef.bigramNll(corpus.docs)
    refMerges = CorpusRef.bpeTrain(corpus.docs, NumMerges)
    val r = new Rng(seed).fork(20)
    sample = Seq.fill(SampleDocs)(r.nextInt(Docs).toLong).distinct
    shingles = corpus.docs.indices.map(i => i.toLong -> CorpusRef.shingleSet(corpus.docs(i), ShingleK)).toMap
    val part = df.filter(col("id") % 4 === 0)
    Iterator.from(0).takeWhile(i => i < Ops.size || System.nanoTime() < untilNanos)
      .foreach(i => run(Ops(i % Ops.size), None, part))
  }

  /** Run one op: build (the graft call, including the eager jobs it
    * fires before returning), then the noop-write action. Returns a
    * function that collects the op's result for checking. */
  private def run(op: String, tracer: Option[Tracer], docs: DataFrame = df): (() => Option[String], Span, Span) = {
    def phase[T](name: String)(body: => T): (T, Span) =
      tracer.fold((body, null: Span))(_.span(name)(body))
    op match {
      case "lm_score" =>
        val (scored, b) = phase("build")(LangModel.scoreBigram(docs, col("text"), col("id")))
        val (_, a) = phase("action")(noop(scored))
        (() => Check.nll(scored.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap, refNll), b, a)
      case "bpe_count" =>
        val (counts, b) = phase("build") {
          val merges = Bpe.train(docs, col("text"), NumMerges)
          (merges, docs.select(col("id"), Bpe.tokenCount(col("text"), merges.map(m => (m.a, m.b))).as("tokens")))
        }
        val (_, a) = phase("action")(noop(counts._2))
        (() => Check.merges(counts._1.map(m => (m.a, m.b, m.freq)), refMerges).orElse {
          val got = counts._2.filter(col("id").isin(sample: _*)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val merges = refMerges.map(m => (m._1, m._2))
          Check.tokenCounts(got, sample.map(id => id -> CorpusRef.bpeTokenCount(corpus.docs(id.toInt), merges)).toMap)
        }, b, a)
      case "minhash_pairs" =>
        val (pairs, b) = phase("build")(Dedup.minhashLSH(docs, col("text"), col("id"), shingleK = ShingleK,
          numHashes = 16, bands = 8, jaccardThreshold = Threshold))
        val (_, a) = phase("action")(noop(pairs))
        (() => Check.pairs(pairs.select("id_a", "id_b", "jaccard").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
          corpus.planted, (x, y) => CorpusRef.jaccard(shingles(x), shingles(y)), Threshold), b, a)
    }
  }

  /** Whole passes in the measured window, at least three so that the
    * median is a middle pass; `untilNanos` is not used. */
  def passes: Int = math.max(3L, math.round(seconds / SecondsPerPass)).toInt

  def measure(untilNanos: Long, tracer: Option[Tracer]): Phase = {
    val ph = new Phase(primary)
    val gc0 = Tracer.gcMs()
    def add(k: String, v: Double): Unit = ph.layer(k) = ph.layer.getOrElse(k, 0.0) + v
    for (_ <- 0 until passes) {
      val traceThis = ph.traceNext(tracer)
      var passMs = 0.0
      var passOk = true
      for (op <- Ops) {
        val compile0 = Tracer.compileMs()
        val opGc0 = Tracer.gcMs()
        tracer.foreach(_.takeCachedPeak())
        val t0 = System.nanoTime()
        var lat = 0.0
        var spans: Option[(Span, Span, Span)] = None
        val ok = outcomes.attempt(op) {
          traceThis match {
            case None =>
              val (check, _, _) = run(op, None)
              lat = ms(t0)
              check
            case Some(tr) =>
              val ((check, b, a), s) = tr.span(op)(run(op, traceThis))
              lat = ms(t0)
              spans = Some((s, b, a))
              check
          }
        }(check => check())
        if (ok.isDefined) { ph.record(op, lat, traceThis.isDefined); passMs += lat } else passOk = false
        for (tr <- tracer) {
          tr.drain()
          val queries = tr.takeQueries()
          val cachedPeak = tr.takeCachedPeak()
          for ((s, b, a) <- spans) {
            val all = tr.countersOf(s, b, a)
            add(s"ops.$op.build_ms", b.ms)
            add(s"ops.$op.build_jobs", tr.countersOf(b).jobs.toDouble)
            add(s"ops.$op.action_ms", a.ms)
            add(s"ops.$op.action_jobs", tr.countersOf(a).jobs.toDouble)
            add(s"ops.$op.tasks", all.tasks.toDouble)
            add(s"ops.$op.shuffle_bytes", all.shuffleBytes.toDouble)
            add(s"ops.$op.spill_bytes", all.spillBytes.toDouble)
            add(s"ops.$op.compile_ms", Tracer.compileMs() - compile0)
            add(s"ops.$op.gc_ms", (Tracer.gcMs() - opGc0).toDouble)
            add(s"ops.$op.cached_mb_peak", cachedPeak / (1024.0 * 1024.0))
            add("sched.jobs_per_op", all.jobs.toDouble)
            add("sched.stages_per_op", all.stages.toDouble)
            add("sched.tasks_per_op", all.tasks.toDouble)
            add("sched.task_run_ms_per_op", all.taskRunMs.toDouble)
            add("sched.task_wait_ms_per_op", all.taskWaitMs.toDouble)
            add("sql.plan_ms_per_op", queries.map(_.planMs).sum)
          }
        }
      }
      if (passOk) {
        ph.record("pass", passMs, traceThis.isDefined)
        if (traceThis.isEmpty) {
          ph.work += Docs
          ph.busySeconds += passMs / 1000
        }
      }
      Heap.collect()
    }
    ph.gcMs = Tracer.gcMs() - gc0
    if (ph.tracedOps > 0) ph.layer.keys.toSeq.foreach(k => ph.layer(k) = ph.layer(k) / ph.tracedOps)
    ph
  }

  def named(ph: Phase): Seq[Metric] =
    Metric("corpus_docs_per_s", ph.work / ph.busySeconds, "1/s", ph.samples("pass").size) +:
      Ops.map(op => Metric(s"${op}_p50_ms", ph.p(op, 0.5), "ms", ph.samples(op).size))

  def properties: Seq[(String, Any)] = Seq(
    "docs" -> corpus.docs.length, "planted_pairs" -> corpus.planted.size,
    "vocabulary" -> corpus.vocab, "zipf_s" -> corpus.zipfS,
    "words_per_doc" -> s"${CorpusGen.MinWords}-${CorpusGen.MaxWords}",
    "bpe_merges" -> NumMerges, "bpe_sample_docs" -> Option(sample).map(_.size).getOrElse(0),
    "minhash" -> s"shingleK $ShingleK, 16 hashes, 8 bands, threshold $Threshold")

  override def close(): Unit = if (df != null) df.unpersist()
}

object CorpusPipeline {
  val Docs = 2000
  val Ops: Seq[String] = Seq("lm_score", "bpe_count", "minhash_pairs")
  val InputFiles = 4
  val NumMerges = 12
  val ShingleK = 2
  val Threshold = 0.3
  val SampleDocs = 200
  /** Measured seconds per pass, as sized on a 4-CPU host. */
  val SecondsPerPass = 7.0
}
