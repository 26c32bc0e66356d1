package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Count-type datapoints in arrival order: point i has sequence number i,
  * name `names(nameIdx(i))`, epoch-second time `ts(i)` and increment
  * `value(i)`. */
final class Points(val names: Array[String], val nameIdx: Array[Int],
    val ts: Array[Long], val value: Array[Int], val late: Int) {
  def size: Int = ts.length

  /** CSV lines `name,ts,value,seq` for points [from, until). */
  def csv(from: Int, until: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder((until - from) * 24)
    var i = from
    while (i < until) {
      sb.append(names(nameIdx(i))).append(',').append(ts(i)).append(',')
        .append(value(i)).append(',').append(i).append('\n')
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Write the points as `files` CSV chunks of consecutive points;
    * returns the chunk paths and the digest of their bytes. */
  def writeCsv(dir: Path, files: Int): (Seq[Path], String) = {
    Files.createDirectories(dir)
    val d = new Digest
    val paths = (0 until files).map { f =>
      val bytes = csv((size.toLong * f / files).toInt, (size.toLong * (f + 1) / files).toInt)
      d.add(bytes)
      Files.write(dir.resolve(f"part-$f%04d.csv"), bytes)
    }
    (paths, d.hex)
  }
}

object Gen {
  val NameCount = 1000
  val ZipfS = 1.1
  val Days = 30
  /** End of the generated time range: 2024-01-31T00:00:00Z. */
  val End: Long = 1706659200L
  val Start: Long = End - Days * 86400L
  val EventsSchema = "name STRING, ts LONG, value INT, seq LONG"

  /** Names ranked by popularity: rank 0 is the hottest. The rank→name
    * map is a seeded shuffle, so hot names are scattered over the key
    * space instead of sorting first. */
  def names(seed: Long): Array[String] = {
    val r = new Rng(seed).fork(1)
    val a = Array.tabulate(NameCount)(i => f"stat.$i%04d")
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** `n` time-ordered points over [Start, End) with Zipf(ZipfS) name
    * popularity. A `lateFrac` share arrives up to an hour late: its
    * timestamp lies up to 3600 s before its arrival position. */
  def points(seed: Long, n: Int, lateFrac: Double): Points = {
    val r = new Rng(seed).fork(2)
    val zipf = new Zipf(NameCount, ZipfS)
    val span = End - Start
    val arrive = Array.fill(n)(Start + (r.nextDouble() * span).toLong)
    java.util.Arrays.sort(arrive)
    val nameIdx = new Array[Int](n)
    val value = new Array[Int](n)
    var late = 0
    val ts = arrive.map { a =>
      if (r.nextDouble() < lateFrac) { late += 1; math.max(Start, a - 1 - r.nextInt(3600)) }
      else a
    }
    for (i <- 0 until n) {
      nameIdx(i) = zipf.sample(r)
      value(i) = 1 + r.nextInt(4)
    }
    new Points(names(seed), nameIdx, ts, value, late)
  }

  /** Share of `draws` (name ranks) that hit the 10 hottest names. */
  def hotShare(ranks: Seq[Int]): Double =
    if (ranks.isEmpty) 0.0 else ranks.count(_ < 10).toDouble / ranks.size
}

/** A synthetic training corpus: `docs(i)` has id i. `planted` lists the
  * (source, copy) near-duplicate pairs, source < copy. */
final class Corpus(val docs: Array[String], val planted: Seq[(Long, Long)],
    val vocab: Int, val zipfS: Double) {
  def digest: String = {
    val d = new Digest
    docs.foreach { t => d.add(t); d.add("\n") }
    d.hex
  }
}

object CorpusGen {
  val Vocab = 20000
  val ZipfS = 1.0
  val MinWords = 30
  val MaxWords = 90
  val DupFrac = 0.05
  val MinDupWords = 50

  /** Seeded vocabulary of distinct lowercase words, 2-9 letters. */
  def vocabulary(seed: Long): Array[String] = {
    val r = new Rng(seed).fork(3)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < Vocab) {
      val len = 2 + r.nextInt(8)
      seen += new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    seen.toArray
  }

  /** `n` documents of MinWords..MaxWords Zipf-drawn words. About
    * DupFrac of them are planted near-duplicates: a copy of an earlier
    * original document of at least MinDupWords words with one word
    * replaced. Such a pair's 2-shingle Jaccard is at least
    * (50 - 3) / (50 + 1) = 0.92, so the 8-band x 2-row LSH used here
    * misses it with probability below 3e-7; a missed planted pair is a
    * recall defect, not bad luck. */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new Rng(seed).fork(4)
    val words = vocabulary(seed)
    val zipf = new Zipf(Vocab, ZipfS)
    val docs = new Array[Array[String]](n)
    val isCopy = new Array[Boolean](n)
    val usedAsSource = new Array[Boolean](n)
    val planted = Seq.newBuilder[(Long, Long)]
    for (i <- 0 until n) {
      val src =
        if (i < 10 || r.nextDouble() >= DupFrac) -1
        else Iterator.fill(20)(r.nextInt(i))
          .find(j => !isCopy(j) && !usedAsSource(j) && docs(j).length >= MinDupWords).getOrElse(-1)
      if (src >= 0) {
        val d = docs(src).clone()
        d(1 + r.nextInt(d.length - 2)) = words(zipf.sample(r))
        docs(i) = d
        isCopy(i) = true
        usedAsSource(src) = true
        planted += ((src.toLong, i.toLong))
      } else {
        val len = MinWords + r.nextInt(MaxWords - MinWords + 1)
        docs(i) = Array.fill(len)(words(zipf.sample(r)))
      }
    }
    new Corpus(docs.map(_.mkString(" ")), planted.result(), Vocab, ZipfS)
  }
}
