package perfbench

import scala.collection.mutable

/** Plain-Scala reference for count-type reads over a set of points:
  * per name, the sum of increments in each minute bucket. */
final class StoreRef(p: Points, keep: Int => Boolean = _ => true) {
  private val perMinute: Array[mutable.LongMap[Double]] =
    Array.fill(p.names.length)(mutable.LongMap.empty[Double])
  for (i <- 0 until p.size if keep(i)) {
    val m = perMinute(p.nameIdx(i))
    val b = Math.floorDiv(p.ts(i), 60L)
    m(b) = m.getOrElse(b, 0.0) + p.value(i)
  }
  private val perHour: Array[mutable.LongMap[Double]] = perMinute.map { m =>
    val h = mutable.LongMap.empty[Double]
    m.foreach { case (b, v) => val hb = Math.floorDiv(b, 60L); h(hb) = h.getOrElse(hb, 0.0) + v }
    h
  }

  /** `get` at minute: the bucket holding `t`, present even when empty. */
  def getMinute(name: Int, t: Long): Seq[(Long, Double)] = {
    val b = Math.floorDiv(t, 60L)
    Seq((b * 60, perMinute(name).getOrElse(b, 0.0)))
  }

  /** Dense minute `series` over [from, to], joined (summed) over names. */
  def seriesMinute(names: Seq[Int], from: Long, to: Long): Seq[(Long, Double)] =
    (Math.floorDiv(from, 60L) to Math.floorDiv(to, 60L)).map { b =>
      (b * 60, names.map(n => perMinute(n).getOrElse(b, 0.0)).sum)
    }

  /** Condensed hour `series` over [from, to]: hour buckets that hold
    * data only (a fine interval's condensed read is sparse). */
  def seriesHourCondensed(name: Int, from: Long, to: Long): Seq[(Long, Double)] = {
    val (b0, b1) = (Math.floorDiv(from, 3600L), Math.floorDiv(to, 3600L))
    perHour(name).iterator.filter { case (b, _) => b >= b0 && b <= b1 }
      .toSeq.sortBy(_._1).map { case (b, v) => (b * 3600, v) }
  }
}

/** Plain-Scala references for the corpus operators, written from the
  * operators' documented semantics, not from their code. */
object CorpusRef {
  def tokens(text: String): Array[String] = text.trim.toLowerCase.split("\\s+")

  /** Add-k bigram NLL per document: p(w2|w1) = (c(w1 w2) + k) /
    * (c(w1 .) + k V), V the number of distinct tokens; a document's
    * score is its mean -log p over its bigrams, rounded half-up to
    * `roundTo` places. Returns doc id -> (bigrams, nll). */
  def bigramNll(docs: Array[String], k: Double = 0.5, roundTo: Int = 6): Map[Long, (Long, Double)] = {
    val toks = docs.map(tokens)
    val c2 = mutable.HashMap.empty[(String, String), Long]
    val c1 = mutable.HashMap.empty[String, Long]
    val vocab = mutable.HashSet.empty[String]
    toks.foreach { t =>
      vocab ++= t
      for (i <- 0 until t.length - 1) {
        c2((t(i), t(i + 1))) = c2.getOrElse((t(i), t(i + 1)), 0L) + 1
        c1(t(i)) = c1.getOrElse(t(i), 0L) + 1
      }
    }
    val v = vocab.size.toDouble
    toks.zipWithIndex.collect { case (t, id) if t.length >= 2 =>
      var nll = 0.0
      for (i <- 0 until t.length - 1) {
        val p = (c2((t(i), t(i + 1))) + k) / (c1(t(i)) + k * v)
        nll -= math.log(p)
      }
      val n = t.length - 1L
      id.toLong -> ((n, BigDecimal(nll / n).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
  }

  /** Greedy left-to-right, non-overlapping application of one merge. */
  def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += a + b; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** BPE training: from characters, repeatedly merge the most frequent
    * adjacent pair (ties: a, then b, ascending). Returns (a, b, freq). */
  def bpeTrain(docs: Array[String], numMerges: Int): Seq[(String, String, Long)] = {
    val wc = mutable.HashMap.empty[String, Long]
    docs.foreach(d => tokens(d).filter(_.nonEmpty).foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1))
    var words = wc.toSeq.map { case (w, c) => (w.split(""), c) }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (out.size < numMerges && !done) {
      val pc = mutable.HashMap.empty[(String, String), Long]
      for ((s, c) <- words; i <- 0 until s.length - 1)
        pc((s(i), s(i + 1))) = pc.getOrElse((s(i), s(i + 1)), 0L) + c
      if (pc.isEmpty) done = true
      else {
        val ((a, b), f) = pc.toSeq.min(Ordering.by[((String, String), Long), (Long, String, String)] {
          case ((x, y), n) => (-n, x, y)
        })
        out += ((a, b, f))
        words = words.map { case (s, c) => (applyMerge(s, a, b), c) }
      }
    }
    out.toSeq
  }

  /** BPE token count of a text: every word split to characters, the
    * merges replayed in rank order, symbols counted. */
  def bpeTokenCount(text: String, merges: Seq[(String, String)]): Long =
    tokens(text).filter(_.nonEmpty).map { w =>
      merges.foldLeft(w.split(""))((s, m) => applyMerge(s, m._1, m._2)).length.toLong
    }.sum

  /** Word k-shingles as a set; a text shorter than k words is one shingle. */
  def shingleSet(text: String, k: Int): Set[String] = {
    val t = text.trim.toLowerCase.split("\\s+", -1)
    if (t.length < k) Set(t.mkString(" ")) else t.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size
}

/** Result checkers. Each returns None when `got` matches, else the
  * first difference. */
object Check {
  def rows(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).collectFirst {
      case (g, w) if g != w => s"row $g, expected $w"
    }

  def nll(got: Map[Long, (Long, Double)], want: Map[Long, (Long, Double)]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} scored docs, expected ${want.size}")
    else want.iterator.collectFirst(Function.unlift { case (id, (n, v)) =>
      got.get(id) match {
        case None => Some(s"doc $id missing")
        case Some((gn, gv)) if gn != n || math.abs(gv - v) > 1.0e-6 + 1e-12 =>
          Some(s"doc $id ($gn, $gv), expected ($n, $v)")
        case _ => None
      }
    })

  def merges(got: Seq[(String, String, Long)], want: Seq[(String, String, Long)]): Option[String] =
    if (got == want) None
    else Some(s"merges ${got.take(3)}..., expected ${want.take(3)}...")

  def tokenCounts(got: Map[Long, Long], want: Map[Long, Long]): Option[String] =
    if (got == want) None
    else want.collectFirst { case (id, n) if !got.get(id).contains(n) => s"doc $id: ${got.get(id)}, expected $n" }
      .orElse(Some(s"${got.size} counted docs, expected ${want.size}"))

  /** Near-duplicate pairs: every planted pair is reported, and every
    * reported pair clears the threshold with its exact Jaccard. */
  def pairs(got: Seq[(Long, Long, Double)], planted: Seq[(Long, Long)],
      exact: (Long, Long) => Double, threshold: Double): Option[String] = {
    val found = got.map(p => (p._1, p._2)).toSet
    planted.find(p => !found.contains(p)).map(p => s"planted pair $p not reported")
      .orElse(got.collectFirst {
        case (a, b, _) if a >= b => s"pair ($a, $b) not ordered"
        case (a, b, j) if math.abs(j - exact(a, b)) > 1e-12 =>
          s"pair ($a, $b) jaccard $j, exact ${exact(a, b)}"
        case (a, b, j) if j < threshold => s"pair ($a, $b) jaccard $j under $threshold"
      })
      .orElse(if (found.size != got.size) Some("pair reported twice") else None)
  }
}
