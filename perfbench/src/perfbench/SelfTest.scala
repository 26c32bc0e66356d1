package perfbench

/** Tests of the benchmark itself.
  *
  * [[checkers]] feeds every result checker a correct result and several
  * corrupted ones; a checker that accepts a corrupted result, or rejects
  * the correct one, is a failure. Every benchmark run calls it first.
  *
  * `main` prints the digest of each generator's inputs for a few seeds;
  * `perfbench/run.py --selftest` runs it in two JVMs and requires
  * byte-identical inputs for equal seeds and different inputs for
  * different seeds.
  */
object SelfTest {
  def checkers(): Seq[String] = {
    val failures = Seq.newBuilder[String]
    def expect(what: String, res: Option[String], shouldPass: Boolean): Unit =
      if (res.isDefined == shouldPass)
        failures += s"$what: ${if (shouldPass) s"rejected a correct result (${res.get})" else "accepted a corrupted result"}"

    // store reads
    val p = new Points(Array("a", "b"), Array(0, 1, 0, 0), Array(60L, 61L, 125L, 3600L), Array(2, 3, 4, 1), 0)
    val ref = new StoreRef(p)
    val want = ref.seriesMinute(Seq(0, 1), 60L, 180L)
    expect("joined series reference", if (want == Seq((60L, 5.0), (120L, 4.0), (180L, 0.0))) None else Some(want.toString), true)
    expect("condensed hour reference",
      if (ref.seriesHourCondensed(0, 0L, 7200L) == Seq((0L, 6.0), (3600L, 1.0))) None else Some("wrong"), true)
    expect("rows: correct", Check.rows(want, want), true)
    expect("rows: changed value", Check.rows(want.updated(1, (120L, 4.5)), want), false)
    expect("rows: dropped zero-filled row", Check.rows(want.init, want), false)
    expect("rows: shifted time", Check.rows(want.map { case (t, v) => (t + 60, v) }, want), false)

    // bigram NLL
    val docs = Array("a b a b c", "b c a", "c c c a b")
    val nll = CorpusRef.bigramNll(docs)
    expect("nll: correct", Check.nll(nll, nll), true)
    expect("nll: off in the 6th place", Check.nll(nll.updated(1L, (nll(1L)._1, nll(1L)._2 + 2e-6)), nll), false)
    expect("nll: wrong bigram count", Check.nll(nll.updated(0L, (nll(0L)._1 + 1, nll(0L)._2)), nll), false)
    expect("nll: missing doc", Check.nll(nll - 2L, nll), false)

    // BPE
    expect("bpe replay", if (CorpusRef.bpeTokenCount("aaab ab", Seq(("a", "a"), ("a", "b"))) == 3L) None
      else Some(CorpusRef.bpeTokenCount("aaab ab", Seq(("a", "a"), ("a", "b"))).toString), true)
    val merges = CorpusRef.bpeTrain(Array("low lower lowest", "newer wider new"), 3)
    expect("bpe training reference", if (merges.map(m => (m._1, m._2)) == Seq(("e", "r"), ("l", "o"), ("lo", "w"))) None
      else Some(merges.toString), true)
    expect("bpe merges: correct", Check.merges(merges, merges), true)
    expect("bpe merges: swapped rank", Check.merges(merges.reverse, merges), false)
    val counts = Map(0L -> 5L, 1L -> 3L)
    expect("bpe counts: correct", Check.tokenCounts(counts, counts), true)
    expect("bpe counts: off by one", Check.tokenCounts(counts.updated(1L, 4L), counts), false)

    // near-duplicate pairs
    val texts = Map(1L -> "x y z w v", 2L -> "x y z w u", 3L -> "p q r s t")
    val exact = (a: Long, b: Long) => CorpusRef.jaccard(CorpusRef.shingleSet(texts(a), 2), CorpusRef.shingleSet(texts(b), 2))
    val pairs = Seq((1L, 2L, exact(1L, 2L)))
    expect("pairs: correct", Check.pairs(pairs, Seq((1L, 2L)), exact, 0.3), true)
    expect("pairs: planted pair missing", Check.pairs(Nil, Seq((1L, 2L)), exact, 0.3), false)
    expect("pairs: inexact jaccard", Check.pairs(Seq((1L, 2L, exact(1L, 2L) - 1e-9)), Seq((1L, 2L)), exact, 0.3), false)
    expect("pairs: under threshold", Check.pairs(pairs :+ ((1L, 3L, 0.0)), Seq((1L, 2L)), exact, 0.3), false)
    failures.result()
  }

  def main(args: Array[String]): Unit = {
    checkers().foreach(f => println(s"FAIL $f"))
    for (seed <- Seq(1L, 2L)) {
      val p = Gen.points(seed, 20000, 0.01)
      val d = new Digest
      d.add(p.csv(0, p.size))
      println(s"digest points seed=$seed ${d.hex}")
      println(s"digest corpus seed=$seed ${CorpusGen.corpus(seed, 2000).digest}")
    }
  }
}
