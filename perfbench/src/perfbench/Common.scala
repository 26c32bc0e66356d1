package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

/** SplitMix64: a small, fully specified generator, so one seed gives the
  * same inputs on every JVM and every run. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  /** Independent stream for one purpose, so adding draws to one
    * generator never shifts another's inputs. */
  def fork(tag: Long): Rng = new Rng(seed * 0x2545F4914F6CDD1DL + tag * 0x632BE59BD9B4E019L)
}

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, val s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) > u) hi = mid else lo = mid + 1
    }
    lo
  }
}

/** SHA-256 over the exact bytes handed to the program. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes(UTF_8))
  def add(b: Array[Byte]): Unit = md.update(b)
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val i = pos.toInt
    if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** A reported number: value, unit and how many samples it summarises. */
final case class Metric(name: String, value: Double, unit: String, n: Long)

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case o => str(o.toString)
  }
}

/** Counts of what a run attempted, what failed, and why. An operation
  * fails when it throws or its result differs from the reference; a
  * wrong result also makes the run incorrect. */
final class Outcomes {
  var attempted = 0L
  var threw = 0L
  var wrong = 0L
  val reasons: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  def failed: Long = threw + wrong
  private def note(kind: String): Unit = reasons(kind) = reasons.getOrElse(kind, 0L) + 1

  /** Run `op`, then `check` its result; returns the result when both
    * passed. */
  def attempt[T](kind: String)(op: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val res = try Right(op) catch { case e: Exception => Left(e) }
    res match {
      case Left(e) =>
        threw += 1
        note(s"$kind threw ${Outcomes.errorClass(e)}")
        None
      case Right(v) =>
        check(v) match {
          case Some(why) =>
            wrong += 1
            note(s"$kind wrong: $why")
            None
          case None => Some(v)
        }
    }
  }
}

object Outcomes {
  /** Spark error class when there is one (e.g. FAILED_READ_FILE.FILE_NOT_EXIST),
    * else the exception's class name. */
  def errorClass(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq
    chain.collectFirst {
      case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
    }.getOrElse(e.getClass.getSimpleName)
  }
}
