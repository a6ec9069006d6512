package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Epoch-microsecond clock with `nanoTime` resolution. Anchored once to the
  * wall clock, so bench-side spans line up with the millisecond epoch
  * times Spark's listener events carry. */
object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def sleepUntilUs(t: Long): Unit = {
    val d = t - nowUs()
    if (d > 0) Thread.sleep(d / 1000L, ((d % 1000L) * 1000L).toInt)
  }
}

/** What one workload run hands back to [[Main]]. `setupS` are the timed
  * set-ups (the median is `setup_s`); `warmupS` the one untimed warm-up
  * round after them; `ops` the (kind, latency in ms) of every user-visible
  * operation;
  * `detail` the workload's own named figures (value, unit, samples);
  * `layers` the per-layer numbers of a traced run. */
final case class Outcome(
    setupS: Seq[Double],
    warmupS: Double,
    ops: Seq[(String, Double)],
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    detail: Seq[(String, Double, String, Long)],
    layers: Map[String, Double])

/** Everything a workload needs from the harness. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val work: Path,
    val cpus: Int,
    val trace: Option[Recorder]) {
  private var n = 0
  /** A fresh, empty directory under the run's work dir. */
  def freshDir(prefix: String): Path = synchronized {
    n += 1
    Files.createDirectories(work.resolve(s"$prefix-$n"))
  }
  def traced: Boolean = trace.isDefined
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 100]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.size - 1) * q / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The time one operation of every kind takes at percentile `q` of its
    * kind: per-kind percentiles, summed. Unlike a percentile of all
    * operations pooled, it never falls into the gap between two kinds'
    * latencies, and every kind moves it in proportion to its own time. */
  def mix(ops: Seq[(String, Double)], q: Double): Double =
    ops.groupBy(_._1).values.map(k => pct(k.map(_._2), q)).sum
}

/** Just enough JSON writing for the result lines and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

object Dirs {
  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** (regular files, bytes) under `p`, skipping hidden and `_` files such
    * as `_SUCCESS` markers. */
  def filesAndBytes(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val walk = Files.walk(p)
    try {
      var n = 0L; var b = 0L
      walk.iterator().forEachRemaining { f =>
        val name = f.getFileName.toString
        if (Files.isRegularFile(f) && !name.startsWith(".") && !name.startsWith("_")) {
          n += 1; b += Files.size(f)
        }
      }
      (n, b)
    } finally walk.close()
  }
}
