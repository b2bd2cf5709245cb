package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The benchmark's own arithmetic, kept free of Spark so it can be tested
  * without a session.
  */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Mean latency of an op mix, in ms: the per-type median latencies
    * weighted by each type's share of the mix. Types of the mix with no
    * sample are left out and the rest renormalised; types outside the mix
    * are ignored.
    */
  def mixMs(samples: Seq[(String, Double)], mix: Map[String, Double]): Double = {
    val byType = samples.groupBy(_._1).filter { case (t, _) => mix.contains(t) }
    require(byType.nonEmpty, "no samples of any type in the mix")
    byType.toSeq.map { case (t, xs) => mix(t) * median(xs.map(_._2)) }.sum / byType.keys.toSeq.map(mix).sum
  }

  /** Nearest-rank percentile `q` (0 < q < 1), or None when fewer than
    * `minBeyond` samples lie above it: a p90 over 20 samples rests on two
    * values and says nothing about the tail.
    */
  def percentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val n = xs.size
    val rank = math.ceil(q * n).toInt
    if (n == 0 || n - rank < minBeyond) None else Some(xs.sorted.apply(rank - 1))
  }

  /** Failed ÷ attempted. An op that threw is attempted and failed, never
    * dropped from the denominator.
    */
  def errorRate(attempted: Long, failed: Long): Double = {
    require(attempted > 0 && failed >= 0 && failed <= attempted, s"$failed of $attempted")
    failed.toDouble / attempted
  }

  /** Bytes of every regular file under `root` (0 when it does not exist). */
  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes on disk under the store root ÷ bytes of user data it holds. */
  def storageAmp(storeRoot: Path, userBytes: Long): Double = {
    require(userBytes > 0, "no user bytes")
    dirBytes(storeRoot).toDouble / userBytes
  }

  /** Duration of each span minus the part of it its children cover.
    * `spans` are (id, parent, startNs, endNs); the parent of a root is -1.
    */
  def selfTimes(spans: Seq[(Int, Int, Long, Long)]): Map[Int, Long] = {
    val children = spans.groupBy(_._2)
    spans.map { case (id, _, s, e) =>
      val covered = union(children.getOrElse(id, Nil).map(c => (math.max(c._3, s), math.min(c._4, e))))
      id -> (e - s - covered)
    }.toMap
  }

  /** Total length of a set of [start, end) intervals, overlaps counted once. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
