package perfbench

/** One measured op. `rows` counts the user rows it processed. */
final case class OpRecord(id: Long, kind: String, name: String, ms: Double, traced: Boolean,
                          error: Option[String], rows: Long = 0L)

/** Turns op records, spans and job work into the reported metrics. */
object Report {
  val Layers: Seq[String] = Seq("catalog", "query", "eav", "artifact", "curate", "lineage", "ext")

  /** Per-span statistics, named `<span>.<stat>`:
    *  - `ms`, `build_ms`, `exec_ms`: median self time of the call / build /
    *    exec phase, in ms;
    *  - `jobs`: Spark jobs per call over all phases, `build_jobs` in the
    *    build phase only;
    *  - `bytes_read`, `bytes_written`, `shuffle_bytes`: input, output and
    *    shuffle-write bytes per call over all phases.
    * A span the workload never calls reads 0.
    */
  def spanStat(metric: String, spans: Seq[Span], self: Map[Int, Long],
               work: Map[Int, Seq[JobWork]]): Double = {
    val cut = metric.lastIndexOf('.')
    val (name, stat) = (metric.take(cut), metric.drop(cut + 1))
    val mine = spans.filter(_.name == name)
    val byPhase = mine.groupBy(_.phase).withDefaultValue(Nil)
    val calls = math.max(byPhase("call").size + byPhase("build").size, byPhase("exec").size)
    def medianMs(phase: String): Double =
      if (byPhase(phase).isEmpty) 0.0 else Stats.median(byPhase(phase).map(s => self(s.id) / 1e6))
    def perCall(of: Seq[Span], n: Int, f: JobWork => Long): Double =
      if (n == 0) 0.0 else of.flatMap(s => work.getOrElse(s.id, Nil)).map(f).sum.toDouble / n
    stat match {
      case "ms"            => medianMs("call")
      case "build_ms"      => medianMs("build")
      case "exec_ms"       => medianMs("exec")
      case "jobs"          => perCall(mine, calls, _ => 1L)
      case "build_jobs"    => perCall(byPhase("build"), byPhase("build").size, _ => 1L)
      case "bytes_read"    => perCall(mine, calls, _.bytesRead)
      case "bytes_written" => perCall(mine, calls, _.bytesWritten)
      case "shuffle_bytes" => perCall(mine, calls, _.shuffleWrite)
      case other           => throw new IllegalArgumentException(s"unknown span statistic '$other' in $metric")
    }
  }

  /** Metrics of the traced ops as a whole: Spark work per op, the share of
    * op time spent building DataFrames, executor utilisation, and each
    * layer's share of op time (self time of its spans ÷ traced op time).
    */
  def opStats(ops: Seq[OpRecord], spans: Seq[Span], self: Map[Int, Long],
              work: Map[Int, Seq[JobWork]], cores: Int): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val opMs = traced.map(_.ms).sum
    val jobs = spans.flatMap(s => work.getOrElse(s.id, Nil))
    def share(ns: Long): Double = if (opMs <= 0) 0.0 else ns / 1e6 / opMs
    val n = math.max(traced.size, 1).toDouble
    Map(
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.tasks_per_op" -> jobs.map(_.tasks).sum / n,
      "spark.build_share" -> share(spans.filter(_.phase == "build").map(s => s.endNs - s.startNs).sum),
      "spark.cpu_util" -> (if (opMs <= 0) 0.0 else jobs.map(_.runMs).sum / (opMs * cores))
    ) ++ Layers.map(l => s"layer.$l.share" -> share(spans.filter(_.layer == l).map(s => self(s.id)).sum))
  }

  /** Tracing overhead: latency of traced ops over untraced ops of the same
    * type, medians weighted by each type's op count, minus one.
    */
  def overhead(ops: Seq[OpRecord]): Double = {
    val both = ops.filter(_.error.isEmpty).groupBy(_.name).values.flatMap { xs =>
      val (t, u) = xs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((xs.size * Stats.median(t.map(_.ms)), xs.size * Stats.median(u.map(_.ms))))
    }
    if (both.isEmpty) 0.0 else both.map(_._1).sum / both.map(_._2).sum - 1
  }

  /** Median and p90 of one op kind, if the sample count allows them. */
  def latency(ops: Seq[OpRecord], kind: String): (Option[Double], Option[Double], Int) = {
    val ms = ops.filter(o => o.kind == kind && o.error.isEmpty).map(_.ms)
    (if (ms.isEmpty) None else Some(Stats.median(ms)), Stats.percentile(ms, 0.9), ms.size)
  }
}
