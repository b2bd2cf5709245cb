package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints its result as the last line of
  * standard output:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * One client thread drives a closed loop: the next op starts when the
  * previous one and its output check are done. Set-up (input generation
  * and store population, repeated `SetupReps` times into fresh stores, then
  * an untimed warm-up of every op type) is reported as `setup_s`. With
  * `--trace 1` every other cycle of ops records spans and the per-layer
  * metrics are printed instead of the end-to-end ones.
  */
object Main {
  val SetupReps = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  val Workloads: Seq[String] = Seq("registry", "dedup")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // the status store keeps this many finished jobs and queries; a
      // small cap keeps driver heap from growing with the op count
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try run(spark, a, cores) finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  def run(spark: SparkSession, a: Args, cores: Int): Boolean = {
    val wl: Workload = a.workload match {
      case "registry" => new Registry(spark, a.seed)
      case "dedup"    => new Dedupe(spark, a.seed)
    }
    val tracer = new Tracer(a.trace)
    val recorder = if (a.trace) Some(new JobRecorder) else None
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    def fail(what: String, msg: String): Unit = {
      failed += 1
      if (errors.size < 20) errors += s"$what: $msg"
    }

    // set-up: fresh stores, median of SetupReps, then warm-up on the last
    val populateS = (1 to SetupReps).map { rep =>
      val root = s"${a.work}/store$rep"
      val t0 = System.nanoTime()
      wl.populate(root)
      val s = (System.nanoTime() - t0) / 1e9
        if (rep > 1) deleteTree(Paths.get(s"${a.work}/store${rep - 1}"))
      s
    }
    def runOp(i: Long, measured: Boolean): Unit = {
      val op = wl.op(i)
      val traced = measured && a.trace && Tracer.traced(i - wl.warmUpOps, wl.cycle)
      attempted += 1
      tracer.startOp(i, traced)
      val (ms, error) = execute(op, tracer)
      tracer.endOp()
      error.foreach(fail(s"op $i ${op.name}", _))
      if (measured) ops += OpRecord(i, op.kind, op.name, ms, traced, error, op.rows)
    }
    val warmT0 = System.nanoTime()
    (0L until wl.warmUpOps.toLong).foreach(runOp(_, measured = false))
    val setupS = Stats.median(populateS) + (System.nanoTime() - warmT0) / 1e9

    // measured phase
    recorder.foreach(spark.sparkContext.addSparkListener)
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = wl.warmUpOps.toLong
    while (System.nanoTime() < deadline) { runOp(i, measured = true); i += 1 }
    val retainedMb = spark.sparkContext.getRDDStorageInfo.map(x => x.memSize + x.diskSize).sum / 1048576.0

    wl.finalChecks().foreach { case (name, err) =>
      attempted += 1
      err.foreach(fail(s"final check $name", _))
    }
    val storageAmp = Stats.storageAmp(Paths.get(wl.storeRoot), wl.userBytes)
    // collections free what the first one's reference cleaning released
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min

    val good = ops.filter(_.error.isEmpty)
    val opS = ops.map(_.ms).sum / 1000
    def mixMs(kinds: Set[String]): Double = {
      val xs = good.filter(o => kinds(o.kind)).map(o => (o.name, o.ms)).toSeq
      if (xs.isEmpty) 0.0 else Stats.mixMs(xs, wl.mix)
    }
    val opsPerS = if (good.isEmpty) 0.0 else 1000.0 / mixMs(Set("read", "write"))
    val readMs = mixMs(Set("read"))
    val (readP50, readP90, nRead) = Report.latency(ops.toSeq, "read")
    val (writeP50, writeP90, nWrite) = Report.latency(ops.toSeq, "write")
    val rowsPerS = if (opS > 0) good.map(_.rows).sum / opS else 0.0
    val errorRate = Stats.errorRate(attempted, failed)

    // a human-readable account first, then the one-line result
    println(Json.obj(Seq("run" -> Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "trace" -> (if (a.trace) "1" else "0"), "nproc" -> cores.toString,
      "inputs" -> Json.obj(wl.sizes.map { case (k, v) => k -> v.toString }),
      "spark_conf" -> Json.obj(spark.conf.getAll.toSeq.sorted
        .filter(kv => kv._1.startsWith("spark.sql.") || kv._1 == "spark.master" || kv._1.startsWith("spark.ui."))
        .map { case (k, v) => k -> Json.str(v) }))))))
    def show(name: String, v: Option[Double], unit: String, n: String = ""): Unit =
      println(f"# $name%-14s ${v.map(x => f"$x%.4f").getOrElse("n/a (too few samples)")}%s $unit%s$n%s")
    show("setup_s", Some(setupS), "s", s"  (median of $SetupReps stores + warm-up)")
    show("ops_per_s", Some(opsPerS), "1/s", s"  (${good.size} ops)")
    show("read_ms", Some(readMs), "ms", "  (mix-weighted mean of per-type medians)")
    show("read_p50_ms", readP50, "ms", s"  (n=$nRead)")
    show("read_p90_ms", readP90, "ms", s"  (n=$nRead)")
    show("write_p50_ms", writeP50, "ms", s"  (n=$nWrite)")
    show("write_p90_ms", writeP90, "ms", s"  (n=$nWrite)")
    show("rows_per_s", Some(rowsPerS), "rows/s")
    show("storage_amp", Some(storageAmp), "ratio")
    show("retained_mb", Some(retainedMb), "MB")
    show("heap_mb", Some(heapMb), "MB")
    show("error_rate", Some(errorRate), "ratio", s"  ($failed of $attempted)")
    errors.foreach(e => println(s"# error: $e"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", opsPerS, "1/s"),
        ("read_ms", readMs, "ms"),
        ("heap_mb", heapMb, "MB"))
      else {
        org.apache.spark.BusDrain(spark.sparkContext)
        val spans = tracer.spans
        val jobs = recorder.get.snapshot
        val self = Stats.selfTimes(spans.map(s => (s.id, s.parent, s.startNs, s.endNs)))
        val bySpan = Tracer.attribute(jobs.map(j => (j.id, j.startMs)), spans, tracer.toEpochMs)
        val work = jobs.flatMap(j => bySpan.get(j.id).map(_.id -> j)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        val opStats = Report.opStats(ops.toSeq, spans, self, work, cores)
        Files.write(Paths.get(a.work, "spans.jsonl"), spans.map { sp =>
          val w = work.getOrElse(sp.id, Nil)
          Json.obj(Seq("id" -> sp.id.toString, "name" -> Json.str(sp.name), "phase" -> Json.str(sp.phase),
            "parent" -> sp.parent.toString, "op" -> sp.op.toString,
            "start_ms" -> Json.num(tracer.toEpochMs(sp.startNs)), "end_ms" -> Json.num(tracer.toEpochMs(sp.endNs)),
            "self_ms" -> Json.num(self(sp.id) / 1e6), "jobs" -> w.map(_.id).mkString("[", ",", "]"),
            "tasks" -> w.map(_.tasks).sum.toString, "executor_run_ms" -> w.map(_.runMs).sum.toString,
            "bytes_read" -> w.map(_.bytesRead).sum.toString, "bytes_written" -> w.map(_.bytesWritten).sum.toString,
            "shuffle_bytes" -> w.map(_.shuffleWrite).sum.toString))
        }.asJava)
        val general = Map("read_p50_ms" -> readP50, "read_p90_ms" -> readP90, "write_p50_ms" -> writeP50,
          "write_p90_ms" -> writeP90).map { case (k, v) => k -> v.getOrElse(0.0) } ++ Map(
          "rows_per_s" -> rowsPerS, "storage_amp" -> storageAmp, "retained_mb" -> retainedMb,
          "error_rate" -> errorRate, "trace.overhead" -> Report.overhead(ops.toSeq),
          "ext.simhash.yield" -> 0.0, "dedup.near_recall" -> 0.0) ++ opStats ++ wl.extraMetrics
        PerLayer.map { case (name, unit) =>
          (name, general.getOrElse(name, Report.spanStat(name, spans, self, work)), unit)
        }
      }
    val correct = failed == 0
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    correct
  }

  /** Runs one op, timed, then its output check, untimed. Returns the op's
    * latency and its error, if any: an op or a check that throws is an
    * error like a wrong output, never a dropped sample.
    */
  def execute(op: Op, tracer: Tracer): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val result = try Right(op.run(tracer)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val error = result match {
      case Left(e)      => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(check) => try check() catch { case NonFatal(e) => Some(s"check threw $e") }
    }
    (ms, error)
  }

  /** Per-layer metrics in the order BENCHMARK.json lists them. Names with a
    * span prefix resolve through `Report.spanStat`.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "read_p50_ms" -> "ms", "read_p90_ms" -> "ms", "write_p50_ms" -> "ms", "write_p90_ms" -> "ms",
    "rows_per_s" -> "rows/s", "storage_amp" -> "ratio", "retained_mb" -> "MB", "error_rate" -> "ratio",
    "trace.overhead" -> "ratio",
    "query.get.ms" -> "ms", "query.get.jobs" -> "count",
    "query.filter.ms" -> "ms", "query.filter.jobs" -> "count", "query.filter.build_ms" -> "ms",
    "query.search.ms" -> "ms",
    "eav.filter.ms" -> "ms", "eav.filter.jobs" -> "count",
    "lineage.upstream.ms" -> "ms", "lineage.upstream.jobs" -> "count",
    "artifact.open.build_ms" -> "ms", "artifact.open.jobs" -> "count",
    "artifact.scan.exec_ms" -> "ms", "artifact.scan.bytes_read" -> "bytes",
    "artifact.register.ms" -> "ms", "artifact.register.jobs" -> "count",
    "catalog.flush.ms" -> "ms", "catalog.flush.bytes_written" -> "bytes",
    "catalog.trash.ms" -> "ms", "catalog.restore.ms" -> "ms",
    "lineage.track.ms" -> "ms", "lineage.finish.ms" -> "ms", "lineage.finish.bytes_written" -> "bytes",
    "curate.validate.ms" -> "ms", "curate.validate.jobs" -> "count",
    "artifact.save.ms" -> "ms", "artifact.save.jobs" -> "count", "artifact.save.bytes_written" -> "bytes",
    "eav.annotate.ms" -> "ms", "eav.annotate.jobs" -> "count",
    "artifact.collection_append.ms" -> "ms", "artifact.collection_append.jobs" -> "count",
    "ext.simhash.build_ms" -> "ms", "ext.simhash.build_jobs" -> "count", "ext.simhash.exec_ms" -> "ms",
    "ext.simhash.shuffle_bytes" -> "bytes", "ext.simhash.yield" -> "ratio",
    "ext.exact.build_ms" -> "ms",
    "ext.resolve.build_ms" -> "ms", "ext.resolve.build_jobs" -> "count", "ext.resolve.exec_ms" -> "ms",
    "ext.resolve.shuffle_bytes" -> "bytes", "dedup.near_recall" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count", "spark.build_share" -> "ratio",
    "spark.cpu_util" -> "ratio") ++
    Report.Layers.map(l => s"layer.$l.share" -> "ratio")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x)) finally s.close()
    }
}

/** Minimal JSON rendering; values arrive already encoded. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
