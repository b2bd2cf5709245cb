package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Tests of the benchmark's own arithmetic and generator:
  *
  *   python3 perfbench/run.py --self-test
  *
  * Prints one line per test and exits non-zero if any fails.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit = assert(got == want, s"got $got, expected $want")

  /** MD5 over values rendered one per line: equal digests mean
    * byte-identical generated inputs.
    */
  private def digest(rows: Iterator[Any]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(x => md.update((x.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def near(got: Double, want: Double): Unit = assert(math.abs(got - want) < 1e-9, s"got $got, expected $want")

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.headOption.getOrElse(Files.createTempDirectory("perfbench-test").toString))

    test("percentile: nearest rank once ten samples lie beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.percentile(xs, 0.9), Some(90.0))
      eq(Stats.percentile(xs, 0.5), Some(50.0))
    }
    test("percentile: refused with fewer than ten samples beyond it") {
      eq(Stats.percentile((1 to 99).map(_.toDouble), 0.9), None)
      eq(Stats.percentile((1 to 19).map(_.toDouble), 0.5), None)
      eq(Stats.percentile(Nil, 0.5), None)
      eq(Stats.percentile((1 to 20).map(_.toDouble), 0.5), Some(10.0))
    }
    test("median: odd and even counts") {
      near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      near(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
    }
    test("mix latency: a partial cycle does not change the mix") {
      val mix = Map("read" -> 0.75, "write" -> 0.25)
      val full = Seq("read" -> 10.0, "read" -> 12.0, "read" -> 8.0, "write" -> 50.0)
      near(Stats.mixMs(full, mix), 0.75 * 10 + 0.25 * 50)
      near(Stats.mixMs(full ++ Seq("read" -> 10.0, "read" -> 10.0, "other" -> 1e6), mix), 0.75 * 10 + 0.25 * 50)
      near(Stats.mixMs(Seq("read" -> 10.0), mix), 10.0)
    }
    test("error_rate: an op that throws is attempted and failed") {
      val tracer = new Tracer(false)
      val ops = Seq(
        Op("read", "ok", 1, _ => () => None),
        Op("read", "throws", 1, _ => throw new IllegalStateException("boom")),
        Op("read", "wrong", 1, _ => () => Some("wrong output")),
        Op("read", "check throws", 1, _ => () => throw new RuntimeException("bad check")))
      val errors = ops.map(op => Main.execute(op, tracer)._2)
      eq(errors.map(_.isDefined), Seq(false, true, true, true))
      assert(errors(1).get.contains("IllegalStateException"), errors(1))
      near(Stats.errorRate(ops.size, errors.count(_.isDefined)), 0.75)
    }
    test("self time subtracts nested children once") {
      // 0 [0, 100) holds 1 [10, 40) and 2 [30, 60); 1 holds 3 [15, 20)
      val self = Stats.selfTimes(Seq((0, -1, 0L, 100L), (1, 0, 10L, 40L), (2, 0, 30L, 60L), (3, 1, 15L, 20L)))
      eq(self, Map(0 -> 50L, 1 -> 25L, 2 -> 30L, 3 -> 5L))
    }
    test("jobs go to the innermost span open when they started") {
      val spans = Seq(Span(0, "a.x", "call", -1, 0, 0L, 100L), Span(1, "b.y", "call", 0, 0, 20L, 50L),
        Span(2, "c.z", "call", -1, 1, 200L, 300L))
      val got = Tracer.attribute(Seq(1 -> 10L, 2 -> 30L, 3 -> 250L, 4 -> 150L), spans, ns => ns.toDouble)
      eq(got.map { case (j, s) => j -> s.id }, Map(1 -> 0, 2 -> 1, 3 -> 2))
    }
    test("storage_amp counts every file under the root") {
      val root = work.resolve("amp")
      Files.createDirectories(root.resolve("a/b"))
      Files.write(root.resolve("a/x.parquet"), new Array[Byte](300))
      Files.write(root.resolve("a/b/y.parquet"), new Array[Byte](500))
      Files.write(root.resolve("_manifest.json"), new Array[Byte](200))
      eq(Stats.dirBytes(root), 1000L)
      near(Stats.storageAmp(root, 800L), 1.25)
      eq(Stats.dirBytes(root.resolve("missing")), 0L)
    }
    test("corpus: one seed, one corpus; another seed, another") {
      def corpus(seed: Long) = {
        val c = Gen.corpus(seed, 2000, 20, 30, 3, 200)
        digest(c.texts.iterator ++ Iterator(c.exact, c.near, c.boiler))
      }
      eq(corpus(7), corpus(7))
      assert(corpus(7) != corpus(8), "seeds 7 and 8 made the same corpus")
    }
    test("corpus: planted families hold what they claim") {
      val c = Gen.corpus(3, 2000, 20, 30, 3, 200)
      assert(c.exact.forall(f => f.size == 3 && f.map(c.texts).distinct.size == 1), "exact family differs")
      assert(c.near.forall(f => f.size == 3 && f.map(c.texts).distinct.size > 1), "near family is exact")
      eq(c.boiler.map(c.texts).distinct.size, 1)
      eq(c.boiler.size, 200)
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", work.resolve("spark-local").toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("lineitem: one seed, byte-identical rows; another seed, other rows") {
        def rows(seed: Long) = digest(Gen.lineitem(spark, seed, "batch1", 3000, 1000000L, col("id") / 1000)
          .collect().iterator)
        eq(rows(5), rows(5))
        assert(rows(5) != rows(6), "seeds 5 and 6 made the same rows")
      }
      test("lineitem: ship dates inside the generated range") {
        val d = Gen.lineitem(spark, 1, "x", 2000, 0L, col("id") % 3)
          .selectExpr("min(l_shipdate)", "max(l_shipdate)", "count(distinct l_slice)").head()
        val last = java.time.LocalDate.of(1992, 1, 1).plusDays(2499).toString
        assert(d.get(0).toString >= "1992-01-01" && d.get(1).toString <= last, s"dates ${d.get(0)} .. ${d.get(1)}")
        eq(d.getLong(2), 3L)
      }
    } finally spark.stop()

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
