package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every input of every workload comes from here,
  * from the run's seed and a stream name, so one seed gives the same inputs
  * byte for byte and the program under test sees nothing else.
  */
object Gen {
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  private val Base62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

  def base62(n: Int, r: SplittableRandom): String =
    Seq.fill(n)(Base62.charAt(r.nextInt(62))).mkString

  def hex(n: Int, r: SplittableRandom): String =
    Seq.fill(n)("0123456789abcdef".charAt(r.nextInt(16))).mkString

  /** Fisher-Yates permutation of `xs`. */
  def shuffle[T](xs: Seq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** A pronounceable word per index: base-40 syllables, at least two. */
  def word(i: Int): String = {
    val syl = "ka lo mi nu pe ra si to vu ze ba de fi go hu ja ke li mo ne " +
      "po qu re sa ti vo wa xe yo zu bi co du fe gi ha jo ku la me"
    val s = syl.split(' ')
    var v = i
    val sb = new StringBuilder
    while ({ sb.append(s(v % s.length)); v /= s.length; v > 0 || sb.length < 4 }) ()
    sb.toString
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ------------------------------------------------------------ lineitem

  val ReturnFlags: Seq[String] = Seq("A", "N", "R")
  val ShipModes: Seq[String] = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  /** The date `day` days after 1992-01-01, the first ship date. */
  def shipDate(day: Column): Column = date_add(to_date(lit("1992-01-01")), day)

  /** `n` lineitem-shaped rows numbered from 0 in `partitions` contiguous
    * ranges. Every value is a hash of (seed, stream, row, column), so the
    * frame's content and its split into files depend on nothing else. Four
    * lines per order, orders from `firstOrder`; ship dates spread over 2500
    * days; `slice` is a column expression over the row number.
    */
  def lineitem(spark: SparkSession, seed: Long, stream: String, n: Long, firstOrder: Long,
               slice: Column, partitions: Int = 4): DataFrame = {
    val salt = seed * 31 + stream.hashCode
    def u(k: Int, m: Int): Column = pmod(xxhash64(lit(salt), col("id"), lit(k)), lit(m.toLong))
    def pick(xs: Seq[String], k: Int): Column = element_at(typedLit(xs), (u(k, xs.size) + 1).cast("int"))
    val qty = (u(1, 50) + 1).cast("double")
    spark.range(0, n, 1, partitions).select(
      (lit(firstOrder) + col("id") / 4).cast("long").as("l_orderkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(0, 200000) + 1).as("l_partkey"),
      qty.as("l_quantity"),
      round(qty * (u(2, 100000) / 100.0 + 900), 2).as("l_extendedprice"),
      (u(3, 11) / 100.0).as("l_discount"),
      pick(ReturnFlags, 4).as("l_returnflag"),
      pick(Seq("O", "F"), 5).as("l_linestatus"),
      shipDate(u(6, 2500).cast("int")).as("l_shipdate"),
      pick(ShipModes, 7).as("l_shipmode"),
      concat_ws(" ", pick(Words, 8), pick(Words, 9), pick(Words, 10)).as("l_comment"),
      slice.cast("int").as("l_slice"))
  }

  private val Words: Seq[String] = (0 until 300).map(word)

  // -------------------------------------------------------------- corpus

  /** A synthetic document corpus with planted duplicates. Doc ids are row
    * positions in `texts`. `exact` and `near` list the members of each
    * planted family; `boiler` is one large cluster of identical documents.
    */
  final case class Corpus(texts: IndexedSeq[String], exact: Seq[Seq[Int]], near: Seq[Seq[Int]],
                          boiler: Seq[Int])

  def corpus(seed: Long, nDocs: Int, nExact: Int, nNear: Int, familySize: Int, nBoiler: Int,
             docLen: Int = 60, vocab: Int = 20000): Corpus = {
    val r = rng(seed, "corpus")
    val zipf = new Zipf(vocab, 0.8)
    val words = Array.tabulate(vocab)(word)
    def doc(): IndexedSeq[String] = IndexedSeq.fill(docLen)(words(zipf.sample(r)))
    // a near duplicate drops one token or swaps two neighbours
    def variant(d: IndexedSeq[String]): IndexedSeq[String] = {
      val i = r.nextInt(d.length - 1)
      if (r.nextBoolean()) d.patch(i, Nil, 1) else d.updated(i, d(i + 1)).updated(i + 1, d(i))
    }
    val boilerText = Seq.tabulate(docLen)(i => words(i % 40)).mkString(" ")
    val exactDocs = Seq.fill(nExact) { val t = doc().mkString(" "); Seq.fill(familySize)(t) }
    val nearDocs = Seq.fill(nNear) {
      val base = doc()
      base.mkString(" ") +: Seq.fill(familySize - 1)(variant(base).mkString(" "))
    }
    val planted = exactDocs.flatten.size + nearDocs.flatten.size + nBoiler
    require(planted <= nDocs, s"$planted planted docs exceed corpus of $nDocs")
    // (text, group): group = ("e"|"n", family index) or ("b", 0) or ("u", 0)
    val tagged =
      exactDocs.zipWithIndex.flatMap { case (f, k) => f.map(_ -> ("e", k)) } ++
        nearDocs.zipWithIndex.flatMap { case (f, k) => f.map(_ -> ("n", k)) } ++
        Seq.fill(nBoiler)(boilerText -> ("b", 0)) ++
        Seq.fill(nDocs - planted)(doc().mkString(" ") -> ("u", 0))
    val placed = shuffle(tagged, r)
    def members(kind: String, n: Int): Seq[Seq[Int]] = {
      val byFamily = placed.indices.filter(i => placed(i)._2._1 == kind).groupBy(i => placed(i)._2._2)
      (0 until n).map(byFamily(_))
    }
    Corpus(placed.map(_._1), members("e", nExact), members("n", nNear),
      placed.indices.filter(i => placed(i)._2._1 == "b"))
  }
}
