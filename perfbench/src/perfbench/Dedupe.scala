package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.artifact.ArtifactStore
import graft.catalog.Catalog
import graft.ext.Dedup
import graft.query.QuerySet

/** Near-duplicate resolution over a corpus stored as parquet artifacts.
  * Each op is one pass: open → simhash candidates → hamming filter, plus
  * exact-duplicate edges → resolve duplicates (connected components) →
  * count the documents kept. The work is executor CPU and shuffle; the
  * catalog's share is close to zero.
  */
final class Dedupe(spark: SparkSession, seed: Long) extends Workload {
  import Dedupe._

  val cycle = 1
  val warmUpOps = 1
  val mix: Map[String, Double] = Map("pass" -> 1.0)

  private final class Fixture(val root: String, val corpus: Gen.Corpus) {
    val cat: Catalog = Catalog.deterministic(spark, root, seed)
    val store = new ArtifactStore(cat)
    var corpusBytes = 0L
    /** (doc id, family label) of every planted duplicate. */
    val planted: Seq[(Long, String)] =
      corpus.exact.zipWithIndex.flatMap { case (m, k) => m.map(_.toLong -> s"e$k") } ++
        corpus.near.zipWithIndex.flatMap { case (m, k) => m.map(_.toLong -> s"n$k") } ++
        corpus.boiler.map(_.toLong -> "b")
  }

  private var f: Fixture = _
  private var lastYield = 0.0
  private var lastRecall = 0.0

  def storeRoot: String = f.root
  def userBytes: Long = f.corpusBytes

  def sizes: Seq[(String, Long)] = Seq("docs" -> NDocs.toLong, "tokens_per_doc" -> 60L,
    "exact_families" -> NExact.toLong, "near_families" -> NNear.toLong,
    "family_size" -> FamilySize.toLong, "boilerplate_cluster" -> NBoiler.toLong, "parts" -> NParts.toLong)

  override def extraMetrics: Map[String, Double] =
    Map("ext.simhash.yield" -> lastYield, "dedup.near_recall" -> lastRecall)

  def populate(root: String): Unit = {
    val fx = new Fixture(root, Gen.corpus(seed, NDocs, NExact, NNear, FamilySize, NBoiler))
    val schema = StructType(Seq(StructField("id", LongType, nullable = false), StructField("text", StringType)))
    val parts = fx.corpus.texts.zipWithIndex.grouped((NDocs + NParts - 1) / NParts).zipWithIndex.map {
      case (docs, p) =>
        spark.createDataFrame(docs.map { case (t, id) => Row(id.toLong, t) }.asJava, schema) -> s"corpus/part$p.parquet"
    }.toSeq
    fx.corpusBytes = fx.store.fromDataFrames(parts, s"$root/data").map(_("size").asInstanceOf[Long]).sum
    fx.cat.flushAll()
    f = fx
  }

  def op(i: Long): Op = {
    val fx = f
    Op("read", "pass", NDocs.toLong, tr => {
      val arts = tr.build("query.filter")(QuerySet(fx.cat, "artifact").filter("key__startswith" -> "corpus/").df)
      val docs = tr.build("artifact.open")(fx.store.open(arts))
      val cand = tr.build("ext.simhash")(Dedup.simhashCandidates(docs, "id", "text", maxBucketDf = Some(MaxBucket)))
      val near = cand.filter(col("hamming") <= MaxHamming)
      val nNear = tr.exec("ext.simhash")(near.count())
      val exact = tr.build("ext.exact")(Dedup.exact(docs, "id", "text").filter(col("is_dup"))
        .select(col("keeper_id").as("id_a"), col("id").as("id_b")))
      val pairs = near.select("id_a", "id_b").unionByName(exact)
      val resolved = tr.build("ext.resolve")(Dedup.resolveDuplicates(docs, pairs, "id"))
      val kept = tr.exec("ext.resolve")(resolved.filter(col("is_canonical")).count())
      () => check(fx, cand.count(), nNear, resolved, kept)
    })
  }

  private def check(fx: Fixture, nCand: Long, nNear: Long, resolved: org.apache.spark.sql.DataFrame,
                    kept: Long): Option[String] = {
    import spark.implicits._
    lastYield = if (nCand == 0) 0.0 else nNear.toDouble / nCand
    val clusters = resolved.join(fx.planted.toDF("id", "family"), "id")
      .groupBy("family").agg(countDistinct("cluster_id")).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val split = clusters.filter { case (fam, n) => !fam.startsWith("n") && n != 1 }.keys.toSeq.sorted
    lastRecall = clusters.count { case (fam, n) => fam.startsWith("n") && n == 1 }.toDouble / NNear
    val maxKept = NDocs - NExact * (FamilySize - 1) - (NBoiler - 1)
    if (split.nonEmpty) Some(s"${split.size} planted exact families split across clusters: ${split.take(5).mkString(", ")}")
    else if (lastRecall < RecallFloor) Some(f"near-duplicate recall $lastRecall%.3f below $RecallFloor")
    else if (kept <= 0 || kept > maxKept) Some(s"kept $kept documents, expected 1..$maxKept")
    else None
  }

  def finalChecks(): Seq[(String, Option[String])] = Nil
}

object Dedupe {
  val NDocs = 3000
  val NExact = 50
  val NNear = 100
  val FamilySize = 3
  val NBoiler = 500
  val NParts = 2
  val MaxHamming = 6
  /** Band buckets with more members than this are dropped from the simhash
    * self-join; the boilerplate cluster would otherwise make NBoiler²/2
    * candidate pairs. Exact-duplicate edges link it instead, as a star.
    */
  val MaxBucket = 100
  /** Share of planted near-duplicate families that must resolve to one
    * cluster.
    */
  val RecallFloor = 0.5
}
