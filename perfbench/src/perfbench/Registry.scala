package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.artifact.ArtifactStore
import graft.catalog.{Catalog, Lifecycle}
import graft.eav.ArtifactFeatures
import graft.lineage.Lineage
import graft.query.{QNot, QOr, QPred, QuerySet}

/** Metadata operations against a pre-populated catalog: per cycle of 11,
  * 8 reads, 2 metadata writes and one curate-and-save batch (`Ingest`),
  * which also tracks and finishes a lineage run. Most ops are small, so their time goes to catalog
  * snapshot reads, DataFrame construction on the driver and per-job
  * overhead, with little executor work to dilute a change there. No op
  * calls into `graft.ext`.
  */
final class Registry(spark: SparkSession, seed: Long) extends Workload {
  import Registry._
  import Workload.expect

  val cycle = 11
  /** The first cycle, with a batch with planted violations added. */
  val warmUpOps: Int = cycle + 1

  /** A visible artifact row as the generator made it. */
  private final case class Art(id: Long, uid: String, key: String, suffix: String,
                               description: String, hash: String, isLatest: Boolean)

  private final class Fixture(val root: String) {
    val cat: Catalog = Catalog.deterministic(spark, root, seed)
    val store = new ArtifactStore(cat)
    val lineage = new Lineage(cat)
    val dataRoot = s"$root/data"
    var storageId = 0L
    val arts = mutable.ArrayBuffer.empty[Art]
    val families = mutable.ArrayBuffer.empty[IndexedSeq[Art]] // versions in order, proj keys only
    val scratch = mutable.ArrayBuffer.empty[Long]
    val chainRuns = mutable.ArrayBuffer.empty[IndexedSeq[Long]] // run ids per chain, upstream first
    val annotated = mutable.Map.empty[Long, (Double, Long, String)] // artifact -> (score, batch, assay)
    var slices: IndexedSeq[(String, String)] = IndexedSeq.empty // (uid, path)
    var sliceBytes = 0L
    var uploads = 0
    val ingest = new Ingest(spark, seed, cat, store, lineage, dataRoot)
    var lastFresh = Ingest.Fresh(0, Ingest.Sizes.head)
  }

  private var f: Fixture = _

  def storeRoot: String = f.root
  def userBytes: Long = f.sliceBytes + f.ingest.acceptedBytes

  def sizes: Seq[(String, Long)] = Seq(
    "artifacts" -> f.arts.size.toLong, "families" -> f.families.size.toLong,
    "annotated" -> f.annotated.size.toLong, "runs" -> f.chainRuns.map(_.size).sum.toLong,
    "slices" -> f.slices.size.toLong, "slice_rows" -> SliceRows.toLong)

  def populate(root: String): Unit = {
    val fx = new Fixture(root)
    val cat = fx.cat
    val r = Gen.rng(seed, "registry")
    val topics = new Gen.Zipf(Vocab, 1.1)
    def w(): String = Gen.word(topics.sample(r))
    val storageId = cat.insert("storage", Map("root" -> fx.dataRoot, "typ" -> "local"))("id").asInstanceOf[Long]
    fx.storageId = storageId
    def add(uid: String, key: String, suffix: String, desc: String, latest: Boolean,
            runId: Option[Long] = None): Art = {
      val hash = Gen.hex(32, r)
      val row = cat.insert("artifact", Map("uid" -> uid, "key" -> key, "suffix" -> suffix,
        "kind" -> "dataset", "description" -> desc, "size" -> r.nextInt(1 << 20).toLong,
        "hash" -> hash, "hash_type" -> "md5", "n_files" -> 1L, "storage_id" -> storageId,
        "run_id" -> runId.map(Long.box).orNull, "is_latest" -> latest))
      val a = Art(row("id").asInstanceOf[Long], uid, key, suffix, desc, hash, latest)
      fx.arts += a
      a
    }
    // versioned key families of 1-4 versions
    while (fx.arts.size < NArtifacts - NChains * ChainDepth - NScratch) {
      val fam = fx.families.size
      val n = 1 + r.nextInt(4)
      val suffix = Suffixes(r.nextInt(Suffixes.size))
      val key = f"proj${fam % NProjects}%02d/${w()}/f$fam$suffix"
      val stem = Gen.base62(16, r)
      fx.families += IndexedSeq.tabulate(n)(v =>
        add(stem + f"000$v", key, suffix, s"${w()} ${w()} ${w()} measurements", v == n - 1))
    }
    // lineage chains: run k of a chain reads what run k-1 wrote
    for (c <- 0 until NChains) {
      val t = cat.insert("transform", Map("key" -> s"pipe/c$c.py", "typ" -> "script",
        "source_code_hash" -> Gen.hex(32, r), "is_latest" -> true))("id")
      var prev: Option[Long] = None
      fx.chainRuns += IndexedSeq.tabulate(ChainDepth) { k =>
        val run = cat.insert("run", Map("transform_id" -> t, "status_code" -> 0))("id").asInstanceOf[Long]
        prev.foreach(a => cat.insert("run_inputs", Map("run_id" -> run, "artifact_id" -> a)))
        prev = Some(add(Gen.base62(16, r) + "0000", s"pipe/c$c/step$k.parquet", ".parquet", null,
          latest = true, runId = Some(run)).id)
        run
      }
    }
    for (i <- 0 until NScratch)
      fx.scratch += add(Gen.base62(16, r) + "0000", s"scratch/t$i.txt", ".txt", null, latest = true).id
    // three features on a sample of family heads
    val fids = Features.map { case (name, dtype) =>
      name -> cat.insert("feature", Map("name" -> name, "dtype" -> dtype))("id").asInstanceOf[Long]
    }.toMap
    val values = mutable.Map.empty[(String, String), Long]
    def link(aid: Long, feature: String, json: String): Unit = {
      val jv = values.getOrElseUpdate((feature, json), cat.insert("json_value", Map(
        "feature_id" -> fids(feature), "value_json" -> json,
        "hash" -> graft.core.Hashing.md5String(json)))("id").asInstanceOf[Long])
      cat.insert("artifact_json_values", Map("artifact_id" -> aid, "json_value_id" -> jv))
    }
    Gen.shuffle(fx.families.map(_.last.id).toSeq, r).take(NAnnotated).foreach { aid =>
      val v = (r.nextInt(100) / 100.0, r.nextInt(50).toLong, Assays(r.nextInt(Assays.size)))
      fx.annotated(aid) = v
      link(aid, "score", v._1.toString)
      link(aid, "batch", v._2.toString)
      link(aid, "assay", "\"" + v._3 + "\"")
    }
    // lineitem slices: one write job, one file per slice directory, then
    // registered by reference in one batch
    val sliceDir = s"${fx.dataRoot}/lineitem"
    Gen.lineitem(spark, seed, "slices", NSlices.toLong * SliceRows, 0L, col("id") / SliceRows, 4)
      .withColumn("part", col("l_slice")).write.partitionBy("part").parquet(sliceDir)
    val fs = graft.core.Hashing.fileSystem(sliceDir)
    val entries = (0 until NSlices).map { s =>
      val path = s"$sliceDir/part=$s"
      val (hash, nFiles, size) = graft.core.Hashing.hashDir(fs, new org.apache.hadoop.fs.Path(path))
      fx.sliceBytes += size
      fx.store.StatEntry(hash, "md5-d", size, nFiles, s"lineitem/slice$s.parquet", ".parquet", Some(path))
    }
    val (nNew, nDup) = fx.store.registerBatch(entries, storageId)
    require(nNew == NSlices && nDup == 0, s"slice registration gave ($nNew, $nDup)")
    fx.ingest.populate()
    cat.flushAll()
    val sliceRows = cat.table("artifact").filter(col("key").startsWith("lineitem/"))
      .select("id", "uid", "key", "description", "hash").collect()
    sliceRows.foreach(x => fx.arts += Art(x.getLong(0), x.getString(1), x.getString(2), ".parquet",
      x.getString(3), x.getString(4), isLatest = true))
    fx.slices = sliceRows.map(x => x.getString(1) -> s"$sliceDir/part=${x.getString(2)
      .stripPrefix("lineitem/slice").stripSuffix(".parquet")}").toIndexedSeq.sortBy(_._2)
    f = fx
  }

  /** One cycle, reads and writes interleaved. The order is fixed, so a run
    * that ends part way through a cycle has measured the same op types
    * whatever its seed.
    */
  private val opTypes = IndexedSeq("get_uid", "register", "filter", "eav_filter", "upstream",
    "get_stem", "scan", "ingest", "filter_q", "search", "trash_restore")

  val mix: Map[String, Double] = opTypes.groupBy(identity).map { case (k, v) => k -> v.size.toDouble / cycle }

  /** The i-th op. Cycle 0 is the warm-up; it saves the first batch and then
    * offers one with planted violations. The first measured cycle redelivers
    * the batch saved before it; later cycles save fresh batches.
    *
    * The seed picks what each op touches: uids, families, prefixes, words,
    * chains, slices. How much work an op does (lineage depth, slices
    * scanned, batch rows, predicate kind) follows the cycle number, so every
    * seed measures the same amount of work per cycle.
    */
  def op(i: Long): Op = {
    val fx = f
    if (i == cycle) return fx.ingest.op(Ingest.Invalid(1))
    val j = if (i < cycle) i else i - 1
    val c = j / cycle
    val name = opTypes((j % cycle).toInt)
    val r = Gen.rng(seed + i, "registry-op")
    def qs = QuerySet(fx.cat, "artifact")
    def family() = fx.families(r.nextInt(fx.families.size))
    name match {
      case "get_uid" =>
        val uid = family().apply(0).uid
        Op("read", name, 1, tr => {
          val row = tr.span("query.get")(qs.get(uid))
          () => expect(row.getAs[String]("uid"), uid)
        })
      case "get_stem" =>
        val fam = family()
        Op("read", name, 1, tr => {
          val row = tr.span("query.get")(qs.get(fam.head.uid.take(16)))
          () => expect(row.getAs[String]("uid"), fam.last.uid)
        })
      case "filter" =>
        val prefix = f"proj${r.nextInt(NProjects)}%02d/"
        val suffix = Suffixes(r.nextInt(Suffixes.size))
        val want = fx.arts.count(a => a.key.startsWith(prefix) && a.suffix == suffix)
        Op("read", name, 1, tr => {
          val n = tr.span("query.filter")(qs.filter("key__startswith" -> prefix, "suffix" -> suffix).count())
          () => expect(n, want.toLong)
        })
      case "filter_q" =>
        val prefix = f"proj${r.nextInt(NProjects)}%02d/"
        val suffix = Suffixes(r.nextInt(Suffixes.size))
        val want = fx.arts.count(a => (a.suffix == suffix || a.key.startsWith(prefix)) && !a.isLatest)
        Op("read", name, 1, tr => {
          val n = tr.span("query.filter")(qs.filterQ(
            QOr(Seq(QPred("suffix", suffix), QPred("key__startswith", prefix))),
            QNot(QPred("is_latest", true))).count())
          () => expect(n, want.toLong)
        })
      case "eav_filter" =>
        val (pred, want) = (c % 3).toInt match {
          case 0 =>
            val x = r.nextInt(100) / 100.0
            ("score__gt" -> x, fx.annotated.values.count(_._1 > x))
          case 1 =>
            val b = r.nextInt(50).toLong
            ("batch" -> b, fx.annotated.values.count(_._2 == b))
          case _ =>
            val a = Assays(r.nextInt(Assays.size))
            ("assay" -> a, fx.annotated.values.count(_._3 == a))
        }
        Op("read", name, 1, tr => {
          val n = tr.span("eav.filter")(new ArtifactFeatures(fx.cat).querySet.filter(pred).count())
          () => expect(n, want.toLong)
        })
      case "search" =>
        val word = Gen.word(new Gen.Zipf(Vocab, 1.1).sample(r))
        val matches = fx.arts.count(a => a.key.toLowerCase.contains(word) ||
          Option(a.description).exists(_.toLowerCase.contains(word)))
        Op("read", name, 1, tr => {
          val hits = tr.span("query.search")(qs.search(word, Seq("key", "description")).collect())
          () => if (hits.length != math.min(20, matches)) Some(s"search '$word': ${hits.length} hits, expected ${math.min(20, matches)}")
            else hits.find(h => !(h.getAs[String]("key") + " " + Option(h.getAs[String]("description")).getOrElse(""))
              .toLowerCase.contains(word)).map(h => s"search '$word' returned non-matching ${h.getAs[String]("uid")}")
        })
      case "upstream" =>
        val chain = fx.chainRuns(r.nextInt(fx.chainRuns.size))
        // the warm-up walks one level; measured cycles start at the deepest
        val k = if (c == 0) 0 else ChainDepth - 1 - ((c - 1) % ChainDepth).toInt
        Op("read", name, 1, tr => {
          val got = tr.span("lineage.upstream")(fx.lineage.upstreamRuns(chain(k)).collect())
          () => expect(got.map(_.getLong(0)).sorted.toSeq, chain.take(k + 1).sorted)
        })
      case "scan" =>
        val picked = Gen.shuffle(fx.slices.toSeq, r).take(1 + (c % 8).toInt)
        val cut = Gen.shipDate(lit(Cuts((c % Cuts.size).toInt)))
        def agg(df: org.apache.spark.sql.DataFrame) =
          df.filter(col("l_shipdate") < cut).agg(count(lit(1)), coalesce(sum("l_quantity"), lit(0.0))).head()
        Op("read", name, 1, tr => {
          val arts = tr.build("query.filter")(qs.filter("uid__in" -> picked.map(_._1)).df)
          val df = tr.build("artifact.open")(fx.store.open(arts))
          val got = tr.exec("artifact.scan")(agg(df))
          // the same slices read as plain parquet, untimed
          () => expect(got, agg(spark.read.parquet(picked.map(_._2): _*)))
        })
      case "register" =>
        val dupes = Seq.fill(NDupes)(family().last)
        val fresh = (0 until RegisterBatch - NDupes).map(j => s"upload/u${fx.uploads + j}.bin")
        fx.uploads += fresh.size
        val entries = Gen.shuffle(fresh.map(k => fx.store.StatEntry(Gen.hex(32, r), "md5", 100L, 1L, k, ".bin")) ++
          dupes.map(a => fx.store.StatEntry(a.hash, "md5", 100L, 1L, a.key, a.suffix)), r)
        Op("write", name, RegisterBatch, tr => {
          val got = tr.span("artifact.register")(fx.store.registerBatch(entries, fx.storageId))
          tr.span("catalog.flush")(fx.cat.flush("artifact"))
          fresh.foreach(k => fx.arts += Art(-1L, "", k, ".bin", null, "", isLatest = true))
          () => expect(got, (fresh.size.toLong, NDupes.toLong))
        })
      case "trash_restore" =>
        val id = fx.scratch(r.nextInt(fx.scratch.size))
        Op("write", name, 1, tr => {
          tr.span("catalog.trash")(Lifecycle.trash(fx.cat, "artifact", Seq(id)))
          tr.span("catalog.restore")(Lifecycle.restore(fx.cat, "artifact", Seq(id)))
          () => None
        })
      case "ingest" =>
        fx.ingest.op(
          if (c == 1) Ingest.Redelivery(fx.lastFresh)
          else {
            fx.lastFresh = Ingest.Fresh(c.toInt * 2, Ingest.Sizes((c % Ingest.Sizes.size).toInt))
            fx.lastFresh
          })
    }
  }

  def finalChecks(): Seq[(String, Option[String])] = Seq("collection_rows" -> f.ingest.finalCheck())
}

object Registry {
  val NArtifacts = 6000
  val NProjects = 20
  val NChains = 30
  val ChainDepth = 6
  val NScratch = 32
  val NAnnotated = 1000
  val NSlices = 16
  val SliceRows = 500
  val Vocab = 400
  val RegisterBatch = 20
  val NDupes = 2
  val Suffixes: Seq[String] = Seq(".csv", ".parquet", ".h5ad", ".zarr", ".json")
  val Features: Seq[(String, String)] = Seq("score" -> "num", "batch" -> "int", "assay" -> "str")
  val Assays: Seq[String] = Seq("rna-seq", "atac-seq", "chip-seq", "proteomics", "imaging",
    "flow", "hi-c", "methylation")
  /** Ship-date cut-offs (days after 1992-01-01) of the scan filter. */
  val Cuts: Seq[Int] = Seq(400, 900, 1500, 2200)
}
