package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.artifact.{ArtifactStore, Collections}
import graft.catalog.Catalog
import graft.curate.{FeatureSpec, SchemaSpec, SchemaValidator}
import graft.eav.ArtifactFeatures
import graft.lineage.Lineage

/** Curate-and-save, the registry workload's write path: one op takes one
  * seeded batch of lineitem rows through track → validate → save →
  * annotate → append to a collection → finish. A redelivered batch must
  * dedupe to the artifact saved before; a batch with planted violations
  * must be rejected, not saved. The op pays for data writes, content
  * hashing, and whole-table copy-on-write catalog rewrites whose cost grows
  * with the catalog.
  */
final class Ingest(spark: SparkSession, seed: Long, cat: Catalog, store: ArtifactStore,
                   lineage: Lineage, dataRoot: String) {
  import Ingest._
  import Workload.expect

  private val features = new ArtifactFeatures(cat)
  private val collections = new Collections(cat, store)
  private var collectionId = 0L
  private val saved = mutable.Map.empty[Int, Long] // fresh batch number -> artifact id
  private val members = mutable.Set.empty[Long]
  private var acceptedRows = 0L
  var acceptedBytes = 0L

  /** Labels the categorical columns validate against, and the collection
    * accepted batches join. Buffered; the caller flushes.
    */
  def populate(): Unit = {
    (Gen.ReturnFlags ++ Gen.ShipModes).foreach(n => cat.insert("ulabel", Map("name" -> n)))
    collectionId = collections.create("ingest/lineitem", Nil)("id").asInstanceOf[Long]
  }

  private def rows(b: Fresh): DataFrame =
    Gen.lineitem(spark, seed, s"batch${b.n}", b.rows, b.n * 1000000L, lit(b.n))

  /** Null quantities, an unknown return flag and an unknown ship mode. */
  private def invalidRows(n: Int): DataFrame = {
    val first = n * 1000000L
    Gen.lineitem(spark, seed, s"batch$n", InvalidRows, first, lit(n))
      .withColumn("l_quantity", when(col("l_linenumber") === 1 && col("l_orderkey") % 25 === 0, lit(null))
        .otherwise(col("l_quantity")))
      .withColumn("l_returnflag", when(col("l_orderkey") === first + 7, lit("X")).otherwise(col("l_returnflag")))
      .withColumn("l_shipmode", when(col("l_orderkey") === first + 21, lit("BOAT")).otherwise(col("l_shipmode")))
  }

  private def spec: SchemaSpec = SchemaSpec(Seq(
    FeatureSpec("l_orderkey", "int", nullable = false),
    FeatureSpec("l_quantity", "num", nullable = false),
    FeatureSpec("l_extendedprice", "num", nullable = false),
    FeatureSpec("l_discount", "num"),
    FeatureSpec("l_returnflag", "cat[ULabel]", catRegistry = Some((cat.table("ulabel"), "name"))),
    FeatureSpec("l_shipmode", "cat[ULabel]", catRegistry = Some((cat.table("ulabel"), "name"))),
    FeatureSpec("l_shipdate", "date", nullable = false)))

  def op(b: Batch): Op = {
    val (df, nRows, n) = b match {
      case x: Fresh      => (rows(x), x.rows, x.n)
      case Redelivery(x) => (rows(x), x.rows, x.n)
      case Invalid(x)    => (invalidRows(x), InvalidRows, x)
    }
    val key = s"ingest/batch$n.parquet"
    Op("write", "ingest", b match { case x: Fresh => x.rows.toLong; case _ => 0L }, tr => {
      tr.span("lineage.track")(lineage.track("ingest/load_lineitem.py", LoaderSource))
      val report = tr.span("curate.validate")(SchemaValidator.validate(df, spec))
      if (!report.passed) {
        tr.span("lineage.finish")(lineage.finish(statusCode = 1))
        () => b match {
          case _: Invalid => expect(report.issues.map(x => (x.check, x.column)).toSet, ExpectedIssues)
          case _          => Some(s"batch $n rejected: ${report.issues.mkString("; ")}")
        }
      } else {
        val art = tr.span("artifact.save")(store.fromDataFrames(Seq(df -> key), dataRoot).head)
        val id = art("id").asInstanceOf[Long]
        tr.span("eav.annotate")(features.addValues(id, Map(
          "source" -> "lineitem", "n_rows" -> nRows.toLong, "quarter" -> s"Q${1 + n % 4}")))
        // a client appends only what the collection does not hold yet
        val isNew = !members.contains(id)
        if (isNew) {
          collectionId = tr.span("artifact.collection_append")(
            collections.append(collectionId, Seq(id)))("id").asInstanceOf[Long]
          members += id
          acceptedRows += nRows
          acceptedBytes += art("size").asInstanceOf[Long]
        }
        tr.span("lineage.finish")(lineage.finish())
        () => b match {
          case x: Fresh =>
            saved(x.n) = id
            if (isNew) None else Some(s"fresh batch ${x.n} deduped to artifact $id")
          case Redelivery(x) => expect(Some(id), saved.get(x.n))
          case _: Invalid    => Some(s"batch $n with planted violations was accepted as artifact $id")
        }
      }
    })
  }

  /** The collection holds every accepted batch once. */
  def finalCheck(): Option[String] = expect(collections.open(collectionId).count(), acceptedRows)
}

object Ingest {
  sealed trait Batch
  final case class Fresh(n: Int, rows: Int) extends Batch
  final case class Redelivery(of: Fresh) extends Batch
  final case class Invalid(n: Int) extends Batch

  /** Row counts fresh batches draw from. */
  val Sizes: Seq[Int] = Seq(1000, 2000, 5000, 10000)
  val InvalidRows = 2000
  val LoaderSource = "import lineitem\nlineitem.load()\n"
  val ExpectedIssues: Set[(String, String)] = Set(("null_values", "l_quantity"),
    ("non_validated", "l_returnflag"), ("non_validated", "l_shipmode"))
}
