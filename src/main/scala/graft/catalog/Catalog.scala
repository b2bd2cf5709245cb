package graft.catalog

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.graft.LocalRows
import graft.core.Base62

/** Parquet-backed metadata catalog with copy-on-write snapshots.
  *
  * Mirrors the role of the reference's SQL metadata database
  * (SQLite/Postgres behind Django, `lamindb/models/sqlrecord.py`), adapted
  * to an immutable data-lake substrate:
  *
  *  - each registry table is a directory of versioned parquet snapshots
  *    `<root>/<table>/v<N>`; `_manifest.json` points at the current version
  *    (atomic rename commit, single writer);
  *  - inserts accumulate in a driver-side buffer (the reference batches
  *    bulk saves at 10k rows, `models/save.py:31`) and are unioned into
  *    reads until flushed;
  *  - updates (trash/restore, `is_latest` flips) are whole-table
  *    copy-on-write rewrites;
  *  - a table whose estimated size is within
  *    `spark.sql.autoBroadcastJoinThreshold` (small enough that every
  *    catalog join broadcasts it) is held on the driver: its committed
  *    snapshot is kept once, as the compact rows a write collected or a
  *    first read loaded (the version this instance committed or loaded,
  *    like the manifest itself), and `table` serves it with the buffer
  *    as one `LocalRelation`, so point lookups and rewrites of it run no
  *    scan job. Larger tables (and every table when the threshold is -1)
  *    stay parquet-backed scans, and their rewrites are Spark jobs that
  *    scale with the cluster, not the driver.
  *
  * `seed` makes uid generation and the clock deterministic, which the
  * correctness harness needs; production use passes seed=None semantics via
  * `Catalog.random`.
  */
final class Catalog(
    val spark: SparkSession,
    val root: String,
    rng: java.util.Random,
    val clock: () => Timestamp
) {
  import Catalog._

  private val buffers = mutable.Map.empty[String, mutable.ArrayBuffer[InternalRow]]
  private val encoders = mutable.Map.empty[String, Row => InternalRow]
  private val maxIds = mutable.Map.empty[String, Long]
  private val manifest = mutable.Map.empty[String, Int] // table -> version
  /** Each table's snapshot at its manifest version, once read or written:
    * Left = its rows held on the driver, Right = its parquet scan.
    */
  private val snapshots = mutable.Map.empty[String, Either[Seq[InternalRow], DataFrame]]
  /** `table(name)` plans, dropped on the table's next insert or write. */
  private val views = mutable.Map.empty[String, LogicalPlan]

  /** Branch visibility context (reference: `branch_id` on SQLRecord). */
  var currentBranchId: Long = MainBranchId
  /** Spaces this catalog's caller reads BY DEFAULT (reference: Space,
    * `models/sqlrecord.py:1702`); the "all" space is always included.
    * Drives the default-visibility injection in QuerySet — a scoping
    * convenience, not the reference's non-bypassable Postgres RLS (an
    * explicit space filter or id/uid/hash addressing reads outside it).
    */
  var visibleSpaceIds: Seq[Long] = Seq(AllSpaceId)
  /** Space new records are written into when set (reference: run-context /
    * settings space, `models/sqlrecord.py:1193-1205`); None = "all" space.
    */
  var currentSpaceId: Option[Long] = None
  /** Active run for lineage auto-linking; set by Lineage.track. */
  var currentRunId: Option[Long] = None
  /** Audit identity: fills `created_by_id` on insert when set (the
    * reference's `current_user_id` default on every TracksRun model).
    */
  var currentUserId: Option[Long] = None

  locally {
    loadManifest()
    LocalRows.install(spark)
  }

  def uid(n: Int): String = Base62.randomWith(n, rng)
  def newUidFor(t: TableDef): String =
    if (t.versioned) graft.core.Versioning.createUid(rng) else uid(t.uidLen)

  def tableDef(name: String): TableDef =
    Schemas.byName.getOrElse(name, throw new IllegalArgumentException(s"unknown registry '$name'"))

  // ---------------------------------------------------------------- reads

  private def snapshot(name: String): Option[Either[Seq[InternalRow], DataFrame]] =
    manifest.get(name).map { v =>
      snapshots.getOrElseUpdate(name, {
        val scan = spark.read.schema(tableDef(name).schema).parquet(s"$root/$name/v$v")
        if (LocalRows.fitsDriver(scan)) Left(ArraySeq.unsafeWrapArray(LocalRows.collect(scan)))
        else Right(scan)
      })
    }

  /** Current view of a registry table (snapshot ∪ unflushed buffer). */
  def table(name: String): DataFrame = LocalRows.frame(spark, views.getOrElseUpdate(name, {
    val schema = tableDef(name).schema
    val buffered = buffers.get(name).map(_.toSeq).getOrElse(Nil)
    snapshot(name) match {
      case Some(Left(rows)) => LocalRows.plan(schema, if (buffered.isEmpty) rows else rows ++ buffered)
      case Some(Right(scan)) if buffered.nonEmpty =>
        scan.unionByName(LocalRows.frame(spark, LocalRows.plan(schema, buffered))).queryExecution.analyzed
      case Some(Right(scan)) => scan.queryExecution.analyzed
      case None => LocalRows.plan(schema, buffered)
    }
  }))

  // --------------------------------------------------------------- writes

  def nextId(name: String): Long = {
    val cur = maxIds.getOrElseUpdate(name, snapshot(name) match {
      case Some(Left(rows)) =>
        val i = tableDef(name).schema.fieldIndex("id")
        rows.iterator.filterNot(_.isNullAt(i)).map(_.getLong(i)).maxOption.getOrElse(0L)
      case Some(Right(scan)) =>
        Option(scan.agg(max("id")).head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      case None => 0L
    })
    maxIds(name) = cur + 1
    cur + 1
  }

  /** Insert one row given by field map; fills id/uid/audit/branch defaults.
    * Returns the completed row as a Map.
    */
  def insert(name: String, values: Map[String, Any]): Map[String, Any] = {
    val t = tableDef(name)
    val withDefaults: Map[String, Any] = {
      var m = values
      if (!m.contains("id")) m += "id" -> nextId(name)
      if (t.uidLen > 0 && !m.contains("uid")) m += "uid" -> newUidFor(t)
      if (t.hasBranch && !m.contains("branch_id")) m += "branch_id" -> currentBranchId
      if (t.fieldNames.contains("space_id") && !m.contains("space_id"))
        m += "space_id" -> currentSpaceId.getOrElse(AllSpaceId)
      if (t.fieldNames.contains("is_latest") && !m.contains("is_latest")) m += "is_latest" -> true
      if (t.fieldNames.contains("created_at") && !m.contains("created_at")) m += "created_at" -> clock()
      if (t.fieldNames.contains("created_by_id") && !m.contains("created_by_id"))
        currentUserId.foreach(u => m += "created_by_id" -> u)
      m
    }
    val unknown = withDefaults.keySet -- t.fieldNames
    require(unknown.isEmpty, s"unknown fields $unknown for registry '$name'")
    val row = Row.fromSeq(t.schema.fields.map(f => withDefaults.get(f.name).orNull).toSeq)
    buffers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
      encoders.getOrElseUpdate(name, LocalRows.encoder(t.schema))(row)
    views.remove(name)
    withDefaults
  }

  def insertAll(name: String, rows: Seq[Map[String, Any]]): Seq[Map[String, Any]] =
    rows.map(insert(name, _))

  /** Copy-on-write full-table rewrite (trash/restore, is_latest flips,
    * bulk updates). The new content replaces snapshot AND buffer.
    */
  def overwrite(name: String, df: DataFrame): Unit = {
    // cast: held rows are read back by the table's schema, so each
    // column's type must be exactly the schema's (no-op casts fold away)
    val aligned = df.select(tableDef(name).schema.fields.toIndexedSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    writeSnapshot(name, aligned)
  }

  /** Persist buffered inserts of one table into a new snapshot version. */
  def flush(name: String): Unit =
    if (buffers.get(name).exists(_.nonEmpty)) writeSnapshot(name, table(name))

  def flushAll(): Unit = Schemas.all.map(_.name).foreach(flush)

  /** Commits `df` as the table's whole content, replacing snapshot AND buffer. */
  private def writeSnapshot(name: String, df: DataFrame): Unit = {
    val v = manifest.getOrElse(name, 0) + 1
    val path = s"$root/$name/v$v"
    // Gates read logical-plan STATS, not `df.rdd.getNumPartitions`: the
    // latter forces physical planning per flush and mis-fires on local
    // relations, whose default parallelism made 500-row tables write 33
    // tiny files each.
    if (LocalRows.fitsDriver(df)) {
      // metadata-scale (the common case): collect once, write one file
      // from those rows and hold them, so the next read or rewrite of this
      // table re-reads nothing
      val rows = ArraySeq.unsafeWrapArray(LocalRows.collect(df))
      LocalRows.frame(spark, LocalRows.plan(tableDef(name).schema, rows))
        .coalesce(1).write.mode("overwrite").parquet(path)
      snapshots(name) = Left(rows)
    } else {
      // a registry CAN be huge (the reference claims 1e9 runs): one file
      // keeps catalog joins cheap, but past ~1 GiB estimated keep the
      // incoming partitioning instead of funnelling the rewrite through a
      // single task
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      (if (est > (1L << 30)) df else df.coalesce(1)).write.mode("overwrite").parquet(path)
      snapshots.remove(name)
    }
    manifest(name) = v
    saveManifest()
    buffers.remove(name)
    views.remove(name)
  }

  /** Snapshot retention: every write creates `<table>/v<N>`, so a
    * long-lived catalog accumulates dead versions. Vacuum deletes all
    * but the newest `keepLast` versions per table (never the manifest's
    * current version — readers resolve through the manifest, so removing
    * superseded snapshots is safe in this single-writer design). Returns
    * the number of snapshot directories removed.
    */
  def vacuum(keepLast: Int = 2): Int = {
    require(keepLast >= 1, "must keep at least the current version")
    var removed = 0
    manifest.foreach { case (name, current) =>
      val dir = Paths.get(root, name)
      if (Files.isDirectory(dir)) {
        val stream = Files.list(dir)
        try {
          stream.iterator().asScala.foreach { p =>
            val fn = p.getFileName.toString
            if (fn.startsWith("v") && fn.drop(1).forall(_.isDigit)) {
              val v = fn.drop(1).toInt
              if (v <= current - keepLast) {
                deleteRecursively(p)
                removed += 1
              }
            }
          }
        } finally stream.close()
      }
    }
    removed
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  // ------------------------------------------------------------- manifest

  private def manifestPath = Paths.get(root, "_manifest.json")

  private def loadManifest(): Unit =
    if (Files.exists(manifestPath)) {
      val txt = Files.readString(manifestPath)
      """"([^"]+)"\s*:\s*(\d+)""".r.findAllMatchIn(txt).foreach { m =>
        manifest(m.group(1)) = m.group(2).toInt
      }
    }

  private def saveManifest(): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, s"_manifest.json.tmp")
    val json = manifest.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

object Catalog {
  val MainBranchId = 1L
  val TrashBranchId = -1L
  val ArchiveBranchId = 0L
  /** The built-in "all" space, readable by every collaborator
    * (`models/sqlrecord.py:1702`, db_default 1 on every space FK).
    */
  val AllSpaceId = 1L

  /** Default visible branches: current + main (`query_set.py:71-90`). */
  def defaultBranchIds(current: Long): Seq[Long] =
    if (current == MainBranchId) Seq(MainBranchId) else Seq(current, MainBranchId)

  /** Deterministic catalog (fixed seed + fixed clock) for tests/verify. */
  def deterministic(spark: SparkSession, root: String, seed: Long = 42L): Catalog =
    new Catalog(spark, root, new java.util.Random(seed),
      () => new Timestamp(1700000000000L))

  def random(spark: SparkSession, root: String): Catalog =
    new Catalog(spark, root, new java.security.SecureRandom(),
      () => new Timestamp(System.currentTimeMillis()))
}
