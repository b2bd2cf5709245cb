package graft.tools

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans of selected queries — the plan-review
  * loop: confirm filters reach the parquet scan (PushedFilters), schemas
  * are pruned (ReadSchema), small sides broadcast, codegen spans are wide.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_tpch_agg", "q04_fk_traversal", "q11_eav_filter")
    // SPARK_GRAFT_CPUS like the bench, so width decisions (spread targets,
    // shuffle partitions) in the dumped plans match the bench's session
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // bench-only drills (not in SparkEntry.queries): explain the simhash
    // kernel's SIGNATURE frame (W xxhash64 words) — the persist/self-join
    // machinery behind it is checkpoint-fenced and explains as Scan ExistingRDD
    val simhashWords = Map("d06_simhash" -> 1, "d34_simhash128" -> 2)
    names.foreach { n =>
      println(s"===== $n =====")
      simhashWords.get(n).fold(graft.SparkEntry.queries(n)(spark, sfDir)) { w =>
        graft.ext.Dedup.simhashSignature(graft.queries.TextQueries.corpusWithNearDups(spark, sfDir),
          "doc_id", "text", graft.ext.Dedup.SimhashLayout(w, 64))
      }.explain("formatted")
    }
    spark.stop()
  }
}
