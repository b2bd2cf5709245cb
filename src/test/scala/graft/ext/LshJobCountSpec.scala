package graft.ext

import org.apache.spark.graft.Jobs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins the Spark job count of every LSH entry point on the sf0.001
  * near-dup corpus. With AQE each shuffle stage runs as its own job, so a
  * count also pins the plan's Exchange count: the persist-materializing
  * `count()`, the shuffle stages and the closing `localCheckpoint` of each
  * pipeline. A refactor of the signature, banding or verify code must
  * leave every number here unchanged.
  */
class LshJobCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus = graft.queries.TextQueries.corpusWithNearDups(spark, TestSpark.sf0001)

  /** Jobs started by the call itself: construction runs the plan-sizing
    * count and the checkpoint job that materializes the result.
    */
  private def jobs(body: => Any): Int = Jobs.count(spark)(body)

  test("LSH entry points start a fixed number of jobs") {
    val got = Seq(
      "simhashCandidates" -> jobs(Dedup.simhashCandidates(corpus, "doc_id", "text")),
      "simhashCandidatesPortable" -> jobs(Dedup.simhashCandidatesPortable(corpus, "doc_id", "text")),
      "simhash128Candidates" -> jobs(Dedup.simhash128Candidates(corpus, "doc_id", "text")),
      "simhash128CandidatesPortable" ->
        jobs(Dedup.simhash128CandidatesPortable(corpus, "doc_id", "text")),
      "minhashPairs" -> jobs(Dedup.minhashPairs(corpus, "doc_id", "text",
        k = 16, bands = 8, threshold = 0.8)),
      "minhashPairsPortable" -> jobs(Dedup.minhashPairsPortable(corpus, "doc_id", "text")),
      "minhashClusterEdges" -> jobs(Dedup.minhashClusterEdges(corpus, "doc_id", "text")),
      "minhashClusterEdges(verify)" -> jobs(Dedup.minhashClusterEdges(corpus, "doc_id", "text",
        verifyThreshold = Some(0.5))))
    info(got.map { case (k, v) => s"$k=$v" }.mkString(" "))
    assert(got.toMap === Map[String, Int](
      "simhashCandidates" -> 7,
      "simhashCandidatesPortable" -> 7,
      "simhash128Candidates" -> 7,
      "simhash128CandidatesPortable" -> 7,
      "minhashPairs" -> 10,
      "minhashPairsPortable" -> 10,
      "minhashClusterEdges" -> 7,
      "minhashClusterEdges(verify)" -> 11))
  }
}
