package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Inputs outside an operator's or a tool's domain fail loudly instead of
  * producing a silently wrong result. */
class InputGuardsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def winnow(docs: DataFrame): DataFrame =
    graft.operators.TextDedup.winnowNearDupPairs(docs, "doc_id", "text",
      k = 2, w = 2, minShared = 1, maxDf = 10)

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("winnowNearDupPairs fails on an id that cannot be packed into 32 bits") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again"
    // in-domain ids pass through unchanged
    val ok = winnow(Seq((0L, text), ((1L << 32) - 1, text)).toDF("doc_id", "text"))
    assert(ok.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, (1L << 32) - 1)))
    Seq(-1L, 1L << 32).foreach { bad =>
      val docs = Seq((bad, text), (7L, text)).toDF("doc_id", "text")
      val e = intercept[Exception](winnow(docs).collect())
      assert(causes(e).exists(c => Option(c.getMessage).exists(
        _.contains(s"doc_id outside [0, 2^32): $bad"))), e.toString)
    }
  }

  test("PlanDump takes the sf dir from --sf and rejects unknown names") {
    val a = PlanDump.parse(Seq("out", "before", "--sf", sf, "q31_minhash_lsh_pairs",
      "cache:winnow_pairs"))
    assert(a == PlanDump.Args("out", "before", sf,
      Seq("q31_minhash_lsh_pairs", "cache:winnow_pairs")))
    val noDir = intercept[IllegalArgumentException](PlanDump.parse(
      Seq("out", "before", "--sf", s"$sf/missing", "q31_minhash_lsh_pairs")))
    assert(noDir.getMessage.contains("is not a directory"))
    val badCache = intercept[IllegalArgumentException](PlanDump.parse(
      Seq("out", "before", "--sf", sf, "cache:nope")))
    assert(badCache.getMessage.contains("unknown cache:nope") &&
      badCache.getMessage.contains("minhash_pair_graph, ngram_jaccard_pairs"))
    // a path without the flag is not guessed to be the sf dir
    intercept[IllegalArgumentException](PlanDump.parse(
      Seq("out", "before", sf, "q31_minhash_lsh_pairs")))
  }
}
