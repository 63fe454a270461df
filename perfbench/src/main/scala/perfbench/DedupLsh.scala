package perfbench

import graft.pipeline.TextDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate detection over a generated corpus: MinHash-LSH pairs
  * (k=32, 4 bands, Jaccard ≥ 0.9) then connected-component clusters. Docs
  * are 8 words from a 50k vocabulary; every doc whose id ends in 99 copies
  * the text of the doc before it, so the answer is exactly docs/100 pairs.
  * The corpus is above the operator's small-corpus cut-off (65,536 docs),
  * so the banded self-join runs shuffled. One caller, closed loop; one op
  * is one full pass (pairs + clusters).
  */
final class DedupLsh(seed: Long) extends Workload {
  val name = "dedup_lsh"
  private val Docs = 70000L
  private val Vocab = 50000
  private var corpus: DataFrame = _

  def describe: Map[String, Any] = Map(
    "why" -> "the only workload with a large exchange: the banded LSH self-join and the pipeline layer",
    "docs" -> Docs, "words_per_doc" -> 8, "vocabulary" -> Vocab, "planted_duplicate_pairs" -> Docs / 100,
    "minhash" -> Map("k" -> 32, "bands" -> 4, "threshold" -> 0.9),
    "loop" -> "closed, 1 in-process caller; an op is one pass (pairs + clusters)",
    "session" -> "local[nproc], the build's javaOptions, shuffle partitions = nproc")

  private def generate(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val src = when(pmod(col("id"), lit(100)) === 99, col("id") - 1).otherwise(col("id"))
    spark.range(0, Docs).select(col("id").as("doc"),
      concat_ws(" ", (0 until 8).map(j =>
        concat(lit("w"), pmod(xxhash64(lit(seed), src, lit(j)), lit(Vocab)))): _*).as("text"))
  }

  /** Set-up is one corpus persist (under a second): eleven make a steadier median. */
  override def setupReps: Int = 11
  /** One pass (a pass always completes once started). */
  def warmupSeconds: Double = 1.0

  def setup(ctx: Ctx): Map[String, Double] = {
    Option(corpus).foreach(_.unpersist(blocking = true))
    val t0 = System.nanoTime()
    corpus = generate(ctx.spark).persist()
    corpus.count()
    Map("corpus_gen_s" -> (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx, deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) {
      ctx.op("dedup_pass") {
        val pairs = ctx.span("pipeline", "TextDedup.minhashLshPairs")(
          TextDedup.minhashLshPairs(corpus, "doc", "text", k = 32, bands = 4, threshold = 0.9))
        val nPairs = ctx.span("spark", "count")(pairs.count())
        val clusters = ctx.span("pipeline", "TextDedup.dedupClusters")(TextDedup.dedupClusters(pairs, "i", "j"))
        val sizes = ctx.span("spark", "collect")(
          clusters.groupBy("cluster_id").count().select("count").collect().map(_.getLong(0)))
        // free the pairs before the next pass starts, not while it runs
        pairs.unpersist(blocking = true)
        val planted = ctx.expect(Docs / 100)
        val pairsOk = ctx.check("dedup.pairs", nPairs == planted, s"$nPairs verified pairs, $planted planted")
        val clustersOk = ctx.check("dedup.clusters", sizes.length == planted && sizes.forall(_ == 2),
          s"${sizes.length} clusters, $planted expected, sizes ${sizes.distinct.sorted.mkString(",")}")
        pairsOk && clustersOk
      }
    }

  def verify(ctx: Ctx): Unit = ()

  override def close(): Unit = Option(corpus).foreach(_.unpersist(blocking = true))

  def inputFingerprint(ctx: Ctx): Map[String, String] = {
    val r = generate(ctx.spark).agg(count(lit(1)), sum(pmod(xxhash64(col("doc"), col("text")), lit(1000000007L)))).collect().head
    Map("corpus" -> s"${r.getLong(0)}:${r.getLong(1)}")
  }
}
