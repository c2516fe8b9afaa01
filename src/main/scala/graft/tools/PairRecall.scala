package graft.tools
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ext.{AnnIndex, Similarity}
import graft.queries.PipelineQueries

/** Recall audit for the approximate similarity generators against
  * brute-force truth at a given SF — the "measure your index before
  * trusting it" ops tool. Pair shape: `dedup_embed` (sign-LSH banding)
  * and `dedup_embed_ann` (probe-confined candidates from the dedup
  * queries' persisted index) against `Similarity.cosinePairsBrute` at
  * the same threshold, then probe and super-probe sweeps on that
  * index. Top-k shape: PQ ADC and rescored top-10 against exact top-10
  * for the vector with vec_id 0 (sim_recall_eval covers it in the
  * battery).
  *
  * Usage: runMain graft.tools.PairRecall <sfDir> [threshold]
  * The brute leg is a deliberate O(N²) truth computation — run it at
  * audit SFs, not production ones.
  */
object PairRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.45
    val spark = GraftSession.local()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (dir, emb) = PipelineQueries.annIndexFor(spark, sfDir)
    val brute = pairs(Similarity.cosinePairsBrute(
      emb, "vec_id", "embedding", threshold))
    for (q <- Seq("dedup_embed", "dedup_embed_ann")) {
      val got = pairs(graft.SparkEntry.queries(q)(spark, sfDir)
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b")))
      val hit = (got & brute).size
      println(f"[recall] $q truth=${brute.size} got=${got.size} " +
        f"hit=$hit recall=${hit.toDouble / math.max(1, brute.size)}%.3f " +
        f"precision=${hit.toDouble / math.max(1, got.size)}%.3f")
    }
    // probe-count sweep on the indexed leg (the recall/work knob:
    // candidate work grows with probes², recall saturates), then the
    // two-level assignment sweep (superProbes > 0): recall cost of the
    // O(sqrt(N))-per-row hierarchical quantizer vs the flat ranking at
    // the same probes — how much super-probing buys back the recall
    for ((p, sp) <- Seq((2, 0), (6, 0), (8, 0), (12, 0), (4, 3), (8, 3),
        (8, 4), (8, 6), (8, 8))) {
      val t0 = System.nanoTime()
      val got = pairs(AnnIndex.cosinePairsIndexed(emb,
        "vec_id", "embedding", dir, threshold, probes = p,
        superProbes = sp))
      val secs = (System.nanoTime() - t0) / 1e9
      val hit = (got & brute).size
      println(f"[recall] ann probes=$p" +
        (if (sp > 0) s" superProbes=$sp" else "") + f" got=${got.size} " +
        f"recall=${hit.toDouble / math.max(1, brute.size)}%.3f " +
        f"time=$secs%.1f s")
    }
    val q = emb.filter(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val exact = ids(Similarity.topK(emb, "vec_id", "embedding", q, 10))
    val adc = ids(Similarity.pqTopK(emb, "vec_id", "embedding", q, 32, 64,
      10))
    val rescored = ids(Similarity.pqTopKRescored(emb, "vec_id",
      "embedding", q, 32, 64, 10, 80))
    println(s"[recall] top10 adc=${(exact & adc).size}/10 " +
      s"rescored=${(exact & rescored).size}/10")
    spark.stop()
  }
}
