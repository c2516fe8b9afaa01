package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by fixed-round degree peeling (Seidman 1983;
  * the Batagelj–Zaveršnik peel expressed as bulk-synchronous rounds):
  * each round drops every vertex whose degree in the SURVIVING
  * subgraph is below k, until the round budget is spent. The k-core
  * is the fixpoint; like `graph_bfs` (5 relaxation rounds) and
  * `graph_label_prop` (5 rounds), the OPERATOR is defined as exactly
  * `rounds` rounds so the DuckDB oracle can unroll the identical
  * computation — KCoreSpec proves the battery graph converges well
  * inside the budget (round r == round r+1), so the fixed-round
  * output IS the true k-core there.
  *
  * Scale shape: each round is two semi joins of the edge list
  * against the surviving vertex set (skinny long keys) plus one
  * map-side-combinable degree count — no windows, no collects. The
  * edge list is checkpointed once for its 2·rounds consumers; the
  * survivor set is checkpointed per round so plans stay O(1) deep
  * (the ConnectedComponents pattern). Rounds-to-converge on
  * random-ish graphs is small; a chain graph peels one layer per
  * round — callers with pathological graphs raise `rounds`.
  */
object KCore {

  /** @param edges (src, dst) UNDIRECTED edge list: caller supplies
    *              the symmetric closure, self-loop-free and distinct,
    *              so grouping by src counts each incident edge once.
    * @return surviving vertices of the k-core after `rounds` peels:
    *         (id, deg) with deg the vertex's degree recomputed INSIDE
    *         the returned survivor set — one final semi-join + count
    *         after the last peel, so `deg` never counts a just-dropped
    *         neighbor even when `rounds` stops short of the fixpoint
    *         (membership is still defined by exactly `rounds` peels; a
    *         survivor isolated by the final peel reports deg 0). At
    *         the fixpoint the recomputation is the identity, so the
    *         unrolled fixed-round oracle is unaffected (KCoreSpec pins
    *         both: fixpoint identity and the pre-fixpoint recompute).
    */
  def core(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"kcore: k=$k rounds=$rounds")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    // materialize the edge plan with the session's normal AQE, then
    // run the fixed-shape peel under IterConf (see its scaladoc) and
    // return it materialized from inside the scope
    val edgeRows = e.count()
    IterConf.materializeLoop(e.sparkSession, edgeRows,
        Seq(e)) { case Seq(el) =>
      var deg = el.groupBy("src").agg(count(lit(1)).as("deg"))
      for (_ <- 2 to rounds) {
        val surv = deg.filter(col("deg") >= k)
          .select(col("src").as("id")).localCheckpoint(false)
        val active = el
          .join(surv.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(surv.select(col("id").as("dst")), Seq("dst"), "left_semi")
        deg = active.groupBy("src").agg(count(lit(1)).as("deg"))
      }
      val members = deg.filter(col("deg") >= k)
        .select(col("src").as("id")).localCheckpoint(false)
      val inCore = el
        .join(members.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(members.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("deg"))
      // checkpointed so materializeLoop's count() caches it
      members
        .join(inCore, members("id") === inCore("src"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
        .localCheckpoint(false)
    }
  }
}
