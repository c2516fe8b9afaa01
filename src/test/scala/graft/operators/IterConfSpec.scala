package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r17 loop-execution optimization (AQE off + state-derived
  * partition count for fixed-shape loops, materialized results) in its
  * r18 ISOLATED form: the loop conf lives on a dedicated loop session,
  * the CALLER'S session is never mutated — a query planned concurrently
  * on the caller's session keeps its AQE and partition count (ADVICE
  * r17 / VERDICT r17 #6). Loop results are checked against ground
  * truth computed without the loop machinery.
  */
class IterConfSpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq(
    (1L, 2L), (2L, 3L), (7L, 8L), (10L, 10L), (4L, 5L), (5L, 6L),
    (6L, 4L), (20L, 21L)).toDF("id_a", "id_b")

  test("the caller's session is NEVER reconfigured — the loop conf " +
      "lives on the isolated loop session; a concurrent query on the " +
      "caller's session plans with AQE on and its own partitions") {
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val in = Seq((1L, 1L)).toDF("id", "x").localCheckpoint(true)
    IterConf.loopScope(spark, 5L, Seq(in)) { case Seq(reb) =>
      // inside the scope: the rebound frame's session carries the
      // loop conf...
      assert(reb.sparkSession ne spark)
      assert(reb.sparkSession.conf
        .get("spark.sql.adaptive.enabled") == "false")
      assert(reb.sparkSession.conf
        .get("spark.sql.shuffle.partitions") == "1")
      // ...while the caller's session is untouched — a concurrent
      // query here plans adaptively with the session's own width
      assert(spark.conf
        .get("spark.sql.adaptive.enabled", "true") == aqe0)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
      val concurrent = spark.range(100).groupBy(col("id") % 10)
        .count()
      assert(concurrent.queryExecution.executedPlan.toString
        .contains("AdaptiveSparkPlan"),
        "concurrent query lost AQE during a loop scope")
      // rebinding carries rows across sessions unchanged
      assert(reb.collect().toSeq == in.collect().toSeq)
      reb
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqe0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
  }

  test("loop partition count derives from state rows (2M rows per " +
      "partition), capped by the session ceiling") {
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val in = Seq((1L, 1L)).toDF("id", "x").localCheckpoint(true)
    IterConf.loopScope(spark, 7_000_000L, Seq(in)) { case Seq(reb) =>
      val expect = math.min(parts0.toLong, 4L)
      assert(reb.sparkSession.conf.get("spark.sql.shuffle.partitions")
        == expect.toString)
      reb
    }
  }

  test("two overlapping loop scopes get DISTINCT loop sessions with " +
      "their own widths (the interleaved-restore hazard of the r17 " +
      "shared-session scope)") {
    val in = Seq((1L, 1L)).toDF("id", "x").localCheckpoint(true)
    IterConf.loopScope(spark, 1L, Seq(in)) { case Seq(a) =>
      IterConf.loopScope(spark, 7_000_000L, Seq(in)) { case Seq(b) =>
        assert(a.sparkSession ne b.sparkSession)
        assert(a.sparkSession.conf
          .get("spark.sql.shuffle.partitions") == "1")
        assert(b.sparkSession.conf
          .get("spark.sql.shuffle.partitions") == "4")
        b
      }
      a
    }
  }

  test("CC labels match the component-min ground truth (incl. the " +
      "fused one-hop seed)") {
    val got = ConnectedComponents.labels(edges).collect().toSet
    // ground truth: label = min id of the component
    val want = Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L),
      (10L, 10L), (4L, 4L), (5L, 4L), (6L, 4L), (20L, 20L), (21L, 20L))
    assert(got.map(r => (r.getLong(0), r.getLong(1))) == want)
  }

  test("PageRank ranks match a driver-side power iteration and are " +
      "served materialized (cached-RDD scan, no re-execution)") {
    val e = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    val got = PageRank.ranks(e, 6, 0.85)
    // materialized: the served plan is a scan of checkpointed blocks
    assert(got.queryExecution.optimizedPlan.collectLeaves().forall(
      _.getClass.getSimpleName.contains("LogicalRDD")))
    // PageRank.scala's formula on the driver: per-destination mass
    // summed exactly in DECIMAL(38,18), rank = (1-d)/N + d·mass
    val es = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = es.flatMap { case (a, b) => Seq(a, b) }.distinct
    val deg = es.groupBy(_._1).map { case (k, v) => k -> v.size }
    val base = (1.0 - 0.85) / nodes.size
    var ranks = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to 6) {
      val mass = es.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (src, _) =>
          BigDecimal(ranks(src) / deg(src))
            .setScale(18, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
      }
      ranks = nodes.map(id =>
        id -> (base + 0.85 * mass.getOrElse(id, 0.0))).toMap
    }
    val want = ranks.map { case (id, r) => (id, math.round(r * 1e12)) }
      .toSet
    assert(got.collect().map(r =>
      (r.getLong(0), math.round(r.getDouble(1) * 1e12))).toSet == want)
  }

  test("a parent session used once through loopScope and then dropped " +
      "becomes unreachable: the loop-session pool keys it weakly") {
    def useOnce(): java.lang.ref.WeakReference[AnyRef] = {
      val parent = spark.newSession()
      val in = parent.range(3).toDF("id")
      assert(IterConf.loopScope(parent, 3L, Seq(in)) {
        case Seq(reb) => reb.count()
      } == 3L)
      new java.lang.ref.WeakReference(parent)
    }
    val ref = useOnce()
    var tries = 0
    while (ref.get != null && tries < 50) {
      System.gc()
      Thread.sleep(100)
      tries += 1
    }
    assert(ref.get == null, "parent session still reachable after GC")
  }
}
