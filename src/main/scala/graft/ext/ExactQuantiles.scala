package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles (SQL `percentile` / DuckDB
 *  `quantile_cont` semantics) in BOUNDED memory.
 *
 *  Spark's exact `percentile` is an ImperativeAggregate whose buffer
 *  materializes the full value multiset and merges it into one final
 *  reducer — at 100 TB that is an executor-memory wall. The usual
 *  escape (`approx_percentile`) gives up exactness AND run-to-run
 *  determinism (sketch compression depends on merge order), which the
 *  hash-based oracle gate cannot tolerate.
 *
 *  This computes exact order statistics instead, TeraSort-style but
 *  without the sort:
 *    pass 1  min / max / count                       (scalar agg)
 *    pass 2  fixed-width histogram, B buckets         (hash agg, B rows
 *            to the driver — B=8192 ≈ 64 KiB)
 *    pass 3  the ≤ 2·|ps| candidate buckets that contain a target
 *            rank are filtered out (≈ n/B rows each) and sorted
 *            PER BUCKET by a window — a distributed per-partition
 *            sort, never a global one.
 *  Small input: when the ranged (min < max) keys hold at most
 *  `refineLimit` rows in total — the most one candidate-bucket sort may
 *  take — passes 2 and 3 collapse into ONE windowed pass: row_number
 *  over (group, column) ordered by value, keeping only the target
 *  ranks. No histogram and no broadcast; the rows shuffled and the
 *  rows any task sorts stay within the same limit.
 *  Skew/ties guard: a candidate bucket with min == max IS the answer
 *  (no sort); a bucket still larger than `refineLimit` with min < max
 *  recurses on its own sub-range, so heavy ties converge to the
 *  min==max shortcut and smooth skew halves geometrically. Every
 *  driver-side structure is O(B + |ps|); every executor task sorts at
 *  most `refineLimit` rows.
 *
 *  ONE implementation serves every caller: the core is the grouped
 *  MULTI-value-column path (each scan computes stats/histograms for
 *  all requested value columns at once — an unpivot-explode makes the
 *  column id part of the composite key); the single-column grouped
 *  and the global entry points are thin wrappers (global = one
 *  constant group).
 *
 *  Determinism: bucket ids are a pure function of the value (never of
 *  partitioning), histogram counts are exact integers, and the value
 *  at a global rank is unique even under ties — so the result is
 *  bit-stable across runs, unlike a mergeable sketch.
 */
object ExactQuantiles {

  /** Exact `quantile_cont`-style percentiles of `valueCol` (nulls
   *  ignored), one double per requested `ps` entry. Global = the
   *  grouped path with one constant group. */
  def percentiles(df: DataFrame, valueCol: String, ps: Seq[Double],
                  buckets: Int = 8192,
                  refineLimit: Long = 4L * 1024 * 1024): Seq[Double] = {
    val out = groupedPercentilesMulti(
        df.select(lit(0).as("__all"), col(valueCol)),
        "__all", Seq(valueCol -> ps), buckets, refineLimit)
      .collect()
    require(out.nonEmpty, s"percentiles($valueCol) over empty input")
    ps.indices.map(i => out.head.getDouble(i + 1))
  }

  /** GROUPED exact percentiles — `GROUP BY g` + `percentile(v, p)`
   *  without the per-group full-multiset aggregation buffer. Returns a
   *  DataFrame (groupCol, p0, p1, ... one double per `ps` entry). */
  def groupedPercentiles(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double], buckets: Int = 2048,
      refineLimit: Long = 4L * 1024 * 1024,
      maxGroups: Int = 10000): DataFrame =
    groupedPercentilesMulti(df, groupCol, Seq(valueCol -> ps), buckets,
      refineLimit, maxGroups)

  /** Grouped exact percentiles over SEVERAL value columns in the same
   *  scans. `specs` is (valueCol, ps) per column; the output flattens
   *  to (groupCol, p0, p1, ...) in spec order — p-indices run across
   *  specs, so Seq(a -> Seq(.5), b -> Seq(.25, .9)) yields p0 = a@.5,
   *  p1 = b@.25, p2 = b@.9.
   *
   *  Same passes as the single-column path, vectorized over BOTH the
   *  groups and the value columns: an explode of |specs| (column-id,
   *  value) structs per row makes the column id part of the composite
   *  key, so one grouped min/max/count, one histogram pass (per-key
   *  range via a broadcast stats join), and one windowed candidate
   *  scan cover every column — |specs|× fewer jobs than calling the
   *  single-column path per column, and the input is scanned once per
   *  pass instead of once per pass per column. Oversized buckets
   *  recurse through `orderStatistics`. Groups where a column is
   *  all-null yield null for that column's percentiles. */
  def groupedPercentilesMulti(df: DataFrame, groupCol: String,
      specs: Seq[(String, Seq[Double])], buckets: Int = 2048,
      refineLimit: Long = 4L * 1024 * 1024,
      maxGroups: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    require(specs.nonEmpty, "groupedPercentilesMulti: no value columns")
    // unpivot: (g, c, v) rows, c = spec index — the column id joins the
    // group in every key so all downstream passes stay single-job
    val cv = explode(array(specs.zipWithIndex.map { case ((vc, _), i) =>
      struct(lit(i).as("c"), col(vc).cast("double").as("v")) }: _*))
    val base = df.select(col(groupCol).as("g"), cv.as("cv"))
      .select(col("g"), col("cv.c").as("c"), col("cv.v").as("v"))
      .filter(col("v").isNotNull && col("g").isNotNull)
    val stats = base.groupBy("g", "c")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
        count(lit(1)).as("n")).collect()
    require(stats.map(_.get(0)).distinct.length <= maxGroups,
      s"groupedPercentilesMulti: group count exceeds $maxGroups — " +
        "driver-side rank targets need bounded group cardinality")
    val gField = base.schema("g")

    // per-(group, column) rank targets — quantile_cont arithmetic:
    // pos = (n-1)*p, interpolate between 1-indexed ranks floor(pos)+1
    // and ceil(pos)+1
    case class GT(g: Any, c: Int, mn: Double, mx: Double, n: Long,
        targets: Seq[(Long, Long, Double)])
    val gts = stats.map { r =>
      val n = r.getLong(4)
      GT(r.get(0), r.getInt(1), r.getDouble(2), r.getDouble(3), n,
        specs(r.getInt(1))._2.map { p =>
          val pos = (n - 1).toDouble * p
          val lo = math.floor(pos).toLong
          (lo + 1L, math.ceil(pos).toLong + 1L, pos - lo)
        })
    }.toSeq
    val ranged = gts.filter(t => t.mn != t.mx)

    val resolved: Map[(Any, Int), Map[Long, Double]] =
      if (ranged.isEmpty) Map.empty
      else if (ranged.map(_.n).sum <= refineLimit) {
        // small input: every ranged key's rows together fit the one
        // sort a candidate bucket may take — rank them in ONE windowed
        // pass, no histogram, stats broadcast or candidate broadcast
        val keep = ranged.groupMap(_.c)(_.g)
          .map { case (c, gs) => col("c") === c && col("g").isin(gs: _*) }
          .reduce(_ || _)
        val wanted: Set[(Any, Int, Long)] = ranged.flatMap(t =>
          t.targets.flatMap(x => Seq(x._1, x._2)).map(r => (t.g, t.c, r)))
          .toSet
        val rankSet = wanted.map(_._3).toSeq.distinct.sorted
        base.filter(keep)
          .withColumn("r", row_number().over(
            Window.partitionBy("g", "c").orderBy("v")))
          .filter(col("r").isin(rankSet: _*))
          .select(col("g"), col("c"), col("r"), col("v")).collect()
          .map(r => (r.get(0), r.getInt(1), r.getInt(2).toLong,
            r.getDouble(3)))
          .filter(x => wanted.contains((x._1, x._2, x._3)))
          .groupMap(x => (x._1, x._2))(x => x._3 -> x._4)
          .map { case (k, xs) => k -> xs.toMap }
      } else {
        // histogram pass: bucket width is per-(group, column),
        // delivered to every row by a broadcast join on the (tiny)
        // stats table
        val statsDf = spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              ranged.map(t => Row(t.g, t.c, t.mn, t.mx))).asJava),
          org.apache.spark.sql.types.StructType(Seq(
            gField.copy(name = "sg"),
            org.apache.spark.sql.types.StructField("sc",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("mn",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("mx",
              org.apache.spark.sql.types.DoubleType))))
        // clamp in DOUBLE space before floor/cast: Catalyst may
        // reorder stacked recursion filters so this expression sees
        // rows far outside [mn, mx], where the raw ratio exceeds int
        // range and an after-the-floor clamp would ANSI-overflow
        val bucketOf = floor(least(lit((buckets - 1).toDouble),
          greatest(lit(0.0), (col("v") - col("mn")) /
            ((col("mx") - col("mn")) / buckets)))).cast("int")
        val binned = base
          .join(broadcast(statsDf),
            col("g") === col("sg") && col("c") === col("sc"))
          .select(col("g"), col("c"), col("v"), bucketOf.as("b"))
        val hist: Map[(Any, Int), Seq[(Int, Long)]] = binned
          .groupBy("g", "c", "b").agg(count(lit(1)).as("cnt")).collect()
          .map(r => ((r.get(0), r.getInt(1)), r.getInt(2), r.getLong(3)))
          .groupBy(_._1)
          .map { case (k, rs) =>
            k -> rs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }

        // driver cumsum per key → (key, bucket) -> local ranks
        case class Need(g: Any, c: Int, b: Int, before: Long, cnt: Long,
            locals: Seq[(Long, Long)]) // (globalRank, localRank)
        val needs: Seq[Need] = ranged.flatMap { t =>
          val buckets0 = hist((t.g, t.c))
          var cum = 0L
          val cumBefore = buckets0.map { case (b, c) =>
            val before = cum; cum += c; (b, before, c) }
          val ranks = t.targets.flatMap(x => Seq(x._1, x._2)).distinct
          ranks.map { r =>
            val (b, before, c) = cumBefore
              .find { case (_, bef, c) => r > bef && r <= bef + c }.get
            (b, before, c, r)
          }.groupBy(x => (x._1, x._2, x._3))
            .map { case ((b, before, c), xs) =>
              Need(t.g, t.c, b, before, c,
                xs.map(x => (x._4, x._4 - before)).distinct) }
        }

        val (big, small) = needs.partition(_.cnt > refineLimit)
        val fromSmall: Seq[(Any, Int, Long, Double)] =
          if (small.isEmpty) Nil
          else {
            val candDf = spark.createDataFrame(
              new java.util.ArrayList[Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(
                  small.map(nd => Row(nd.g, nd.c, nd.b))).asJava),
              org.apache.spark.sql.types.StructType(Seq(
                gField.copy(name = "cg"),
                org.apache.spark.sql.types.StructField("cc",
                  org.apache.spark.sql.types.IntegerType),
                org.apache.spark.sql.types.StructField("cb",
                  org.apache.spark.sql.types.IntegerType))))
            val wanted: Set[(Any, Int, Int, Long)] = small.flatMap(nd =>
              nd.locals.map { case (_, lr) => (nd.g, nd.c, nd.b, lr) })
              .toSet
            // pre-collect rank filter: only the wanted local ranks
            // (plus same-rank rows of other candidate buckets) reach
            // the driver — never a bucket's full contents
            val rankSet = wanted.map(_._4.toInt).toSeq.distinct.sorted
            val picked = binned
              .join(broadcast(candDf), col("g") === col("cg") &&
                col("c") === col("cc") && col("b") === col("cb"))
              .withColumn("r", row_number().over(
                Window.partitionBy("g", "c", "b").orderBy("v")))
              .filter(col("r").isin(rankSet: _*))
              .select(col("g"), col("c"), col("b"), col("r"), col("v"))
              .collect()
              .map(r => (r.get(0), r.getInt(1), r.getInt(2),
                r.getInt(3).toLong) -> r.getDouble(4))
              .filter { case (k, _) => wanted.contains(k) }.toMap
            small.flatMap(nd => nd.locals.map { case (gr, lr) =>
              (nd.g, nd.c, gr, picked((nd.g, nd.c, nd.b, lr))) })
          }
        val fromBig: Seq[(Any, Int, Long, Double)] = big.flatMap { nd =>
          val inBucket = binned
            .filter(col("g") === lit(nd.g) && col("c") === nd.c &&
              col("b") === nd.b)
            .select("v")
          val Row(bmn: Double, bmx: Double) =
            inBucket.agg(min(col("v")), max(col("v"))).head()
          val at =
            if (bmn == bmx) nd.locals.map(_._2).distinct
              .map(_ -> bmn).toMap
            else orderStatistics(inBucket, bmn, bmx, nd.cnt,
              nd.locals.map(_._2).distinct.sorted, buckets, refineLimit)
          nd.locals.map { case (gr, lr) => (nd.g, nd.c, gr, at(lr)) }
        }
        (fromSmall ++ fromBig).groupBy(x => (x._1, x._2))
          .map { case (k, xs) => k -> xs.map(x => (x._3, x._4)).toMap }
      }

    val byKey = gts.map(t => (t.g, t.c) -> t).toMap
    val rows = gts.map(_.g).distinct.map { g =>
      Row.fromSeq(g +: specs.zipWithIndex.flatMap { case ((_, ps), c) =>
        byKey.get((g, c)) match {
          case None => ps.map(_ => null) // column all-null in this group
          case Some(t) =>
            val at: Long => Double =
              if (t.mn == t.mx) _ => t.mn else resolved((g, c))
            t.targets.map { case (loR, hiR, frac) =>
              val a = at(loR)
              if (frac == 0.0) a else a + (at(hiR) - a) * frac
            }
        }
      })
    }
    val nPs = specs.map(_._2.length).sum
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(
        gField.copy(name = groupCol) +:
          (0 until nPs).map(i => org.apache.spark.sql.types.StructField(
            s"p$i", org.apache.spark.sql.types.DoubleType))))
  }

  /** Round like Spark's `round(col, 6)` / DuckDB's `round(x, 6)`
   *  (HALF_UP on the decimal expansion) so a driver-computed edge can
   *  stand in for an in-plan rounded aggregate bit-for-bit. */
  def round6(v: Double): Double =
    BigDecimal.valueOf(v)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Values at the given 1-indexed global ranks of `base.v` sorted
   *  ascending, within the known range [mn, mx] of count n — the
   *  recursion step for oversized candidate buckets. */
  private def orderStatistics(base: DataFrame, mn: Double, mx: Double,
      n: Long, ranks: Seq[Long], buckets: Int,
      refineLimit: Long): Map[Long, Double] = {
    require(ranks.forall(r => r >= 1 && r <= n), s"rank out of [1,$n]")
    if (mn == mx) return ranks.map(_ -> mn).toMap
    val width = (mx - mn) / buckets
    // Pure function of the value: same bucket on every run, and the
    // clamp folds fp edge cases (v == mx) into the last bucket. The
    // clamp runs in DOUBLE space BEFORE floor/cast — combined
    // recursion filters can evaluate this on out-of-range rows where
    // the raw ratio would ANSI-overflow the int cast.
    val bucketOf = floor(least(lit((buckets - 1).toDouble),
      greatest(lit(0.0), (col("v") - mn) / width))).cast("int")
    val hist = base.groupBy(bucketOf.as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // driver-side cumulative walk over ≤ `buckets` entries
    val ordered = hist.toSeq.sortBy(_._1)
    var cum = 0L
    val cumBefore = ordered.map { case (b, c) =>
      val before = cum; cum += c; b -> (before, c)
    }.toMap
    val need: Map[Int, Seq[(Long, Long)]] = // bucket -> (globalRank, localRank)
      ranks.map { r =>
        val (b, (before, _)) = cumBefore.iterator
          .filter { case (_, (bef, c)) => r > bef && r <= bef + c }
          .minBy(_._1)
        (b, r, r - before)
      }.groupMap(_._1)(t => (t._2, t._3))

    val (big, small) =
      need.partition { case (b, _) => cumBefore(b)._2 > refineLimit }

    // All small candidate buckets resolve in ONE filtered scan: the
    // window partitions by the real bucket column, so each task sorts
    // only its own bucket's ≤ refineLimit rows — distributed
    // per-bucket, never a global sort.
    val fromSmall: Seq[(Long, Double)] = if (small.isEmpty) Nil else {
      val wanted = small.toSeq.flatMap { case (b, local) =>
        local.map { case (_, lr) => (b, lr) } }.toSet
      val pairCond = wanted.toSeq.sorted
        .map { case (b, lr) => col("b") === b && col("r") === lr }
        .reduce(_ || _)
      val picked = base.withColumn("b", bucketOf)
        .filter(col("b").isin(small.keys.toSeq.sorted: _*))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("b")).orderBy(col("v"))))
        .filter(pairCond)
        .select(col("b"), col("r"), col("v")).collect()
        .map(r => (r.getInt(0), r.getInt(1).toLong) -> r.getDouble(2))
        .toMap
      small.toSeq.flatMap { case (b, local) =>
        local.map { case (g, lr) => g -> picked((b, lr)) } }
    }

    // An oversized bucket recurses on its own sub-range; heavy ties
    // converge to the min==max shortcut, smooth skew halves each level.
    val fromBig: Seq[(Long, Double)] = big.toSeq.flatMap { case (b, local) =>
      val (_, cnt) = cumBefore(b)
      val inBucket = base.filter(bucketOf === b)
      val Row(bmn: Double, bmx: Double) =
        inBucket.agg(min(col("v")), max(col("v"))).head()
      if (bmn == bmx) local.map { case (g, _) => g -> bmn }
      else orderStatistics(inBucket, bmn, bmx, cnt,
          local.map(_._2).distinct.sorted, buckets, refineLimit)
        .toSeq.flatMap { case (lr, v) =>
          local.filter(_._2 == lr).map { case (g, _) => g -> v } }
    }
    (fromSmall ++ fromBig).toMap
  }
}
