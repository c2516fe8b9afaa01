package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DotDouble

/** Embedding similarity search over `array<float>` columns.
  *
  * Arithmetic policy: every dot product is a strict left fold in double
  * (`graft.functions.DotDouble`, a codegen'd Catalyst expression) —
  * the same element-order fold DuckDB's `list_sum(list_transform(...))`
  * performs, so scores are oracle-checkable cross-engine.
  *
  * Scale paths:
  *   - brute-force top-k: one scan, per-row score, ORDER BY LIMIT k —
  *     Spark's TakeOrdered keeps only k rows per partition; fine for a
  *     single query vector even on huge tables.
  *   - all-pairs: norms computed once per row BEFORE the pair join
  *     (never per pair), then a codegen'd 64-step loop per pair.
  *   - LSH ANN: sign-bit bucketing against fixed hyperplanes prunes
  *     the scan to matching buckets; the bucket id is computed
  *     map-side and can back a partition/bucket layout at rest, so a
  *     query touches a handful of partitions instead of 100 TB.
  */
object Similarity {

  /** Codegen'd left-fold dot product in double (mixed float/double ok). */
  def dot(a: Column, b: Column): Column = DotDouble.dot_double(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k against one query vector. */
  def topK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(x => lit(x.toDouble)): _*)
    val v = col(vecCol)
    df.select(col(idCol),
        (dot(v, q) / (l2norm(v) * l2norm(q))).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Sign-bit LSH bucket id: bit j = [dot(v, plane_j) > 0]. Planes are
    * caller-supplied fixed vectors (deterministic — e.g. the first
    * `nPlanes` corpus vectors), broadcast as literals.
    */
  def lshBucket(vec: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val pl = array(p.map(x => lit(x.toDouble)): _*)
      when(dot(vec, pl) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** ANN top-k: restrict the scan to vectors whose LSH bucket is
    * within `probeHamming` bits of the query's bucket (multi-probe),
    * then exact cosine. Approximate — recall measured in tests against
    * `topK`.
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], planes: Seq[Seq[Float]], k: Int,
      probeHamming: Int = 1): DataFrame = {
    val qd = array(query.map(x => lit(x.toDouble)): _*)
    val qBucket = lshBucket(qd, planes)
    val v = col(vecCol)
    df.select(col(idCol), v.as("v"),
        lshBucket(v, planes).as("bucket"))
      .filter(Dedup.hamming64(col("bucket"), qBucket) <= probeHamming)
      .select(col(idCol),
        (dot(col("v"), qd) /
          (l2norm(col("v")) * l2norm(qd))).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) ANN top-k: a deterministic coarse quantizer
    * (the first `nCentroids` corpus vectors by id), each vector
    * assigned map-side to its max-dot-product cell, the query probing
    * only the `probes` closest cells, exact cosine inside them.
    *
    * Scale path: the cell id is a plain column — the corpus can be
    * WRITTEN partitioned/bucketed by cell, so a query scans `probes`
    * cells instead of the full table. Cell assignment is one codegen'd
    * projection (nCentroids dot products per row), no shuffle.
    * Approximate — recall vs `topK` asserted in tests.
    */
  /** IVF cell id: index of the max-dot-product centroid (ties → the
    * lowest index, mirroring `row_number ... ORDER BY dp DESC, cid`).
    * A plain column — compute it at WRITE time and `partitionBy` on it
    * to get the at-rest layout where a `probes`-cell query scans only
    * `probes` partitions of the lake (pinned in LayoutSpec).
    */
  def ivfCell(vec: Column, cents: Seq[Seq[Float]]): Column = {
    val darr = array(cents.map(c =>
      dot(vec, array(c.map(x => lit(x.toDouble)): _*))): _*)
    (array_position(darr, array_max(darr)) - 1).cast("int")
  }

  /** First `nCentroids` corpus vectors by id — the deterministic
    * coarse quantizer shared by `ivfTopK`, the at-rest layout, and the
    * SQL oracle.
    */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int): Seq[Seq[Float]] =
    df.orderBy(idCol).limit(nCentroids)
      .select(vecCol).collect().map(_.getSeq[Float](0).toSeq).toSeq

  /** Deterministic Lloyd refinement of the first-N coarse quantizer:
    * `iters` rounds of assign-to-max-dot-cell (one codegen'd map-side
    * projection — no shuffle) followed by per-cell mean recomputation
    * (explode to skinny (cell, dim, x) rows, ONE partial-agg'd
    * groupBy). Sums run in DECIMAL, so the means are independent of
    * partition order — same corpus, same centroids, every run, any
    * cluster layout. Only the aggregated nCentroids x dim means are
    * collected (bounded, like the init collect). Cells that go empty
    * keep their previous centroid.
    *
    * Fixes the first-N quantizer's weakness on clustered corpora
    * (several of the first N vectors landing in one natural cluster →
    * unbalanced cells); measured in SimilaritySpec: max/min cell-size
    * ratio drops, recall at equal probes does not.
    */
  def trainedIvfCentroids(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int = 5): Seq[Seq[Float]] = {
    var cents = ivfCentroids(df, idCol, vecCol, nCentroids)
    val v = df.select(col(vecCol).as("v")).localCheckpoint(false)
    for (_ <- 0 until iters) {
      val meanRows = v
        .withColumn("cell", ivfCell(col("v"), cents))
        .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d"))
        .agg((sum(col("x").cast("decimal(27,12)")) /
          count(lit(1))).cast("double").as("m"))
        .collect() // bounded: nCentroids * dim aggregated rows
      val byCell = meanRows.groupBy(_.getInt(0))
      cents = (0 until nCentroids).map { c =>
        byCell.get(c).fold(cents(c)) { rs =>
          val dim = rs.map(_.getInt(1)).max + 1
          val arr = new Array[Float](dim)
          rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2).toFloat)
          arr.toSeq
        }
      }
    }
    cents
  }

  /** IVF top-k against caller-supplied centroids (e.g.
    * `trainedIvfCentroids`). `ivfTopK` passes the fixed first-N
    * quantizer — the oracle-checked default.
    */
  def ivfTopKWith(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], cents: Seq[Seq[Float]], probes: Int = 2,
      k: Int = 10): DataFrame = {
    // driver-side: the query's closest cells
    val probeCells = topCells(query.map(_.toDouble), cents, probes)
    val qlit = array(query.map(x => lit(x.toDouble)): _*)
    df.select(col(idCol), col(vecCol).as("v"))
      .withColumn("__cell", ivfCell(col("v"), cents))
      .filter(col("__cell").isin(probeCells: _*))
      .select(col(idCol),
        (dot(col("v"), qlit) /
          (l2norm(col("v")) * l2norm(qlit))).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Indices of the `n` centroids closest to `q` by dot product,
    * ranked (dot DESC, index ASC) — the ONE driver-side ranking of the
    * IVF probe pick, the persisted index's serve plan and its
    * two-level child→super tree. Each dot is a strict left fold in
    * dimension order, so the doubles are bit-identical wherever it is
    * used.
    */
  private[graft] def topCells(q: Seq[Double], cents: Seq[Seq[Float]],
      n: Int): Seq[Int] =
    cents.zipWithIndex
      .map { case (c, j) =>
        (q.zip(c).foldLeft(0.0)((acc, p) => acc + p._1 * p._2.toDouble),
          j)
      }
      .sortBy { case (d, j) => (-d, j) }.take(n).map(_._2)

  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], nCentroids: Int = 16, probes: Int = 2,
      k: Int = 10): DataFrame =
    ivfTopKWith(df, idCol, vecCol, query,
      ivfCentroids(df, idCol, vecCol, nCentroids), probes, k)

  /** First `nPlanes` corpus vectors as the LSH hyperplanes — shared by
    * `cosinePairsLsh`, `knnJoin`, and (via the `id < nPlanes`
    * membership) the SQL oracles. The oracle derives plane membership
    * and the band/bit layout from the raw id — valid only when ids
    * are dense and 0-based, so that is guarded here rather than
    * silently diverging on a re-keyed corpus.
    */
  private def lshPlanes(corpus: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int): Seq[Seq[Float]] = {
    val planeRows = corpus.orderBy(idCol).limit(nPlanes)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
    val planes = planeRows.map(_.getSeq[Float](1).toSeq).toSeq
    require(planes.size == nPlanes,
      s"corpus has only ${planes.size} vectors; need $nPlanes planes")
    require(planeRows.map(_.getLong(0)).toSeq == (0L until nPlanes),
      s"plane ids must be dense 0..${nPlanes - 1} to match the banding")
    planes
  }

  /** ONE codegen'd expression for all bands*rowsPerBand plane dots —
    * composing it from separate dot-product columns falls out of
    * codegen and runs ~30x slower (see SignBands).
    */
  private def signBandKeys(vec: Column, planes: Seq[Seq[Float]],
      bands: Int, rowsPerBand: Int): Column =
    graft.functions.SignBands.sign_bands(vec,
      planes.flatten.map(_.toDouble), bands, rowsPerBand)

  /** Near-duplicate pair mining via banded sign-LSH + exact cosine on
    * candidates — the embedding analogue of
    * `Dedup.minhashPairsFromShingles`, and the 100 TB path: no
    * crossJoin anywhere. Plan shape:
    *
    *   1. planes = the first `bands * rowsPerBand` corpus vectors
    *      (bounded, deterministic collect — like the IVF centroids);
    *   2. one codegen'd map-side projection computes every band key
    *      (bit p of band j = [dot(v, plane_{j*r+p}) > 0]);
    *   3. the band self-join ships only (id, band, key) through
    *      `Dedup.bucketPairs` (mega-bucket salting guard included);
    *   4. exact cosine verifies candidates — vectors are fetched per
    *      candidate id via joins, never shipped pairwise wholesale.
    *
    * Recall follows the sign-LSH S-curve: per-band match probability
    * is p^r with p = 1 - angle/pi. Near-dup regimes (cos >= 0.9,
    * p ~ 0.86) get recall > 0.999 at 24x6 banding with ~50x candidate
    * pruning; weak thresholds near the background distribution trade
    * recall for pruning (measured in SimilaritySpec against
    * `cosinePairsBrute`).
    */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 24, rowsPerBand: Int = 6,
      hotCap: Int = 4096, salts: Int = 16): DataFrame = {
    val planes = lshPlanes(df, idCol, vecCol, bands * rowsPerBand)
    val n = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nrm"))
    val keys = signBandKeys(col("v"), planes, bands, rowsPerBand)
    // checkpoint: the band projection feeds several bucketPairs legs
    val banded = n.select(col("id"),
        posexplode(keys).as(Seq("band", "bk")))
      .localCheckpoint(false)
    val cand = Dedup.bucketPairs(banded, hotCap, salts).distinct()
    cand
      .join(n.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(n.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Batch k-NN join: every `queries` row joined to its k nearest
    * `corpus` rows by exact cosine, candidates mined with the same
    * banded sign-LSH as `cosinePairsLsh`. This is the shape a training
    * pipeline needs — dedup one dataset AGAINST another, retrieval
    * eval over a query table — where the single-vector `annTopK`/
    * `ivfTopK` would mean one Spark job per query row.
    *
    * Scale path, end to end distributed (no per-query driver work):
    *   1. planes = first `bands*rowsPerBand` CORPUS vectors (bounded
    *      deterministic collect, like cosinePairsLsh);
    *   2. both sides banded map-side by one codegen'd SignBands
    *      projection; the bucket join ships only (id, band, bk);
    *   3. `Dedup.bucketJoinPairs(ordered=false)` keeps every
    *      (qid, cid) bucket co-occurrence — the id spaces are
    *      unrelated, so the self-join's `id_a < id_b` dedup does not
    *      apply — with the same mega-bucket salting guard;
    *   4. exact cosine on candidates, then a (qid)-partitioned
    *      row_number window keeps k per query: the window shuffles
    *      only (qid, cid, cos) triples, and no partition exceeds a
    *      query's banding-bounded candidate count.
    *
    * Recall is banding-bounded (a true neighbor is missed only if it
    * agrees with the query on NO band) — measured in SimilaritySpec
    * against per-query brute force. Ties break on cid: deterministic,
    * oracle-checkable.
    *
    * Guaranteed k (`guaranteeK`, default on): a query sharing no band
    * with >= k corpus vectors has a starved candidate set, and the
    * window's `rank <= k` would silently return fewer rows. Starved
    * qids are detected with one tiny aggregate over the candidate
    * list and re-answered ENTIRELY by exact brute-force top-k — exact
    * top-k subsumes whatever banded candidates the qid had, so the
    * semantics stay clean: banded-approximate for healthy qids, exact
    * for starved ones, always k rows per qid (when the corpus has
    * >= k rows). The brute leg broadcasts only the starved query
    * vectors (rare by the banding S-curve) against one corpus scan,
    * and is skipped driver-side when no qid is starved — the common
    * case keeps the exact candidates-only plan (pinned no-cartesian
    * in PlanShapeSpec).
    */
  def knnJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, bands: Int = 24, rowsPerBand: Int = 6,
      hotCap: Int = 4096, salts: Int = 16,
      guaranteeK: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = lshPlanes(corpus, idCol, vecCol, bands * rowsPerBand)
    val qn = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("qnrm"))
      .localCheckpoint(false) // feeds the band leg AND the verify join
    val cn = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"),
        l2norm(col(vecCol)).as("cnrm"))
      .localCheckpoint(false)
    val qBanded = qn.select(col("qid").as("id_a"),
      posexplode(signBandKeys(col("qv"), planes, bands, rowsPerBand))
        .as(Seq("band", "bk")))
    val cBanded = cn.select(col("cid").as("id_b"),
      posexplode(signBandKeys(col("cv"), planes, bands, rowsPerBand))
        .as(Seq("band", "bk")))
    val cand = Dedup.bucketJoinPairs(qBanded, cBanded, hotCap, salts,
        ordered = false)
      .distinct()
      .select(col("id_a").as("qid"), col("id_b").as("cid"))
      .localCheckpoint(false) // feeds the verify join AND the starved probe
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))
    val banded = cand
      .join(qn, "qid")
      .join(cn, "cid")
      .select(col("qid"), col("cid"),
        (dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    if (!guaranteeK) return banded
    // qids with < k banded candidates (including zero: left_anti
    // against the >= k survivors catches qids absent from `cand`).
    val fullQ = cand.groupBy("qid").agg(count(lit(1)).as("n"))
      .filter(col("n") >= k).select("qid")
    val starved = qn.select("qid").join(fullQ, Seq("qid"), "left_anti")
      .localCheckpoint(false) // tiny; decides the plan + feeds 2 legs
    if (starved.isEmpty) banded
    else {
      val rescue = broadcast(qn.join(starved, Seq("qid"), "left_semi"))
        .crossJoin(cn) // bounded: |starved| query vectors x one scan
        .select(col("qid"), col("cid"),
          (dot(col("qv"), col("cv")) /
            (col("qnrm") * col("cnrm"))).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
      banded.join(broadcast(starved), Seq("qid"), "left_anti")
        .unionByName(rescue)
    }
  }

  /** All pairs with cosine >= threshold, brute force O(n^2): the
    * recall baseline for `cosinePairsLsh` in tests. Norms are computed
    * once per ROW before the join and the per-pair work is one
    * codegen'd dot-product loop — but the pair count is quadratic, so
    * this is NOT a scale path.
    */
  def cosinePairsBrute(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val n = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nrm"))
    val a = n.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = n.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Global symmetric int8 scale S = max |x| over the corpus — one
    * scalar aggregate of exact float→double widenings, so both
    * engines derive the identical S.
    */
  private def i8Scale(df: DataFrame, vecCol: String): Double = {
    val v = col(vecCol).cast("array<double>")
    val s = df.agg(max(greatest(array_max(v), lit(0.0) - array_min(v))))
      .head().getDouble(0)
    require(s > 0, "i8Scale: corpus is all-zero")
    s
  }

  /** The PQ/IVF head statistics folded into ONE action (r18, guide
    * §2.4 / VERDICT r17 #4 — the train head used to spend 3+ serial
    * driver actions before any parallel work): the corpus dimension,
    * the global i8 scale (the [[i8Scale]] aggregate verbatim), and the
    * raw vectors of every id in 0 until `nFirst` (superset of the PQ
    * init ids, the IVF coarse centroids, AND the battery's query
    * vector id 0), and the corpus's lowest id. `first` is keyed by id;
    * callers that need the LOWEST-n ids (ivfCentroids semantics) must
    * check density 0..n-1 and `minId >= 0`, and fall back to the
    * ordered fetch otherwise — on dense 0-based ids the two reads are
    * identical.
    */
  final case class PqHead(dim: Int, scale: Double,
      first: Map[Long, Seq[Float]], minId: Long)

  /** Largest `nFirst` [[pqHead]] accepts. The head is ONE aggregate
    * row holding up to nFirst vectors, so its size is bounded by
    * nFirst × dim × 4 B (plus per-element overhead): 65,536 ids of a
    * 1,024-dim embedding are 256 MiB, the most one result row should
    * carry to the driver.
    */
  private[graft] val MaxHeadIds = 65536

  def pqHead(df: DataFrame, idCol: String, vecCol: String,
      nFirst: Int): PqHead = {
    require(nFirst >= 0 && nFirst <= MaxHeadIds,
      s"pqHead: nFirst $nFirst outside 0..$MaxHeadIds")
    val v = col(vecCol).cast("array<double>")
    val id = col(idCol).cast("long")
    val row = df.agg(
      max(greatest(array_max(v), lit(0.0) - array_min(v))).as("s"),
      max(size(col(vecCol))).as("dim"),
      collect_list(when(id >= 0 && id < nFirst,
        struct(id.as("id"), col(vecCol).as("v")))).as("init"),
      min(id).as("min_id"))
      .head()
    val s = row.getDouble(0)
    require(s > 0, "i8Scale: corpus is all-zero")
    val first = row.getSeq[org.apache.spark.sql.Row](2)
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    PqHead(row.getInt(1), s, first, row.getLong(3))
  }

  /** Driver-side replay of the code expression
    * `round(x * 127.0 / s).cast("int")` — scala.math.BigDecimal's
    * decimal-text construction + HALF_UP is exactly Spark's Round
    * evaluation on doubles, so init centroids derived here are
    * bit-identical to collecting the [[fullCodes]] rows.
    */
  private def i8Code(x: Double, s: Double): Int =
    BigDecimal(x * 127.0 / s)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toInt

  /** (id, a) rows: the full vector quantized to int8 codes under the
    * global scale S — code = round(x·127/S), Spark's HALF_UP-on-double
    * round == DuckDB's ties-away round, so codes are integer-exact
    * cross-engine.
    */
  private[ext] def fullCodes(df: DataFrame, idCol: String, vecCol: String,
      s: Double): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol).cast("array<double>"),
        x => round(x * 127.0 / s).cast("int")).as("a"))

  /** Best-centroid-per-subspace column for the `a` code column against
    * a codebook snapshot: one [[graft.functions.PqBestCodes]] call —
    * assignment costs a codegen'd three-level loop in a projection,
    * never a join or shuffle. The per-element semantics (integer
    * argmax of 2·a_m·cent_c − |cent_c|², ties to the smallest centroid
    * id) are documented on the expression.
    */
  private[ext] def pqBestCol(cents: Map[(Int, Int), Seq[Int]], m: Int,
      nCentroids: Int, sub: Int): Column = {
    val flat = (0 until m).flatMap(sm =>
      (0 until nCentroids).flatMap(c => cents((sm, c))))
    graft.functions.PqBestCodes.pq_best_codes(col("a"), flat,
      nCentroids, sub)
  }

  /** Per-subspace PQ codebooks trained with Lloyd over the int8
    * subvector codes in PURE INTEGER arithmetic — every quantity both
    * engines can replay bit-for-bit, so the trained codebooks are as
    * SQL-oracle-checkable as the old first-N ones (which recalled
    * only 3-4/10 raw on clustered corpora):
    *   - init: subvector codes of the first nCentroids vectors;
    *   - assign: argmin integer L2 ⇔ argmax 2·a·c − |c|², ties to the
    *     smaller centroid id — computed MAP-SIDE per vector row by
    *     [[graft.functions.PqBestCodes]] with the codebook in a
    *     codegen reference object (an earlier broadcast-join
    *     formulation expanded every vector ×nc through a shuffled
    *     argmax aggregate: 10M-row shuffles per round at sf0.1 and
    *     8.4s for the whole operator; an unrolled-literal-expression
    *     formulation OOM'd Janino at m=32·nc=64 — see the
    *     expression's doc);
    *   - update: per-dim floor(sum/count + 0.5) — sums are exact in
    *     double far below 2^53 and a non-half rational mean is
    *     ≥ 1/(2·count) from the nearest boundary, so the IEEE
    *     division floors identically in both engines (and exact .5
    *     boundaries divide out exactly). Empty cells keep their
    *     previous centroid.
    * Per round: one map-side projection + one m·sub-per-vector
    * explode into a 2048-row mean aggregate — the PageRank-style
    * driver loop, constant in corpus size.
    */
  def pqTrainedCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, nCentroids: Int, iters: Int = 3)
      : (Double, Map[(Int, Int), Seq[Int]]) = {
    val (s, _, cents) = pqTrainCore(df, idCol, vecCol, m, nCentroids,
      iters)
    (s, cents)
  }

  /** Training core that also hands back the MATERIALIZED code table
    * (localCheckpoint'd), so the ADC scan can reuse it. Reuse is not
    * just a perf nicety: building the score arrays over an
    * un-materialized `transform(...)` projection lets the optimizer
    * inline the whole array construction into each of the ~m·nc·sub
    * element_at terms, and the resulting expression tree OOMs Janino
    * (observed: 6 MiB task binaries, heap exhaustion in codegen).
    * Against a checkpointed table `a` is a plain attribute and the
    * generated code stays linear in m·nc·sub.
    */
  private[ext] def pqTrainCore(df: DataFrame, idCol: String, vecCol: String,
      m: Int, nCentroids: Int, iters: Int,
      head: Option[PqHead] = None)
      : (Double, DataFrame, Map[(Int, Int), Seq[Int]]) = {
    // dim + scale + init vectors in ONE action (or a caller-shared
    // one); init centroids are the first-nCentroids rows' codes,
    // derived driver-side with the bit-identical i8Code replay
    val h = head.getOrElse(pqHead(df, idCol, vecCol, nCentroids))
    val dim = h.dim
    val sub = dim / m
    require(m * sub == dim, s"dim $dim must divide into $m subspaces")
    val s = h.scale
    val codes = fullCodes(df, idCol, vecCol, s).localCheckpoint(false)
    var cents: Map[(Int, Int), Seq[Int]] =
      h.first.collect { case (id, v) if id >= 0 && id < nCentroids =>
        val full = v.map(x => i8Code(x.toDouble, s))
        (0 until m).map(sm => ((sm, id.toInt),
          full.slice(sm * sub, (sm + 1) * sub).toSeq))
      }.flatten.toMap
    require(cents.size == m * nCentroids,
      s"pq init needs dense ids 0..${nCentroids - 1}; got ${cents.size}" +
        s" of ${m * nCentroids} subvectors")
    for (_ <- 0 until iters) {
      val withBest = codes.select(col("a"),
        pqBestCol(cents, m, nCentroids, sub).as("__bc"))
      val structs = array((0 until m).flatMap(sm =>
        (0 until sub).map(d => struct(lit(sm).as("sm"),
          element_at(col("__bc"), sm + 1).as("c"), lit(d).as("d"),
          element_at(col("a"), sm * sub + d + 1).as("x")))): _*)
      val means = withBest.select(explode(structs).as("e"))
        .select(col("e.sm").as("sm"), col("e.c").as("c"),
          col("e.d").as("d"), col("e.x").as("x"))
        .groupBy("sm", "c", "d")
        .agg(floor(sum(col("x")).cast("double") / count(lit(1)) +
          lit(0.5)).cast("int").as("mv"))
        .collect() // bounded: m * nCentroids * sub rows
      val byKey = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      cents = cents.map { case (key, old) =>
        key -> byKey.get(key).fold(old) { rs =>
          val arr = old.toArray
          rs.foreach(r => arr(r.getInt(2)) = r.getInt(3))
          arr.toSeq
        }
      }
    }
    (s, codes, cents)
  }

  /** Product-quantization ADC top-k — the third compression tier of
    * the similarity stack (float32 scan → int8 codes → PQ codes):
    * m sub-codebooks of nCentroids centroids encode each vector as m
    * small ids (m bytes/vector at nCentroids <= 256 — 32x smaller
    * than float32 at dim 64, m 8), and the query scores codes without
    * reconstructing vectors (asymmetric distance computation).
    *
    * Deterministic end to end, so the whole operator is
    * SQL-oracle-checkable:
    *   - codebooks: `pqTrainedCodebooks` — integer-exact Lloyd over
    *     the int8 subvector codes (replaces r07's first-N subvectors,
    *     which recalled 3-4/10 raw and leaned entirely on the rescore
    *     stage);
    *   - encode: per (vector, subspace) argmax of 2·a·c − |c|²
    *     (≡ argmin integer L2 on codes), ties to the smaller centroid
    *     id via a struct max — one relational aggregate, no UDFs;
    *   - ADC: score = Σ_m dot(q_m, centroid(code_m)) over the
    *     QUANTIZED query — an exact integer per subspace, accumulated
    *     as PIVOTED per-subspace columns summed in fixed order; the
    *     ranking equals raw-space ADC up to the (S/127)² scale factor.
    *
    * Scale shape: encode + ADC are ONE codegen'd map-side projection
    * (codebook and per-centroid qdots baked in as literals — at
    * m·nc ≤ a few thousand constants that is well inside expression
    * limits) followed only by the top-k; no join, no shuffle, and the
    * scan never touches raw vectors once codes are at rest.
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], m: Int = 8, nCentroids: Int = 16,
      k: Int = 10, iters: Int = 3,
      restrictTo: Option[DataFrame] = None,
      head: Option[PqHead] = None): DataFrame = {
    val dim = query.length
    val sub = dim / m
    require(m * sub == dim, s"dim $dim must divide into $m subspaces")
    val (_, allCodes, cents) = pqTrainCore(df, idCol, vecCol, m,
      nCentroids, iters, head)
    // training stays global (every vector contributes to the
    // codebooks); only the ADC SCAN is restricted — the IVF-PQ
    // composition's cell pruning enters here as a semi-join on ids
    val codes = restrictTo.fold(allCodes)(ids =>
      allCodes.join(
        ids.select(col(ids.columns.head).cast("long").as("id")),
        Seq("id"), "left_semi"))
    // classic ADC: the QUERY stays raw double (no query-side
    // quantization error); per-(subspace, centroid) qdot is a strict
    // left fold over integer centroids — deterministic and replayable
    // as list_sum(list_transform(...)) on the oracle side
    val qd = query.map(_.toDouble)
    val qdotArr: Int => Column = sm =>
      array((0 until nCentroids).map { c =>
        val cent = cents((sm, c))
        val qm = qd.slice(sm * sub, (sm + 1) * sub)
        lit(qm.zip(cent).foldLeft(0.0)((acc, p) => acc + p._1 * p._2))
      }: _*)
    val aD = col("a").cast("array<double>")
    val withBest = codes
      .select(col("id"),
        // int8-exact vector norm — stored with the codes, as real
        // IVF-PQ systems keep a per-vector norm scalar
        dot(aD, aD).cast("long").as("__naa"),
        pqBestCol(cents, m, nCentroids, sub).as("__bc"))
    // rank by ADC dot over the vector's int8-accurate norm — the
    // cosine-shaped score the exact reference ranking uses. The
    // numerator adds the per-subspace qdots of each winning centroid
    // in fixed sm order (same left chain as the oracle); the one
    // float step (sqrt + divide) is IEEE-identical cross-engine.
    val qsum = (0 until m).map(sm =>
      element_at(qdotArr(sm), element_at(col("__bc"), sm + 1) + 1))
      .reduce(_ + _)
    withBest
      .select(col("id").as(idCol),
        when(col("__naa") === 0L, lit(0.0))
          .otherwise(qsum / sqrt(col("__naa").cast("double")))
          .as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Two-stage PQ retrieval: ADC over the codes selects `nCand`
    * candidates (the cheap scan — codes only, never raw vectors),
    * then ONLY those candidates are exact-cosine rescored — the
    * standard recall belt-and-braces even with trained codebooks
    * (raw trained ADC recalls ≥8/10 here, pinned in SimilaritySpec;
    * r07's first-N codebooks managed 3-4/10 and leaned entirely on
    * this stage). The candidate list is broadcast into the rescore
    * join (bounded by nCand).
    */
  def pqTopKRescored(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], m: Int = 8, nCentroids: Int = 16,
      k: Int = 10, nCand: Int = 80,
      restrictTo: Option[DataFrame] = None,
      head: Option[PqHead] = None): DataFrame = {
    val cand = pqTopK(df, idCol, vecCol, query, m, nCentroids, nCand,
        restrictTo = restrictTo, head = head)
      .select(col(idCol))
    val q = array(query.map(x => lit(x.toDouble)): _*)
    df.join(broadcast(cand), idCol)
      .select(col(idCol),
        (dot(col(vecCol), q) /
          (l2norm(col(vecCol)) * l2norm(q))).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** IVF-PQ — the two prunings composed the way large ANN systems
    * (FAISS "IVFx,PQy" with global, non-residual codebooks) ship them:
    * the coarse quantizer restricts the search to the query's `probes`
    * closest cells, and WITHIN those cells the scan is the cheap PQ
    * ADC over codes (never raw vectors), followed by exact-cosine
    * rescore of the short candidate list. At rest the codes live
    * partitioned by cell (the sim_ann_ivf layout), so cell pruning is
    * partition pruning and the scanned bytes are
    * |probed cells| x (m bytes + a norm) per vector — the composition
    * is what makes 100 TB-scale k-NN a few-partition read instead of
    * a corpus scan.
    *
    * Both prunings are deterministic (first-N centroids, max-dot
    * cells with id tie-break; integer PQ training), so the full
    * train-prune-scan-rescore pipeline replays in the SQL oracle.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], nCells: Int = 16, probes: Int = 2,
      m: Int = 8, nCentroids: Int = 16, k: Int = 10,
      nCand: Int = 80, head: Option[PqHead] = None): DataFrame = {
    // the coarse centroids are the LOWEST-nCells ids — served from the
    // shared head when those ids are dense 0..nCells-1 and none is
    // negative (the battery corpus), fetched with the ordered scan
    // otherwise
    val cents = head
      .filter(h => h.minId >= 0 &&
        (0 until nCells).forall(c => h.first.contains(c.toLong)))
      .map(h => (0 until nCells).map(c => h.first(c.toLong)))
      .getOrElse(ivfCentroids(df, idCol, vecCol, nCells))
    val probeCells = topCells(query.map(_.toDouble), cents, probes)
    val member = df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("__cell", ivfCell(col("v"), cents))
      .filter(col("__cell").isin(probeCells: _*))
      .select("id")
    pqTopKRescored(df, idCol, vecCol, query, m, nCentroids, k, nCand,
      restrictTo = Some(member), head = head)
  }
}
