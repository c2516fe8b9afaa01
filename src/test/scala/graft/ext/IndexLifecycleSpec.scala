package graft.ext

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The compaction rule of the shared index core: compaction folds and
  * removes `deletes/`, which a groups delete fold reads, so it refuses
  * while a committed groups table still has an un-folded `+delete`
  * line. Without the rule, compacting between a delete and its fold
  * either broke the fold (`deletes/` missing) or, after a later
  * delete, let the folds stamp a fresh-looking groups table that still
  * served the compacted-away document.
  */
class IndexLifecycleSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("lifecycle").toString + "/idx"

  private def marker(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "INDEX_READY")), "UTF-8")

  /** Compaction refuses with the operator hint and touches nothing. */
  private def assertRefused(dir: String)(compact: => Long): Unit = {
    val before = marker(dir)
    val e = intercept[IllegalStateException](compact)
    assert(e.getMessage.contains("groups-delete") &&
      e.getMessage.contains("groups-build"), e.getMessage)
    assert(marker(dir) == before)
    assert(Files.exists(Paths.get(dir, "deletes")),
      "the refused compaction must leave the tombstone queue")
  }

  test("MinHash compact refuses while a groups delete fold is pending; " +
      "after the folds, groups equal a rebuild without the deleted docs") {
    val s = spark
    import s.implicits._
    def run(ws: Range): String = ws.map(i => s"w$i").mkString(" ")
    val g1a = run(1 to 12); val g1b = g1a.replace("w12", "w12x")
    val g2a = run(101 to 112); val g2b = g2a.replace("w112", "w112x")
    val all = Seq((1L, g1a), (2L, g1b), (10L, g1a), (20L, g2a),
      (21L, g2b), (9L, "a singleton sharing nothing with the rest"))
      .toDF("doc_id", "text")
    def groups(dir: String): Map[Long, Long] =
      MinHashIndex.readGroups(s, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = tmpDir()
    MinHashIndex.build(all, "doc_id", "text", dir,
      numHashes = 32, bands = 32)
    MinHashIndex.buildGroups(all, "doc_id", "text", dir, 0.4)
    assert(groups(dir) == Map(1L -> 1L, 2L -> 1L, 10L -> 1L,
      20L -> 20L, 21L -> 20L))
    MinHashIndex.delete(s, dir, Seq(21L))
    assertRefused(dir)(MinHashIndex.compact(s, dir))
    val post21 = all.filter(col("doc_id") =!= 21L)
    MinHashIndex.deleteGroups(post21, "doc_id", "text", dir, 0.4)
    MinHashIndex.compact(s, dir)
    assert(MinHashIndex.groupsFresh(s, dir, 0.4),
      "compaction keeps a fully folded groups table fresh")
    MinHashIndex.delete(s, dir, Seq(10L))
    assertRefused(dir)(MinHashIndex.compact(s, dir))
    val post = post21.filter(col("doc_id") =!= 10L)
    MinHashIndex.deleteGroups(post, "doc_id", "text", dir, 0.4)
    assert(MinHashIndex.groupsFresh(s, dir, 0.4))
    val ref = tmpDir()
    MinHashIndex.build(post, "doc_id", "text", ref,
      numHashes = 32, bands = 32)
    MinHashIndex.buildGroups(post, "doc_id", "text", ref, 0.4)
    assert(groups(dir) == groups(ref) &&
      groups(dir) == Map(1L -> 1L, 2L -> 1L), groups(dir))
  }

  test("ANN compactSegment refuses while a groups delete fold is " +
      "pending; after the fold, groups equal a rebuild") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq(
      (0L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (1L, v(0.99, 0.1, 0, 0, 0, 0, 0, 0)),
      (2L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (3L, v(0, 0, 0, 1, 0, 0, 0, 0)),
      (4L, v(0, 0, 1, 0.05, 0, 0, 0, 0)),
      (5L, v(0, 0, 0, 0, 0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    def groups(dir: String): Map[Long, Long] =
      AnnIndex.readGroups(s, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def index(dir: String): Unit =
      AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 2,
        m = 2, nCentroids = 4, iters = 1)
    val dir = tmpDir()
    index(dir)
    AnnIndex.buildGroups(emb, "vec_id", "embedding", dir, 0.9,
      probes = 2)
    assert(groups(dir) == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 4L -> 2L))
    AnnIndex.delete(s, dir, Seq(4L))
    assertRefused(dir)(AnnIndex.compactSegment(s, dir))
    val post = emb.filter(col("vec_id") =!= 4L)
    AnnIndex.deleteGroups(post, "vec_id", "embedding", dir, 0.9,
      probes = 2)
    AnnIndex.compactSegment(s, dir)
    assert(!Files.exists(Paths.get(dir, "deletes")))
    assert(AnnIndex.groupsFresh(s, dir, 0.9, probes = 2))
    val ref = tmpDir()
    index(ref)
    AnnIndex.delete(s, ref, Seq(4L))
    AnnIndex.buildGroups(post, "vec_id", "embedding", ref, 0.9,
      probes = 2)
    assert(groups(dir) == groups(ref) &&
      groups(dir) == Map(0L -> 0L, 1L -> 0L), groups(dir))
  }
}
