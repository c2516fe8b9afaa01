package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{AnnIndex, BloomIndex, MinHashIndex}

/** The index maintenance CLI driven through `run` (no `sys.exit`):
  * status text, the groups subcommands, compaction, lease breaking and
  * bad input. The literal INDEX_READY / GROUPS_READY texts are pinned
  * here: indexes already on disk stay fresh only while those bytes do
  * not change.
  */
class IndexMaintCliSpec extends SparkSpec {

  private def cli(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(IndexMaintCli.run(spark, args))
    out.toString("UTF-8")
  }

  private def tmp(): String =
    Files.createTempDirectory("index-cli").toString

  private def read(dir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), "UTF-8")

  private def exists(dir: String, name: String): Boolean =
    Files.exists(Paths.get(dir, name))

  /** A lease file whose heartbeat is `ageMs` old. */
  private def lease(dir: String, ageMs: Long): Unit = {
    val f = Paths.get(dir, ".MAINT_LEASE")
    Files.write(f, "what=spec".getBytes("UTF-8"))
    f.toFile.setLastModified(System.currentTimeMillis() - ageMs)
  }

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def words(ws: Range): String = ws.map(i => s"w$i").mkString(" ")
  private val g1a = words(1 to 12)
  private val g2a = words(101 to 112)
  private val base = Seq((1L, g1a), (2L, g1a.replace("w12", "w12x")),
    (10L, g1a), (9L, "a singleton sharing nothing with the rest"))
  private val batch = Seq((20L, g2a), (21L, g2a.replace("w112", "w112x")))

  private def vectors(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    Seq(
      (0L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (1L, v(0.99, 0.1, 0, 0, 0, 0, 0, 0)),
      (2L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (3L, v(0, 0, 0, 1, 0, 0, 0, 0)),
      (4L, v(0, 0, 1, 0.05, 0, 0, 0, 0)))
      .filter(r => ids.contains(r._1)).toDF("vec_id", "embedding")
  }

  private val MinHashMarker =
    "format=1 numHashes=32 bands=8 grams=word3 corpus[fp]"
  private val AnnMarker =
    "format=3 nCells=2 m=2 nCentroids=4 hier=0 corpus[fp]"

  private def groupsOf(dir: String,
      groups: (org.apache.spark.sql.SparkSession, String) => DataFrame)
      : Map[Long, Long] =
    groups(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("minhash: status text and groups-build / groups-append / " +
      "groups-delete, with the literal INDEX_READY and GROUPS_READY") {
    val root = tmp()
    val dir = s"$root/idx"
    val all = docs(base ++ batch: _*)
    val post = all.filter(col("doc_id") =!= 10L)
    docs(base: _*).write.parquet(s"$root/base")
    docs(batch: _*).write.parquet(s"$root/batch")
    all.write.parquet(s"$root/all")
    post.write.parquet(s"$root/post")
    MinHashIndex.build(docs(base: _*), "doc_id", "text", dir,
      fingerprint = "fp")
    assert(read(dir, "INDEX_READY") == MinHashMarker)
    val st0 = cli("status", dir)
    assert(st0.contains(s"  marker: INDEX_READY\n    $MinHashMarker\n"),
      st0)
    assert(st0.contains("  groups marker: ABSENT\n") &&
      st0.contains("  lease: free\n") && st0.contains("  sigs/: "), st0)
    assert(cli("groups", "minhash", dir).contains("groups: ABSENT"))

    assert(cli("groups-build", "minhash", dir, s"$root/base", "doc_id",
      "text", "0.4").contains("groups built for minhash index"))
    val g0 = "format=1 threshold=0.4 index[c6482521af5538c4ffb790762ccd42b8]"
    assert(read(dir, "GROUPS_READY") == g0)
    assert(cli("status", dir).contains(
      s"  groups marker: GROUPS_READY (FRESH)\n    $g0\n"))
    assert(cli("groups", "minhash", dir)
      .contains("GROUPS_READY (FRESH vs current index marker)"))

    MinHashIndex.append(docs(batch: _*), "doc_id", "text", dir,
      fingerprint = "b1")
    assert(read(dir, "INDEX_READY") == s"$MinHashMarker\n+append[b1]")
    val st1 = cli("status", dir)
    assert(st1.contains(s"    $MinHashMarker\n    +append[b1]\n") &&
      st1.contains("  groups marker: GROUPS_READY (STALE vs current " +
        "index marker)"), st1)
    assert(cli("groups", "minhash", dir).contains("(STALE"))
    cli("groups-append", "minhash", dir, s"$root/batch", s"$root/all",
      "doc_id", "text", "0.4")
    assert(read(dir, "GROUPS_READY") ==
      "format=1 threshold=0.4 index[c988ef8c8aef51db8b05405904ead4cc]")

    MinHashIndex.delete(spark, dir, Seq(10L))
    assert(cli("status", dir).contains("    +delete[1]\n  groups " +
      "marker: GROUPS_READY (STALE"))
    assert(cli("groups-delete", "minhash", dir, s"$root/post", "doc_id",
      "text", "0.4").contains("tombstones folded into minhash groups"))
    assert(MinHashIndex.groupsFresh(spark, dir, 0.4))
    val ref = s"$root/ref"
    MinHashIndex.build(post, "doc_id", "text", ref)
    MinHashIndex.buildGroups(post, "doc_id", "text", ref, 0.4)
    assert(groupsOf(dir, MinHashIndex.readGroups) ==
      groupsOf(ref, MinHashIndex.readGroups))
  }

  test("ann: status text and groups-build / groups-delete, with the " +
      "literal INDEX_READY and GROUPS_READY") {
    val root = tmp()
    val dir = s"$root/idx"
    vectors(0L to 4L: _*).write.parquet(s"$root/all")
    vectors(0L, 1L, 2L, 3L).write.parquet(s"$root/post")
    AnnIndex.build(vectors(0L to 4L: _*), "vec_id", "embedding", dir,
      nCells = 2, m = 2, nCentroids = 4, iters = 1, fingerprint = "fp")
    assert(read(dir, "INDEX_READY") == AnnMarker)
    val st0 = cli("status", dir)
    assert(st0.contains(s"  marker: INDEX_READY\n    $AnnMarker\n") &&
      st0.contains("  codes/: ") && st0.contains("  meta/: "), st0)

    cli("groups-build", "ann", dir, s"$root/all", "vec_id", "embedding",
      "0.9")
    val g0 = "format=3 threshold=0.9 probes=4 superProbes=0 " +
      "index[2f6a6dc160cb00471128cf6b5e27f3e5]"
    assert(read(dir, "GROUPS_READY") == g0)
    assert(cli("status", dir).contains(
      s"  groups marker: GROUPS_READY (FRESH)\n    $g0\n"))
    assert(groupsOf(dir, AnnIndex.readGroups) ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 4L -> 2L))

    AnnIndex.delete(spark, dir, Seq(4L))
    assert(cli("groups", "ann", dir).contains("(STALE"))
    cli("groups-delete", "ann", dir, s"$root/post", "vec_id",
      "embedding", "0.9")
    assert(cli("groups", "ann", dir).contains("(FRESH"))
    assert(groupsOf(dir, AnnIndex.readGroups) == Map(0L -> 0L, 1L -> 0L))
  }

  test("compact: refuses while a +delete is un-folded into a committed " +
      "groups table (minhash, ann), and runs once it is folded") {
    val root = tmp()
    val mdir = s"$root/minhash"
    val post = docs(base: _*).filter(col("doc_id") =!= 10L)
    post.write.parquet(s"$root/post")
    MinHashIndex.build(docs(base: _*), "doc_id", "text", mdir)
    MinHashIndex.buildGroups(docs(base: _*), "doc_id", "text", mdir, 0.4)
    MinHashIndex.delete(spark, mdir, Seq(10L))
    val e = intercept[IllegalStateException](
      cli("compact", "minhash", mdir))
    assert(e.getMessage.contains("+delete[1]") &&
      e.getMessage.contains("groups-delete"), e.getMessage)
    assert(exists(mdir, "deletes"))
    cli("groups-delete", "minhash", mdir, s"$root/post", "doc_id", "text",
      "0.4")
    assert(cli("compact", "minhash", mdir)
      .contains(s"compacted minhash index at $mdir: 3 rows at rest"))
    assert(!exists(mdir, "deletes"))
    assert(MinHashIndex.groupsFresh(spark, mdir, 0.4))

    val adir = s"$root/ann"
    vectors(0L, 1L, 2L, 3L).write.parquet(s"$root/apost")
    AnnIndex.build(vectors(0L to 4L: _*), "vec_id", "embedding", adir,
      nCells = 2, m = 2, nCentroids = 4, iters = 1)
    AnnIndex.buildGroups(vectors(0L to 4L: _*), "vec_id", "embedding",
      adir, 0.9)
    AnnIndex.delete(spark, adir, Seq(4L))
    val e2 = intercept[IllegalStateException](cli("compact", "ann", adir))
    assert(e2.getMessage.contains("groups-build"), e2.getMessage)
    cli("groups-delete", "ann", adir, s"$root/apost", "vec_id",
      "embedding", "0.9")
    assert(cli("compact", "ann", adir).contains("compacted ann index"))
    assert(!exists(adir, "deletes"))
    assert(AnnIndex.groupsFresh(spark, adir, 0.9))
  }

  test("break-lease: breaks a stale lease and prints the committed " +
      "marker, refuses a live one (minhash, ann, bloom)") {
    val root = tmp()
    val mdir = s"$root/minhash"
    MinHashIndex.build(docs(base: _*), "doc_id", "text", mdir,
      fingerprint = "fp")
    lease(mdir, ageMs = 10 * 60 * 1000L)
    assert(cli("status", mdir).contains("  lease: HELD"))
    val out = cli("break-lease", "minhash", mdir)
    assert(out.contains(s"lease cleared at $mdir") &&
      out.contains(s"\n  $MinHashMarker"), out)
    assert(!exists(mdir, ".MAINT_LEASE"))
    lease(mdir, ageMs = 0L)
    val e = intercept[IllegalStateException](
      cli("break-lease", "minhash", mdir))
    assert(e.getMessage.contains("ALIVE"), e.getMessage)
    cli("break-lease", "minhash", mdir, "0")
    assert(!exists(mdir, ".MAINT_LEASE"))

    val adir = s"$root/ann"
    AnnIndex.build(vectors(0L to 4L: _*), "vec_id", "embedding", adir,
      nCells = 2, m = 2, nCentroids = 4, iters = 1, fingerprint = "fp")
    lease(adir, ageMs = 10 * 60 * 1000L)
    assert(cli("break-lease", "ann", adir).contains(s"\n  $AnnMarker"))
    assert(!exists(adir, ".MAINT_LEASE"))

    val bdir = s"$root/bloom"
    Files.createDirectories(Paths.get(bdir))
    lease(bdir, ageMs = 10 * 60 * 1000L)
    assert(cli("break-lease", "bloom", bdir).contains("NO committed"))
    BloomIndex.build(docs(base: _*), "doc_id", col("text"), bdir, k = 3,
      mBits = 1 << 10)
    assert(cli("compact", "bloom", bdir).contains("compacted bloom index"))
  }

  test("an unknown kind, a kind without groups, or a bad command fails " +
      "with a message") {
    val dir = tmp()
    for (args <- Seq(Seq("compact", "foo", dir),
        Seq("break-lease", "foo", dir),
        Seq("groups-build", "foo", dir, "c", "id", "t", "0.4"))) {
      val e = intercept[RuntimeException](cli(args: _*))
      assert(e.getMessage.contains("'foo'"), e.getMessage)
    }
    val e = intercept[RuntimeException](cli("groups", "bloom", dir))
    assert(e.getMessage.contains("'bloom'"), e.getMessage)
    assert(intercept[RuntimeException](cli("nope")).getMessage
      .contains("usage"))
    assert(cli("status", dir).contains("  marker: ABSENT"))
  }

  test("compact ann: a tombstone-only fold reports the rows moved from " +
      "the streaming segment, not \"0 rows at rest\"") {
    val dir = s"${tmp()}/ann"
    AnnIndex.build(vectors(0L to 4L: _*), "vec_id", "embedding", dir,
      nCells = 2, m = 2, nCentroids = 4, iters = 1)
    AnnIndex.delete(spark, dir, Seq(4L))
    val out = cli("compact", "ann", dir)
    assert(out.contains(s"compacted ann index at $dir: 0 rows moved " +
      "from the streaming segment") && !out.contains("rows at rest"), out)
    assert(!exists(dir, "deletes"))
  }
}
