package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deterministic CRASH-POINT sweep of the staged-rename lifecycles
  * (r17 — VERDICT r16 #5): the index families call
  * `IndexFs.fail(label)` at every commit crash window (between
  * stage-write and swap, between marker lift and rewrite, between
  * segment fold and retire); this spec injects a throw at each label
  * and then verifies the INVARIANT the lifecycles promise — the
  * reopened index either serves the OLD state or refuses loudly
  * (markerless ⇒ "no committed index"), NEVER a half state — and that
  * the documented recovery (rebuild / re-compact / buildGroups) works
  * with the lease released.
  *
  * The sweep already earned its keep at design time: the ANN segment
  * fold used to append segment rows into codes/ and only then delete
  * the segment, with the marker LIVE throughout — a crash between the
  * two steps left the rows in BOTH places and load()'s segment union
  * served them twice under a valid marker. The fold now lifts the
  * marker across the whole operation (AnnIndex.doCompactSegment).
  */
class FaultInjectionSpec extends SparkSpec {

  private def crashAt[T](label: String)(op: => T): Unit = {
    IndexFs.failpoint =
      l => if (l == label) throw new RuntimeException(s"injected@$l")
    try {
      val e = intercept[RuntimeException](op)
      assert(e.getMessage == s"injected@$label", e.getMessage)
    } finally IndexFs.failpoint = _ => ()
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("faultinj").toString + "/idx"

  test("MinHash compact crash points: staged -> old state serves; " +
      "unmarked/swapped -> markerless refusal; recovery rebuild (and " +
      "a clean re-compact) serve the expected rows with the lease " +
      "released") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "aa bb cc dd ee ff"), (2L, "gg hh ii jj kk ll"),
      (3L, "mm nn oo pp qq rr")).toDF("doc_id", "text")
    def ids(dir: String): Set[Long] =
      MinHashIndex.load(s, dir)._2.select("id").collect()
        .map(_.getLong(0)).toSet
    for (label <- Seq("minhash.compact.staged",
        "minhash.compact.unmarked", "minhash.compact.swapped")) {
      val dir = tmpDir()
      MinHashIndex.build(docs, "doc_id", "text", dir)
      MinHashIndex.delete(s, dir, Seq(3L))
      assert(ids(dir) == Set(1L, 2L))
      crashAt(label) { MinHashIndex.compact(s, dir) }
      if (label == "minhash.compact.staged") {
        // crash BEFORE the marker lift: the old state keeps serving
        assert(ids(dir) == Set(1L, 2L), s"$label must serve old state")
        // recovery: a clean re-compact completes (lease was released)
        MinHashIndex.compact(s, dir)
        assert(ids(dir) == Set(1L, 2L))
      } else {
        // crash inside the swap window: markerless, refuses loudly
        val e = intercept[IllegalStateException] { ids(dir) }
        assert(e.getMessage.contains("no committed"), e.getMessage)
        // recovery: rebuild over the post-delete corpus
        MinHashIndex.build(docs.filter(col("doc_id") =!= 3L),
          "doc_id", "text", dir)
        assert(ids(dir) == Set(1L, 2L), s"$label recovery")
      }
    }
  }

  test("Bloom compact crash points: every window inside the seal is " +
      "markerless (refuses loudly), a rebuild recovers, and the gate " +
      "never serves a bitmap/keys half state") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text")
    val late = Seq((3L, "late arrival body")).toDF("doc_id", "text")
    val (k, m) = (7, 1 << 14)
    for (label <- Seq("bloom.compact.unmarked", "bloom.compact.bitmap",
        "bloom.compact.sealed")) {
      val dir = tmpDir()
      BloomIndex.build(corpus, "doc_id", col("text"), dir,
        k = k, mBits = m)
      // fabricate an ingest segment the seal will fold (the
      // ingestStream layout: (key, h1, h2) rows under keys_stream/)
      Bloom.keyed(late, "doc_id", col("text"))
        .select("key", "h1", "h2").write.parquet(s"$dir/keys_stream")
      // pre-crash: the gate folds the segment at probe time
      val pre = BloomIndex.gate(late, "doc_id", col("text"), dir)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(pre(3L), "segment doc must gate as exact dup pre-seal")
      crashAt(label) { BloomIndex.compact(s, dir) }
      val e = intercept[IllegalStateException] {
        BloomIndex.gate(late, "doc_id", col("text"), dir).collect()
      }
      assert(e.getMessage.contains("no committed"), e.getMessage)
      // recovery: rebuild over the full corpus (lease released)
      BloomIndex.build(corpus.unionByName(late), "doc_id",
        col("text"), dir, k = k, mBits = m)
      val post = BloomIndex.gate(late, "doc_id", col("text"), dir)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(post(3L), s"$label recovery must serve the rebuilt state")
    }
  }

  test("ANN compactSegment crash points: the whole fold is markerless " +
      "(incl. the append-vs-segment-retire window that used to " +
      "double-serve), refuses loudly, and a rebuild recovers") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq(
      (0L, v(1, 0, 0, 0, 0, 0, 0, 0)), (1L, v(0, 1, 0, 0, 0, 0, 0, 0)),
      (2L, v(0, 0, 1, 0, 0, 0, 0, 0)), (3L, v(0, 0, 0, 1, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    for (label <- Seq("ann.compact.unmarked", "ann.compact.segfolded",
        "ann.compact.staged", "ann.compact.swapped")) {
      val dir = tmpDir()
      AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 2,
        m = 2, nCentroids = 4, iters = 1)
      // queue a tombstone AND fabricate an ingest segment so the fold
      // exercises both halves (segment append + tombstone swap)
      AnnIndex.delete(s, dir, Seq(3L))
      s.read.parquet(s"$dir/codes").select("id", "naa", "bc", "cell")
        .limit(1).select(lit(99L).as("id"), col("naa"), col("bc"),
          col("cell"))
        .write.parquet(s"$dir/codes_stream")
      crashAt(label) { AnnIndex.compactSegment(s, dir) }
      val e = intercept[Exception] { AnnIndex.load(s, dir) }
      assert(e.getMessage.contains("no committed"), e.getMessage)
      // recovery: rebuild (lease released; a rebuild retires the
      // tombstone queue by contract — the PQ trainer needs the dense
      // 0..3 init ids anyway); serves searches again
      AnnIndex.build(emb, "vec_id",
        "embedding", dir, nCells = 2, m = 2, nCentroids = 4, iters = 1)
      val top = AnnIndex.search(emb,
        "vec_id", "embedding", dir, v(1, 0, 0, 0, 0, 0, 0, 0).toSeq,
        probes = 2, k = 1, nCand = 8).collect()
      assert(top.nonEmpty && top.head.getLong(0) == 0L,
        s"$label recovery serve")
    }
  }

  test("groups commit crash points (both families): unmarked/written " +
      "windows leave a groups-markerless dir — readGroups refuses, " +
      "groupsFresh is false, buildGroups recovers to rebuild-equal " +
      "labels") {
    val s = spark
    import s.implicits._
    def run(ws: Range): String = ws.map(i => s"w$i").mkString(" ")
    val g1a = run(1 to 12); val g1b = g1a.replace("w12", "w12x")
    val base = Seq((1L, g1a), (2L, g1b)).toDF("doc_id", "text")
    val batch = Seq((11L, g1a)).toDF("doc_id", "text")
    val all = base.unionByName(batch)
    for (label <- Seq("minhash.groups.unmarked",
        "minhash.groups.written")) {
      val dir = tmpDir()
      MinHashIndex.build(base, "doc_id", "text", dir,
        numHashes = 32, bands = 32)
      MinHashIndex.buildGroups(base, "doc_id", "text", dir, 0.4)
      MinHashIndex.append(batch, "doc_id", "text", dir)
      crashAt(label) {
        MinHashIndex.appendGroups(batch, all, "doc_id", "text", dir,
          0.4)
      }
      assert(!MinHashIndex.groupsFresh(s, dir, 0.4))
      val e = intercept[Exception] { MinHashIndex.readGroups(s, dir) }
      assert(e.getMessage.contains("GROUPS_READY"), e.getMessage)
      MinHashIndex.buildGroups(all, "doc_id", "text", dir, 0.4)
      assert(MinHashIndex.groupsFresh(s, dir, 0.4))
      val got = MinHashIndex.readGroups(s, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 11L -> 1L),
        s"$label recovery labels: $got")
    }
    // the embedding family shares the commit shape — one window
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq(
      (0L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (1L, v(0.99, 0.1, 0, 0, 0, 0, 0, 0)),
      (2L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (3L, v(0, 0, 0, 1, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    val aBatch = Seq((9L, v(1, 0.02, 0, 0, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    val aAll = emb.unionByName(aBatch)
    val adir = tmpDir()
    AnnIndex.build(emb, "vec_id", "embedding", adir, nCells = 2,
      m = 2, nCentroids = 4, iters = 1)
    AnnIndex.buildGroups(emb, "vec_id", "embedding", adir, 0.9,
      probes = 2)
    AnnIndex.append(aBatch, "vec_id", "embedding", adir)
    crashAt("ann.groups.unmarked") {
      AnnIndex.appendGroups(aBatch, aAll, "vec_id", "embedding",
        adir, 0.9, probes = 2)
    }
    assert(!AnnIndex.groupsFresh(s, adir, 0.9, probes = 2))
    intercept[Exception] { AnnIndex.readGroups(s, adir) }
    AnnIndex.buildGroups(aAll, "vec_id", "embedding", adir, 0.9,
      probes = 2)
    assert(AnnIndex.groupsFresh(s, adir, 0.9, probes = 2))
    val gotA = AnnIndex.readGroups(s, adir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotA.contains(9L), s"recovered groups: $gotA")
  }

  // -- the shared groups commit, injected from every fold -----------

  private def mhCorpus() = {
    val s = spark
    import s.implicits._
    def run(ws: Range): String = ws.map(i => s"w$i").mkString(" ")
    val g1a = run(1 to 12); val g1b = g1a.replace("w12", "w12x")
    val g2a = run(101 to 112); val g2b = g2a.replace("w112", "w112x")
    Seq((1L, g1a), (2L, g1b), (10L, g1a), (20L, g2a), (21L, g2b))
      .toDF("doc_id", "text")
  }

  private def annCorpus() = {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    Seq(
      (0L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (1L, v(0.99, 0.1, 0, 0, 0, 0, 0, 0)),
      (2L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (3L, v(0, 0, 0, 1, 0, 0, 0, 0)),
      (4L, v(0, 0, 1, 0.05, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding")
  }

  private def mhGroups(dir: String): Map[Long, Long] =
    MinHashIndex.readGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def annGroups(dir: String): Map[Long, Long] =
    AnnIndex.readGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def mhIndex(docs: org.apache.spark.sql.DataFrame,
      dir: String): Unit =
    MinHashIndex.build(docs, "doc_id", "text", dir,
      numHashes = 32, bands = 32)

  private def annIndex(dir: String): Unit =
    AnnIndex.build(annCorpus(), "vec_id", "embedding", dir, nCells = 2,
      m = 2, nCentroids = 4, iters = 1)

  /** The crash left a groups-markerless dir: stale and refused. */
  private def assertGroupsRefused(fresh: Boolean,
      read: => Any): Unit = {
    assert(!fresh, "a crashed groups commit must not look fresh")
    val e = intercept[Exception](read)
    assert(e.getMessage.contains("GROUPS_READY"), e.getMessage)
  }

  test("deleteGroups commit crash points (both families): readGroups " +
      "refuses, groupsFresh is false, buildGroups recovers to labels " +
      "equal to a rebuild") {
    val s = spark
    val post = mhCorpus().filter(col("doc_id") =!= 10L)
    val mhRef = tmpDir()
    mhIndex(post, mhRef)
    MinHashIndex.buildGroups(post, "doc_id", "text", mhRef, 0.4)
    for (label <- Seq("minhash.groups.unmarked",
        "minhash.groups.written")) {
      val dir = tmpDir()
      mhIndex(mhCorpus(), dir)
      MinHashIndex.buildGroups(mhCorpus(), "doc_id", "text", dir, 0.4)
      MinHashIndex.delete(s, dir, Seq(10L))
      crashAt(label) {
        MinHashIndex.deleteGroups(post, "doc_id", "text", dir, 0.4)
      }
      assertGroupsRefused(MinHashIndex.groupsFresh(s, dir, 0.4),
        MinHashIndex.readGroups(s, dir))
      MinHashIndex.buildGroups(post, "doc_id", "text", dir, 0.4)
      assert(MinHashIndex.groupsFresh(s, dir, 0.4))
      assert(mhGroups(dir) == mhGroups(mhRef),
        s"$label recovery labels: ${mhGroups(dir)}")
    }
    val aPost = annCorpus().filter(col("vec_id") =!= 4L)
    val annRef = tmpDir()
    annIndex(annRef)
    AnnIndex.delete(s, annRef, Seq(4L))
    AnnIndex.buildGroups(aPost, "vec_id", "embedding", annRef, 0.9,
      probes = 2)
    for (label <- Seq("ann.groups.unmarked", "ann.groups.written")) {
      val dir = tmpDir()
      annIndex(dir)
      AnnIndex.buildGroups(annCorpus(), "vec_id", "embedding", dir, 0.9,
        probes = 2)
      AnnIndex.delete(s, dir, Seq(4L))
      crashAt(label) {
        AnnIndex.deleteGroups(aPost, "vec_id", "embedding", dir, 0.9,
          probes = 2)
      }
      assertGroupsRefused(AnnIndex.groupsFresh(s, dir, 0.9, probes = 2),
        AnnIndex.readGroups(s, dir))
      AnnIndex.buildGroups(aPost, "vec_id", "embedding", dir, 0.9,
        probes = 2)
      assert(AnnIndex.groupsFresh(s, dir, 0.9, probes = 2))
      assert(annGroups(dir) == annGroups(annRef),
        s"$label recovery labels: ${annGroups(dir)}")
    }
  }

  test("buildGroups commit crash points (both families): readGroups " +
      "refuses, groupsFresh is false, buildGroups recovers to labels " +
      "equal to a rebuild") {
    val s = spark
    val mhRef = tmpDir()
    mhIndex(mhCorpus(), mhRef)
    MinHashIndex.buildGroups(mhCorpus(), "doc_id", "text", mhRef, 0.4)
    for (label <- Seq("minhash.groups.unmarked",
        "minhash.groups.written")) {
      val dir = tmpDir()
      mhIndex(mhCorpus(), dir)
      crashAt(label) {
        MinHashIndex.buildGroups(mhCorpus(), "doc_id", "text", dir, 0.4)
      }
      assertGroupsRefused(MinHashIndex.groupsFresh(s, dir, 0.4),
        MinHashIndex.readGroups(s, dir))
      MinHashIndex.buildGroups(mhCorpus(), "doc_id", "text", dir, 0.4)
      assert(MinHashIndex.groupsFresh(s, dir, 0.4))
      assert(mhGroups(dir) == mhGroups(mhRef),
        s"$label recovery labels: ${mhGroups(dir)}")
    }
    val annRef = tmpDir()
    annIndex(annRef)
    AnnIndex.buildGroups(annCorpus(), "vec_id", "embedding", annRef, 0.9,
      probes = 2)
    for (label <- Seq("ann.groups.unmarked", "ann.groups.written")) {
      val dir = tmpDir()
      annIndex(dir)
      crashAt(label) {
        AnnIndex.buildGroups(annCorpus(), "vec_id", "embedding", dir,
          0.9, probes = 2)
      }
      assertGroupsRefused(AnnIndex.groupsFresh(s, dir, 0.9, probes = 2),
        AnnIndex.readGroups(s, dir))
      AnnIndex.buildGroups(annCorpus(), "vec_id", "embedding", dir, 0.9,
        probes = 2)
      assert(AnnIndex.groupsFresh(s, dir, 0.9, probes = 2))
      assert(annGroups(dir) == annGroups(annRef),
        s"$label recovery labels: ${annGroups(dir)}")
    }
  }
}
