package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The commit protocol shared by the persisted index families
  * (`MinHashIndex`, `AnnIndex`, `BloomIndex`) — the one description
  * of it. A family supplies its encoder, its marker params and (for
  * groups) its pair miners; every step below is implemented here once,
  * over the [[IndexFs]] filesystem primitives.
  *
  *   - '''Commit record.''' `dir/INDEX_READY` is the index: its first
  *     line is the family's params + `corpus[fingerprint]`, each later
  *     line one mutation stamp — `+append[fingerprint]`, `+ingest`,
  *     `+delete[n]`. A build LIFTS the marker first, rewrites the
  *     tables, and writes the marker LAST (tmp + rename): a killed
  *     build, or a probe racing it (probes never take the lease), sees
  *     "no committed index", never a previous marker over mixed
  *     tables. Every reader refuses a markerless dir.
  *   - '''Freshness.''' `ensureBuilt` is a metadata check — the
  *     committed marker equals the wanted text, else rebuild; any
  *     mutation stamp makes a single-corpus marker look stale, so the
  *     rebuild cadence falls out of the same check.
  *     `ensureBuiltWithAppend` wants the (base, one append) history.
  *   - '''Lease.''' Maintenance (build/append/delete/compact/groups
  *     folds) is single-writer under `.MAINT_LEASE`
  *     ([[IndexFs.withLease]]: atomic create, heartbeat, loud refusal
  *     of a second writer). A streaming ingest holds the lease for the
  *     query's lifetime and stamps `+ingest` at START (an empty ingest
  *     merely looks stale — a spurious-but-safe rebuild). A crashed
  *     writer's lease is broken by `breakLease` only once its
  *     heartbeat is stale; the caller then decides from the marker
  *     re-read after the break.
  *   - '''Tombstones.''' `delete` materializes the ids once (so the
  *     recorded count equals the written rows), stamps `+delete[n]`
  *     FIRST (a crash between the steps forces a spurious-but-safe
  *     rebuild, never a fresh-looking index serving removed rows) and
  *     appends them to `deletes/`. Every serve path anti-joins the
  *     queue; compaction folds it physically; a rebuild retires it.
  *   - '''Compaction''' is result-invisible and rewrites the marker
  *     text VERBATIM, so generation guards keep serving and a groups
  *     table stays fresh across it. It refuses, before touching
  *     anything, while a committed groups table still has an
  *     un-folded `+delete` line: that fold reads `deletes/`, which
  *     compaction removes (the fold would fail, or a later delete's
  *     fold would stamp a fresh-looking table still holding the
  *     compacted-away documents).
  *   - '''Fault points.''' Each commit crash window calls
  *     `IndexFs.fail("<kind>.<step>")`; FaultInjectionSpec throws at
  *     each label and checks the reopened index serves the old state
  *     or refuses loudly.
  *
  * Groups at rest are described in [[GroupsLifecycle]].
  */
private[graft] final class IndexLifecycle(val kind: String,
    val what: String) {
  import IndexLifecycle._

  def readMarker(spark: SparkSession, dir: String): Option[String] =
    IndexFs.readMarker(spark, dir, Marker)

  def writeMarker(spark: SparkSession, dir: String, text: String): Unit =
    IndexFs.writeMarker(spark, dir, Marker, text)

  /** Delete the commit record: until the next [[writeMarker]] the dir
    * reads as "no committed index".
    */
  def liftMarker(spark: SparkSession, dir: String): Unit = {
    IndexFs.hfs(spark, dir).delete(IndexFs.hpath(dir, Marker), false)
    ()
  }

  def notCommitted(dir: String): String = s"no committed $what at $dir"

  /** The committed marker text, or the `no committed … index` refusal. */
  def committed(spark: SparkSession, dir: String): String =
    readMarker(spark, dir).getOrElse(throw new IllegalStateException(
      s"${notCommitted(dir)} — build first"))

  /** Append one mutation line to the committed marker. */
  def stamp(spark: SparkSession, dir: String, line: String): Unit =
    writeMarker(spark, dir, committed(spark, dir) + "\n" + line)

  def appendLine(fingerprint: String): String = s"+append[$fingerprint]"

  def fail(step: String): Unit = IndexFs.fail(s"$kind.$step")

  def withLease[T](spark: SparkSession, dir: String)(body: => T): T =
    IndexFs.withLease(spark, dir, Lease, what)(body)

  def breakLease(spark: SparkSession, dir: String,
      staleMillis: Long = IndexFs.DefaultStaleMillis): Option[String] =
    IndexFs.breakLease(spark, dir, Lease, Marker, staleMillis)

  /** Start a streaming ingest under the lease, stamping `+ingest`. */
  def ingest(spark: SparkSession, dir: String)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexFs.withStreamLease(spark, dir, Lease, what) {
      stamp(spark, dir, "+ingest")
      start
    }

  /** Run `build` unless the committed marker is exactly `want`.
    * @return true iff it built
    */
  def ensureBuilt(spark: SparkSession, dir: String, want: String)(
      build: => Unit): Boolean = {
    val fresh = readMarker(spark, dir).contains(want)
    if (!fresh) build
    !fresh
  }

  /** [[ensureBuilt]] for a base build plus ONE append stamped with the
    * same fingerprint: a warm index neither retrains nor re-appends.
    */
  def ensureBuiltWithAppend(spark: SparkSession, dir: String,
      base: String, fingerprint: String)(build: => Unit)(
      append: => Unit): Boolean =
    ensureBuilt(spark, dir, base + "\n" + appendLine(fingerprint)) {
      build
      append
    }

  /** Queue tombstones: the first column of `ids`, normalized to a long
    * `id` by `norm`.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      norm: Column => Column): Unit =
    withLease(spark, dir) {
      val prev = committed(spark, dir)
      val skinny = ids.select(ids.columns.head).toDF("id")
        .select(norm(col("id")).as("id"))
        .localCheckpoint(true)
      val n = skinny.count()
      writeMarker(spark, dir, prev + s"\n+delete[$n]")
      skinny.write.mode("append").parquet(s"$dir/$Deletes")
    }

  def delete(spark: SparkSession, dir: String, ids: Seq[Long],
      norm: Column => Column): Unit = {
    import spark.implicits._
    delete(spark, dir, ids.toDF("id"), norm)
  }

  def hasDeletes(spark: SparkSession, dir: String): Boolean =
    has(spark, dir, Deletes)

  def has(spark: SparkSession, dir: String, sub: String): Boolean =
    IndexFs.hfs(spark, dir).exists(IndexFs.hpath(dir, sub))

  /** Recursively delete each `dir/sub` that exists. */
  def remove(spark: SparkSession, dir: String, subs: String*): Unit = {
    val fs = IndexFs.hfs(spark, dir)
    subs.foreach(sub => fs.delete(IndexFs.hpath(dir, sub), true))
  }

  /** Replace `dir/table` by the staged `dir/table_tmp` (a compaction
    * step, run with the marker lifted).
    */
  def swapStaged(spark: SparkSession, dir: String, table: String): Unit = {
    val fs = IndexFs.hfs(spark, dir)
    fs.delete(IndexFs.hpath(dir, table), true)
    if (!fs.rename(IndexFs.hpath(dir, s"${table}_tmp"),
        IndexFs.hpath(dir, table)))
      throw new java.io.IOException(
        s"could not swap compacted $table table at $dir")
  }

  def deletes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$Deletes")

  /** `df` (with a long `id` column) minus the queued tombstones. */
  def withoutDeletes(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame =
    if (!hasDeletes(spark, dir)) df
    else df.join(deletes(spark, dir), Seq("id"), "left_anti")

  /** Run a compaction `body` under the lease, after refusing while a
    * committed groups table has an un-folded `+delete` line.
    */
  def compact[T](spark: SparkSession, dir: String)(body: => T): T =
    withLease(spark, dir) {
      IndexFs.readMarker(spark, dir, GroupsMarker).foreach { gm =>
        val pending = readMarker(spark, dir)
          .flatMap(unfoldedLines(gm, _)).getOrElse(Nil)
          .filter(_.startsWith("+delete["))
        if (pending.nonEmpty)
          throw new IllegalStateException(
            s"$what at $dir has a committed groups table that has not " +
              s"folded ${pending.mkString(", ")} — compaction would " +
              "remove the deletes/ queue that fold reads; run " +
              "groups-delete (deleteGroups) first, or groups-build " +
              "(buildGroups) after compacting")
      }
      body
    }
}

private[graft] object IndexLifecycle {
  val Marker = "INDEX_READY"
  val GroupsMarker = "GROUPS_READY"
  val Lease = ".MAINT_LEASE"
  private val Deletes = "deletes"

  /** md5 hex digest of a marker text — the groups marker's record of
    * the index state it was built against.
    */
  def digest(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The committed `name` marker at `dir`, whatever the family. */
  def marker(spark: SparkSession, dir: String,
      name: String = Marker): Option[String] =
    IndexFs.readMarker(spark, dir, name)

  /** The committed groups marker and whether it digests the CURRENT
    * index marker (None = no groups table committed). Kindless: the
    * digest is the last field of every family's groups marker.
    */
  def groupsStatus(spark: SparkSession, dir: String)
      : Option[(String, Boolean)] =
    IndexFs.readMarker(spark, dir, GroupsMarker).map { gm =>
      val cur = marker(spark, dir).map(digest)
      (gm, cur.exists(d => gm.contains(s"index[$d]")))
    }

  /** The index-marker lines after the prefix groups marker `gm`
    * digests; None when it digests no prefix.
    */
  private def unfoldedLines(gm: String, idx: String)
      : Option[Seq[String]] = {
    val lines = idx.linesIterator.toSeq
    (1 to lines.size)
      .find(k => gm.contains(s"index[${digest(lines.take(k).mkString("\n"))}]"))
      .map(lines.drop)
  }
}

/** Near-dup GROUPS at rest, for any family that can mine pairs.
  *
  * A dedup-groups query re-mines every pair and re-runs connected
  * components over the whole corpus on each invocation, yet the group
  * structure only changes when the index does, and an arriving batch
  * can only join, form or MERGE groups — all decided by the batch's
  * own pairs. So the labels are committed once and folded per
  * mutation:
  *
  *   - `groups/` holds (id, label) for every document in some pair,
  *     label = min id of its group (unpaired documents are absent).
  *     `GROUPS_READY` is `format=F <mining params> index[md5]`, the
  *     md5 of the index marker it matches; [[fresh]] iff that is the
  *     CURRENT marker at these params.
  *   - [[build]]: connected components over the family's full-corpus
  *     pairs.
  *   - [[foldAppend]]: CC over the SUPER-NODE graph of the family's
  *     batch-vs-corpus pairs — each endpoint replaced by its committed
  *     label (or itself when unlabeled), so the work is bounded by the
  *     batch's reach — then members of merged groups relabel through
  *     the resulting label map. Equal to a rebuild: existing
  *     components stay connected, the new edges are exactly those a
  *     full mine adds, and a merged component's min is the min over
  *     its super-nodes since every member id >= its group's label.
  *   - [[foldDelete]]: a delete can SPLIT a group, so components are
  *     recomputed only over the touched groups' surviving members
  *     (groups with a tombstoned member; a pair between a touched and
  *     an untouched group would already have joined them), with the
  *     family's pairs CONFINED to those members. Untouched rows keep
  *     their label; touched rows take the re-mined label or drop when
  *     left unpaired (deleted ids are never re-mined, so they drop).
  *     The whole `deletes/` queue is applied at each fold, so an
  *     earlier fold may clean a later delete's groups early; the later
  *     fold then no-ops there.
  *   - Folds go in MARKER ORDER ([[foldable]]): the committed groups
  *     marker must digest a prefix of the index marker whose next line
  *     is the kind being folded; each fold advances the digest by one
  *     line, and the drained sequence equals a full [[build]]. Out of
  *     order, or no prefix matched (params differ, or a rebuild
  *     intervened), throws toward a rebuild.
  *   - The commit step lifts `GROUPS_READY`, writes `groups/`, and
  *     stamps it, with fault points `<kind>.groups.unmarked` and
  *     `<kind>.groups.written`: a crash leaves a groups-markerless
  *     dir that [[read]] refuses.
  */
private[graft] final class GroupsLifecycle(core: IndexLifecycle,
    format: Int) {
  import IndexLifecycle._
  import graft.operators.ConnectedComponents

  private def markerText(indexMarker: String, params: String): String =
    s"format=$format $params index[${digest(indexMarker)}]"

  def fresh(spark: SparkSession, dir: String, params: String): Boolean =
    core.readMarker(spark, dir).exists { idx =>
      IndexFs.readMarker(spark, dir, GroupsMarker)
        .contains(markerText(idx, params))
    }

  def read(spark: SparkSession, dir: String): DataFrame = {
    require(IndexFs.readMarker(spark, dir, GroupsMarker).nonEmpty,
      s"no committed groups table at $dir (missing $GroupsMarker)")
    spark.read.parquet(s"$dir/groups")
  }

  /** Full connected components over `pairs` (id_a, id_b). */
  def build(spark: SparkSession, dir: String, params: String)(
      pairs: => DataFrame): Unit =
    core.withLease(spark, dir) {
      val want = markerText(core.committed(spark, dir), params)
      commit(spark, dir, want, ConnectedComponents.labels(
        pairs.select(col("id_a"), col("id_b"))))
    }

  /** Fold the next un-folded `+append`/`+ingest` line, whose new
    * pairs are `newPairs` (id_a, id_b).
    */
  def foldAppend(spark: SparkSession, dir: String, params: String)(
      newPairs: => DataFrame): Unit =
    core.withLease(spark, dir) {
      val stamp = foldable(spark, dir, params, "appendGroups",
        l => l.startsWith("+append[") || l == "+ingest",
        "+append/+ingest")
      val pairs = newPairs.select(col("id_a"), col("id_b"))
      val g = spark.read.parquet(s"$dir/groups").localCheckpoint(false)
      val superEdges = pairs
        .filter(col("id_a") =!= col("id_b"))
        .join(g.select(col("id").as("id_a"), col("label").as("__la")),
          Seq("id_a"), "left")
        .join(g.select(col("id").as("id_b"), col("label").as("__lb")),
          Seq("id_b"), "left")
        .select(coalesce(col("__la"), col("id_a")).as("id_a"),
          coalesce(col("__lb"), col("id_b")).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      val comp = ConnectedComponents.labels(superEdges)
        .localCheckpoint(true)
      // super-nodes that were never members (batch ids, previously
      // unpaired ids) enter as fresh rows
      val updated = g
        .join(comp.select(col("id").as("label"),
          col("label").as("__nl")), Seq("label"), "left")
        .select(col("id"),
          coalesce(col("__nl"), col("label")).as("label"))
        .unionByName(comp.join(g.select(col("id")), Seq("id"),
          "left_anti").select(col("id"), col("label")))
        // EAGER: reads groups/, which the commit overwrites
        .localCheckpoint(true)
      commit(spark, dir, stamp, updated)
    }

  /** Fold the next un-folded `+delete` line; `confined` mines the
    * pairs (id_a, id_b) among the given surviving members (id).
    */
  def foldDelete(spark: SparkSession, dir: String, params: String)(
      confined: DataFrame => DataFrame): Unit =
    core.withLease(spark, dir) {
      val stamp = foldable(spark, dir, params, "deleteGroups",
        _.startsWith("+delete["), "+delete[n]")
      val g = spark.read.parquet(s"$dir/groups").localCheckpoint(false)
      val del = core.deletes(spark, dir).select(col("id"))
      val touched = g.join(del, Seq("id"), "left_semi")
        .select(col("label")).distinct()
      // EAGER: reads groups/, which the commit overwrites
      val members = g.join(touched, Seq("label"), "left_semi")
        .join(del, Seq("id"), "left_anti")
        .select(col("id"))
        .localCheckpoint(true)
      val relabeled = ConnectedComponents.labels(
          confined(members).select(col("id_a"), col("id_b")))
        .localCheckpoint(true)
      // one join-based relabel over g, NOT a union of the untouched and
      // re-mined halves: Union over those join-derived children trips
      // Catalyst's union constraint rewriting even behind checkpoints
      val updated = g
        .join(touched.withColumn("__t", lit(true)), Seq("label"), "left")
        .join(relabeled.select(col("id"), col("label").as("__nl")),
          Seq("id"), "left")
        .filter(col("__t").isNull || col("__nl").isNotNull)
        .select(col("id"),
          when(col("__t").isNotNull, col("__nl"))
            .otherwise(col("label")).as("label"))
        .localCheckpoint(true)
      commit(spark, dir, stamp, updated)
    }

  private def commit(spark: SparkSession, dir: String, stamp: String,
      groups: DataFrame): Unit = {
    IndexFs.hfs(spark, dir).delete(IndexFs.hpath(dir, GroupsMarker),
      false)
    core.fail("groups.unmarked")
    groups.write.mode("overwrite").parquet(s"$dir/groups")
    core.fail("groups.written")
    IndexFs.writeMarker(spark, dir, GroupsMarker, stamp)
  }

  /** The fold-order precondition: a committed groups marker digesting
    * some PREFIX of the index marker, whose NEXT line `accept`s. An
    * existence-only check would stamp the fold's result with the
    * current digest and launder intervening mutations into a
    * fresh-looking table.
    *
    * @return the groups marker to stamp after this fold — the digest
    *         of the folded prefix plus the one line being folded
    */
  private def foldable(spark: SparkSession, dir: String, params: String,
      op: String, accept: String => Boolean, expected: String): String = {
    val idx = core.committed(spark, dir)
    val wantFor = (prefix: String) => markerText(prefix, params)
    val gm = IndexFs.readMarker(spark, dir, GroupsMarker).getOrElse(
      throw new IllegalStateException(
        s"no committed groups table at $dir — buildGroups first"))
    val lines = idx.linesIterator.toSeq
    if (gm == wantFor(idx))
      throw new IllegalStateException(
        s"groups table at $dir is already fresh — nothing to fold")
    val foldedTo = (1 until lines.size)
      .find(k => gm == wantFor(lines.take(k).mkString("\n")))
      .getOrElse(throw new IllegalStateException(
        s"groups table at $dir digests no prefix of the index marker " +
          "(the parameters differ, or it predates a rebuild) — " +
          s"$op cannot fold; rebuild with buildGroups"))
    val next = lines(foldedTo)
    if (!accept(next))
      throw new IllegalStateException(
        s"the next un-folded mutation at $dir is '$next', not the " +
          s"$expected this $op folds — fold mutations in marker " +
          "order (run the matching groups fold first), or rebuild " +
          "with buildGroups")
    wantFor(lines.take(foldedTo + 1).mkString("\n"))
  }
}
