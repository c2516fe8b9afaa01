package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.hadoop.fs.Path

import graft.GraftSession
import graft.ext.{AnnIndex, BloomIndex, IndexLifecycle, MinHashIndex}

/** Operational CLI for the three persisted-index families — the
  * documented form of the maintenance ops their scaladocs promise
  * (an operator recovering a crashed writer should not need a Scala
  * REPL). Reference anchor: the reference has no indexes at all
  * (whole-sheet rescan per run, `main.gs:51-52`); these lifecycles
  * are the driver-mandated 100 TB posture.
  *
  * Usage (kind = ann | minhash | bloom; gkind = ann | minhash):
  *   runMain graft.tools.IndexMaintCli status      <dir>
  *   runMain graft.tools.IndexMaintCli compact     <kind> <dir>
  *   runMain graft.tools.IndexMaintCli break-lease <kind> <dir> [staleMillis]
  *   runMain graft.tools.IndexMaintCli groups      <gkind> <dir>
  *   runMain graft.tools.IndexMaintCli groups-build <gkind> <dir> \
  *     <corpusParquet> <idCol> <contentCol> <threshold>
  *   runMain graft.tools.IndexMaintCli groups-append <gkind> <dir> \
  *     <batchParquet> <corpusParquet> <idCol> <contentCol> <threshold>
  *   runMain graft.tools.IndexMaintCli groups-delete <gkind> <dir> \
  *     <corpusParquet> <idCol> <contentCol> <threshold>
  *
  * `status` prints the committed marker (params + every +append/
  * +delete/+ingest mutation line), the GROUPS_READY marker and its
  * staleness vs the current index marker, lease presence, and which
  * side tables / segments / tombstone queues exist. `compact` runs
  * the family's seal (AnnIndex: fold the streaming segment +
  * tombstones into codes/; MinHash: sigs; Bloom: bitmap+keys).
  * `break-lease` refuses while the holder's heartbeat is fresh — see
  * `IndexFs.breakLease`. The `groups*` subcommands drive the at-rest
  * groups lifecycle (`buildGroups` / `appendGroups` / `deleteGroups`).
  * A MULTI-mutation marker folds as a sequence of `groups-append` /
  * `groups-delete` calls IN MARKER ORDER, one bounded fold per
  * mutation line; a fold whose kind does not match the next un-folded
  * line refuses loudly, and `compact` refuses while a `+delete` is
  * un-folded (`graft.ext.IndexLifecycle` describes the protocol).
  * `groups` alone reports freshness.
  */
object IndexMaintCli {

  private val SideDirs = Seq("codes", "codes_stream", "sigs",
    "sigs_stream", "bitmap", "keys", "keys_stream", "deletes",
    "coarse", "codebooks", "meta", "groups")

  /** One index family as the CLI drives it; `compacted` names what
    * `compact`'s count counts, and `groups` is None for a family
    * without groups at rest (Bloom).
    */
  private final case class Kind(core: IndexLifecycle,
      compact: (SparkSession, String) => Long, compacted: String,
      groups: Option[GroupsOps])

  /** (corpus, idCol, contentCol, dir, threshold) for build/delete;
    * append takes the batch first.
    */
  private final case class GroupsOps(
      build: (DataFrame, String, String, String, Double) => Unit,
      append: (DataFrame, DataFrame, String, String, String, Double) =>
        Unit,
      delete: (DataFrame, String, String, String, Double) => Unit)

  private val Kinds: Map[String, Kind] = Map(
    "ann" -> Kind(AnnIndex.core, AnnIndex.compactSegment,
      "rows moved from the streaming segment",
      Some(GroupsOps(AnnIndex.buildGroups(_, _, _, _, _),
        AnnIndex.appendGroups(_, _, _, _, _, _),
        AnnIndex.deleteGroups(_, _, _, _, _)))),
    "minhash" -> Kind(MinHashIndex.core, MinHashIndex.compact,
      "rows at rest in sigs/",
      Some(GroupsOps(MinHashIndex.buildGroups, MinHashIndex.appendGroups,
        MinHashIndex.deleteGroups(_, _, _, _, _)))),
    "bloom" -> Kind(BloomIndex.core, BloomIndex.compact, "keys at rest",
      None))

  private def kindOf(name: String): Kind = Kinds.getOrElse(name,
    sys.error(s"unknown index kind '$name' (ann | minhash | bloom)"))

  private def groupsOf(name: String): GroupsOps =
    kindOf(name).groups.getOrElse(sys.error(
      s"index kind '$name' has no groups at rest (ann | minhash)"))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try run(spark, args.toSeq)
    catch {
      case e: Exception =>
        System.err.println(s"[index-maint] ERROR: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }

  private[tools] def run(spark: SparkSession, args: Seq[String]): Unit =
    args match {
      case Seq("status", dir) =>
        status(spark, dir)
      case Seq("compact", kind, dir) =>
        val k = kindOf(kind)
        println(s"[index-maint] compacted $kind index at $dir: " +
          s"${k.compact(spark, dir)} ${k.compacted}")
      case Seq("break-lease", kind, dir) =>
        leaseBroken(dir, kindOf(kind).core.breakLease(spark, dir))
      case Seq("break-lease", kind, dir, stale) =>
        leaseBroken(dir,
          kindOf(kind).core.breakLease(spark, dir, stale.toLong))
      case Seq("groups", kind, dir) =>
        groupsOf(kind)
        groupsReport(spark, dir)
      case Seq("groups-build", kind, dir, corpus, idCol, cCol, thr) =>
        groupsOf(kind).build(spark.read.parquet(corpus), idCol, cCol,
          dir, thr.toDouble)
        println(s"[index-maint] groups built for $kind index at $dir")
      case Seq("groups-append", kind, dir, batch, corpus, idCol, cCol,
          thr) =>
        groupsOf(kind).append(spark.read.parquet(batch),
          spark.read.parquet(corpus), idCol, cCol, dir, thr.toDouble)
        println(s"[index-maint] batch folded into $kind groups at $dir")
      case Seq("groups-delete", kind, dir, corpus, idCol, cCol,
          thr) =>
        groupsOf(kind).delete(spark.read.parquet(corpus), idCol, cCol,
          dir, thr.toDouble)
        println(s"[index-maint] tombstones folded into $kind " +
          s"groups at $dir")
      case _ =>
        sys.error("usage: status <dir> | compact <kind> <dir> | " +
          "break-lease <kind> <dir> [staleMillis] | " +
          "groups <kind> <dir> | " +
          "groups-build <kind> <dir> <corpus> <idCol> <contentCol> <thr> | " +
          "groups-append <kind> <dir> <batch> <corpus> <idCol> <contentCol> <thr> | " +
          "groups-delete <kind> <dir> <corpus> <idCol> <contentCol> <thr>")
    }

  private def groupsReport(spark: SparkSession, dir: String): Unit =
    IndexLifecycle.groupsStatus(spark, dir) match {
      case Some((marker, fresh)) =>
        println(s"[index-maint] $dir groups: ${IndexLifecycle.GroupsMarker} " +
          (if (fresh) "(FRESH vs current index marker)"
           else "(STALE — index mutated since; fold the trailing " +
             "mutation with groups-append/groups-delete, or " +
             "groups-build)"))
        println(s"    $marker")
      case None =>
        println(s"[index-maint] $dir groups: ABSENT (groups-build " +
          "to create)")
    }

  private def leaseBroken(dir: String, marker: Option[String]): Unit =
    marker match {
      case Some(m) =>
        println(s"[index-maint] lease cleared at $dir (no-op if none" +
          s" was held); committed marker after fencing:\n" +
          m.linesIterator.map("  " + _).mkString("\n"))
      case None =>
        println(s"[index-maint] lease cleared at $dir; NO committed " +
          "marker — the crashed writer died pre-commit, rebuild " +
          "before serving")
    }

  private def status(spark: SparkSession, dir: String): Unit = {
    import IndexLifecycle.{GroupsMarker, Lease, Marker}
    val fs = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    println(s"[index-maint] $dir")
    IndexLifecycle.marker(spark, dir) match {
      case Some(text) =>
        println(s"  marker: $Marker")
        text.linesIterator.foreach(l => println(s"    $l"))
      case None =>
        println("  marker: ABSENT (no committed index — build " +
          "running, crashed, or never ran)")
    }
    IndexLifecycle.groupsStatus(spark, dir) match {
      case Some((gtext, fresh)) =>
        println(s"  groups marker: $GroupsMarker " +
          (if (fresh) "(FRESH)" else "(STALE vs current index marker)"))
        gtext.linesIterator.foreach(l => println(s"    $l"))
      case None => println("  groups marker: ABSENT")
    }
    val lease = new Path(dir, Lease)
    if (fs.exists(lease)) {
      val st = fs.getFileStatus(lease)
      val age = (System.currentTimeMillis() -
        st.getModificationTime) / 1000.0
      println(f"  lease: HELD (heartbeat age $age%.1f s — live " +
        "writer if fresh, crashed if stale; see break-lease)")
    } else println("  lease: free")
    for (sd <- SideDirs; p = new Path(dir, sd) if fs.exists(p)) {
      val sum = fs.getContentSummary(p)
      println(s"  $sd/: ${sum.getFileCount} files, " +
        s"${sum.getLength} bytes")
    }
  }
}
