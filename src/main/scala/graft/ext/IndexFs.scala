package graft.ext

import org.apache.spark.sql.SparkSession

/** Hadoop-FS primitives under [[IndexLifecycle]], the commit protocol
  * of the persisted index families: marker read/commit and the
  * exclusive maintenance lease. Every filesystem touch resolves
  * the Hadoop FileSystem from the index dir's scheme — a java.nio
  * marker on an HDFS/S3 index dir would land on LOCAL disk and
  * silently disagree with the actual remote index state.
  */
private[ext] object IndexFs {

  def hfs(spark: SparkSession, dir: String)
      : org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def hpath(parts: String*): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(parts.mkString("/"))

  def readMarker(spark: SparkSession, dir: String,
      marker: String): Option[String] = {
    val fs = hfs(spark, dir)
    val p = hpath(dir, marker)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Lease heartbeat cadence: the holder's daemon thread re-touches
    * the lease file's mtime at this period, so [[breakLease]] can
    * distinguish a crashed writer (stale mtime) from a live one.
    */
  private[ext] val HeartbeatMillis = 10000L

  /** How stale a lease's heartbeat must be before [[breakLease]] will
    * break it: comfortably past several missed heartbeats, so a
    * paused-but-alive writer (GC, scheduler hiccup) is never fenced
    * out by an eager operator.
    */
  private[ext] val DefaultStaleMillis = 120000L

  /** Identity line stamped into a fresh lease file — lets an operator
    * (and the [[breakLease]] refusal message) see WHO holds it.
    */
  private def ownerLine(what: String): String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.io.IOException => "unknown-host" }
    s"what=$what host=$host pid=${ProcessHandle.current().pid()} " +
      s"jvm-start=${ProcessHandle.current().info().startInstant()}"
  }

  /** Atomically create the lease file, writing the owner line. Returns
    * false iff the path already exists (lease held); transient
    * filesystem failures (permissions, quota, network) are RETHROWN —
    * mapping them to "lease held" would send operators chasing a lease
    * file that does not exist (ADVICE r14).
    *
    * On LOCAL filesystems the Hadoop `create(overwrite = false)` is
    * CHECK-then-act (RawLocalFileSystem stats, then opens) — the r16
    * lease-torture spec raced 4 writers through it and got 3
    * "winners". The `file` scheme therefore goes through ONE NIO
    * `Files.write(CREATE_NEW)` call (O_EXCL create + owner line in a
    * single kernel-enforced step — no crash window between a created
    * file and its owner line, and one winner per path); dispatch is
    * on the QUALIFIED URI SCHEME, not the FileSystem class, so a
    * wrapped local FS (FilterFileSystem, a checksum wrapper) that
    * still resolves to file:// takes the atomic branch too (ADVICE
    * r16). HDFS keeps the Hadoop create, whose namenode-side create
    * IS atomic, and object stores need a strong-create store exactly
    * as the [[withLease]] scaladoc documents.
    */
  private def tryAcquire(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, what: String): Boolean = {
    val qualified = fs.makeQualified(p).toUri
    if (qualified.getScheme == "file") {
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(qualified.getPath),
          ownerLine(what)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW) // atomic O_EXCL
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else
      try {
        val out = fs.create(p, false)
        try out.write(ownerLine(what)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        // some stores signal an existing file with a plain
        // IOException — disambiguate via exists() and let a genuine
        // I/O failure propagate as itself
        case e: java.io.IOException =>
          if (fs.exists(p)) false else throw e
      }
  }

  /** TEST-ONLY fault injection for the staged-rename lifecycles: the
    * index families call [[fail]] with a stable label at each commit
    * crash point (between stage-write and swap, between marker lift
    * and rewrite, ...); fault specs set this hook to throw at one
    * label and then verify the reopened index either serves the OLD
    * state or refuses loudly — never a half state. A no-op (one
    * virtual call per maintenance op, not per row) in production.
    */
  @volatile private[graft] var failpoint: String => Unit = _ => ()

  private[ext] def fail(label: String): Unit = failpoint(label)

  /** Single-writer guard for index MAINTENANCE (build/append/delete/
    * compact): an exclusive lease file created atomically
    * (`FileSystem.create(overwrite = false)` — one winner per path on
    * HDFS/local; S3A needs a stronger store for true atomicity, like
    * every filesystem-rename commit protocol). A second concurrent
    * writer fails the create and ABORTS LOUDLY instead of interleaving
    * half-written segments under the other writer's marker.
    *
    * While the body runs, a daemon thread re-touches the lease mtime
    * every [[HeartbeatMillis]] — the liveness signal [[breakLease]]
    * reads. A crashed writer stops heartbeating, so its orphaned lease
    * fails CLOSED only until an operator runs the documented
    * force-break ([[breakLease]]); a live writer's lease is not
    * breakable. The failure mode is always a refused rebuild, never a
    * corrupted index.
    */
  def withLease[T](spark: SparkSession, dir: String, lease: String,
      what: String)(body: => T): T = {
    val (fs, p) = acquire(spark, dir, lease, what)
    val beat = heartbeat(fs, p)
    try body
    finally {
      beat.interrupt()
      fs.delete(p, false); ()
    }
  }

  /** Take the lease at `dir/lease` or refuse loudly, naming its holder. */
  private def acquire(spark: SparkSession, dir: String, lease: String,
      what: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val fs = hfs(spark, dir)
    fs.mkdirs(hpath(dir))
    val p = hpath(dir, lease)
    if (!tryAcquire(fs, p, what))
      throw new IllegalStateException(
        s"$what maintenance lease held at $p — another " +
          "build/append/delete/compact (or an ingest stream) is running " +
          "(or crashed: break the lease with breakLease once its " +
          "heartbeat is stale); holder: " +
          readMarker(spark, dir, lease).getOrElse("unknown"))
    (fs, p)
  }

  /** Daemon thread touching `p`'s mtime every [[HeartbeatMillis]]
    * until interrupted. Touch failures are swallowed: the lease may
    * have just been deleted by the owner's finally, and a missed
    * heartbeat only makes the lease LOOK staler — the safe direction.
    */
  private def heartbeat(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Thread = {
    val t = new Thread(() => {
      try {
        while (!Thread.interrupted()) {
          Thread.sleep(HeartbeatMillis)
          try fs.setTimes(p, System.currentTimeMillis(), -1)
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-heartbeat-${p.getName}")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Force-break a CRASHED writer's orphaned lease — the documented
    * recovery op the fail-closed design requires. Refuses unless the
    * lease's heartbeat mtime is at least `staleMillis` old (a live
    * writer re-touches every [[HeartbeatMillis]], so a breakable lease
    * has missed many heartbeats), then deletes it and returns the
    * committed marker text read AFTER the break — re-reading under the
    * post-break state is the fencing step: the caller decides from the
    * marker (not from pre-crash memory) whether the index is servable
    * or needs a rebuild, and the next maintenance op re-acquires a
    * fresh lease through [[withLease]] as usual.
    *
    * @return the marker text committed at `dir` after the break, None
    *         if the crashed writer died before (re)committing one —
    *         i.e. the index needs a rebuild
    */
  def breakLease(spark: SparkSession, dir: String, lease: String,
      marker: String,
      staleMillis: Long = DefaultStaleMillis): Option[String] = {
    val fs = hfs(spark, dir)
    val p = hpath(dir, lease)
    if (fs.exists(p)) {
      val st = fs.getFileStatus(p)
      val age = System.currentTimeMillis() - st.getModificationTime
      if (age < staleMillis)
        throw new IllegalStateException(
          s"lease at $p heartbeated ${age}ms ago (< ${staleMillis}ms) " +
            "— holder looks ALIVE, refusing to break; holder: " +
            readMarker(spark, dir, lease).getOrElse("unknown"))
      fs.delete(p, false)
    }
    readMarker(spark, dir, marker)
  }

  /** Hold the lease for a STREAMING writer's whole lifetime: acquire
    * (fail-fast if held — a concurrent build/compact would delete the
    * segment under the live sink), start the query via `start`, and
    * release shortly after THAT query terminates (a daemon thread
    * blocks on `awaitTermination`, re-touching the lease mtime as its
    * heartbeat each wait round). Release is asynchronous by nature —
    * callers stopping the stream should expect the lease to vanish
    * within ~1 s, not instantaneously. A crashed driver leaves the
    * lease for [[breakLease]], exactly like a crashed batch writer.
    */
  def withStreamLease(spark: SparkSession, dir: String, lease: String,
      what: String)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (fs, p) = acquire(spark, dir, lease, s"$what streaming ingest")
    val q =
      try start
      catch { case e: Throwable => fs.delete(p, false); throw e }
    val t = new Thread(() => {
      // wait in heartbeat-sized rounds so a long-lived stream keeps
      // its lease visibly alive; poll faster near the start so a
      // short-lived spec stream releases promptly
      try {
        var waited = 0L
        var round = 200L
        while (!q.awaitTermination(round)) {
          waited += round
          round = if (waited < HeartbeatMillis) 200L else HeartbeatMillis
          if (waited >= HeartbeatMillis)
            try fs.setTimes(p, System.currentTimeMillis(), -1)
            catch { case _: java.io.IOException => () }
        }
      } catch { case _: Throwable => () } // stream error still releases
      try { fs.delete(p, false); () }
      catch { case _: java.io.IOException => () }
    }, s"graft-stream-lease-${p.getName}")
    t.setDaemon(true)
    t.start()
    q
  }

  /** Write the marker via tmp + rename: a crashed write leaves either
    * the previous marker or none — never a truncated one.
    */
  def writeMarker(spark: SparkSession, dir: String, marker: String,
      text: String): Unit = {
    val fs = hfs(spark, dir)
    val tmp = hpath(dir, s".$marker.tmp")
    val dst = hpath(dir, marker)
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"could not commit marker at $dst")
  }
}
