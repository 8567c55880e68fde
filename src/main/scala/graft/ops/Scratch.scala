package graft.ops

import java.nio.file.{Files, Path, Paths}

/** RAM-backed scratch space for test/bench harness mechanics (replay
  * staging, fixture pipeline outputs, checkpoint dirs): many-small-file IO
  * on a disk-backed tmpdir is pure fixed cost for entries whose measured
  * work is the operator, not the filesystem. Prefers /dev/shm when present,
  * writable AND with comfortable headroom, falling back to java.io.tmpdir.
  * Callers own deletion of the dirs they request — same contract as
  * Files.createTempDirectory.
  *
  * Hardening against the two tmpfs failure modes:
  *
  *  - '''litter''': every allocation lives under ONE per-JVM root holding a
  *    `.lock` file whose exclusive FileLock the OS releases at process
  *    death — so a SIGKILL (which skips shutdown hooks) leaves a root whose
  *    lock is ACQUIRABLE, and the next JVM's startup sweep detects and
  *    deletes it. Legacy `graft-*` dirs without a lock are swept once they
  *    are older than any plausible live session (24 h).
  *  - '''exhaustion''': /dev/shm is chosen only with `GRAFT_SCRATCH_MIN_FREE_MB`
  *    (default 4096) of usable space, re-checked per allocation — a bench
  *    that fills tmpfs mid-run fails over to disk tmp for subsequent dirs
  *    instead of dying on opaque write errors. `GRAFT_SCRATCH_NO_SHM=1`
  *    opts out of tmpfs entirely; `GRAFT_SCRATCH_DIR=<path>` pins the base.
  */
object Scratch {

  private val MinFreeBytes: Long =
    sys.env.get("GRAFT_SCRATCH_MIN_FREE_MB").flatMap(_.toLongOption)
      .getOrElse(4096L) * (1L << 20)

  /** Legacy (pre-lock) litter is deletable once no live session can own
    * it; driver sessions run well under a day.
    */
  private val LegacyStaleMs: Long = 24L * 3600 * 1000

  private def shmCandidate: Option[Path] = {
    val shm = Paths.get("/dev/shm")
    if (!sys.env.contains("GRAFT_SCRATCH_NO_SHM") && Files.isDirectory(shm) &&
        Files.isWritable(shm) && shm.toFile.getUsableSpace >= MinFreeBytes)
      Some(shm)
    else None
  }

  private def diskTmp: Path = Paths.get(sys.props("java.io.tmpdir"))

  /** Delete sibling scratch roots whose owner died without cleanup: a
    * dir with an ACQUIRABLE `.lock` has no live owner (the OS drops file
    * locks at process death); a `graft-*` dir with NO lock file is legacy
    * litter, swept only past [[LegacyStaleMs]]. Never throws — a sweep
    * failure must not block scratch allocation.
    */
  private def sweepStale(base: Path): Unit =
    try {
      val now = System.currentTimeMillis()
      val ls = Files.list(base)
      try {
        val it = ls.iterator()
        while (it.hasNext) {
          val p = it.next()
          val name = p.getFileName.toString
          // staging dirs live milliseconds (create → lock → rename); one
          // surviving an hour means its JVM died inside that window
          if (name.startsWith("tmp-unlocked-") && Files.isDirectory(p)) {
            try {
              if (now - Files.getLastModifiedTime(p).toMillis > 3600L * 1000)
                org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
            } catch { case _: Throwable => () }
          } else if (name.startsWith("graft-") && Files.isDirectory(p)) {
            try {
              val lockFile = p.resolve(".lock")
              if (Files.isRegularFile(lockFile)) {
                val ch = java.nio.channels.FileChannel.open(lockFile,
                  java.nio.file.StandardOpenOption.WRITE)
                try {
                  val l = ch.tryLock()
                  if (l != null) { // acquirable = owner dead = stale
                    l.release()
                    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
                  }
                } finally ch.close()
              } else if (now - Files.getLastModifiedTime(p).toMillis > LegacyStaleMs)
                org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
            } catch { case _: Throwable => () } // contended/vanished: skip
          }
        }
      } finally ls.close()
    } catch { case _: Throwable => () }

  /** The lock channel+lock, STRONGLY referenced for the JVM's lifetime: a
    * FileLock dies with its channel and an unreferenced channel is closed
    * by GC — holding neither (the original code kept `ch` as a lazy-init
    * local) silently RELEASED the liveness lock at the first GC after
    * startup, making the live root "acquirable" to a sibling JVM's
    * startup sweep, which then deleted it mid-run (observed: a
    * full-registry Verify lost its staged streaming-replay dirs to a
    * concurrently started PlanDump and failed two entries).
    */
  @volatile private var rootLock:
    (java.nio.channels.FileChannel, java.nio.channels.FileLock) = null

  /** True iff this JVM's scratch-root liveness lock is currently held —
    * the invariant the startup sweep of sibling JVMs relies on.
    */
  private[graft] def lockHeld: Boolean = {
    val l = rootLock
    l != null && l._2.isValid
  }

  /** Build a lock-marked, shutdown-hooked per-JVM root under `base`.
    * The (channel, lock) pair is returned so callers can pin it strongly
    * — see [[rootLock]] for why.
    */
  private def mkRoot(base: Path):
      (Path, (java.nio.channels.FileChannel, java.nio.channels.FileLock)) = {
    sweepStale(base)
    // Stage under a name the sweep IGNORES ("graft" prefix absent), take
    // the liveness lock, and only then rename into the swept namespace:
    // creating dir + .lock directly as graft-jvm-* left a window before
    // ch.lock() in which a sibling JVM's sweepStale could tryLock the
    // not-yet-locked file and delete the LIVE root — the exact mid-run
    // deletion this protocol exists to prevent. The FileLock rides the
    // open channel (inode), so the rename does not release it.
    val staging = Files.createTempDirectory(base, "tmp-unlocked-")
    val ch = java.nio.channels.FileChannel.open(staging.resolve(".lock"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    val lk = try (ch, ch.lock()) // pinned until process death — liveness marker
    catch { case t: Throwable => ch.close(); throw t }
    val suffix = staging.getFileName.toString.stripPrefix("tmp-unlocked-")
    val r = Files.move(staging, base.resolve(s"graft-jvm-$suffix"))
    sys.addShutdownHook(
      try org.apache.commons.io.FileUtils.deleteDirectory(r.toFile)
      catch { case _: Throwable => () })
    (r, lk)
  }

  /** The per-JVM scratch root: swept-then-created on first use, lock held
    * for the JVM's lifetime, best-effort deleted by shutdown hook (the
    * lock covers the SIGKILL path the hook cannot).
    */
  private lazy val root: Path = {
    val base = sys.env.get("GRAFT_SCRATCH_DIR").map(Paths.get(_))
      .filter(p => Files.isDirectory(p) && Files.isWritable(p))
      .orElse(shmCandidate)
      .getOrElse(diskTmp)
    val (r, lk) = mkRoot(base)
    rootLock = lk
    r
  }

  /** The mid-run low-headroom fallback root on disk tmp — ALSO lock-marked
    * and shutdown-hooked: allocating bare dirs in java.io.tmpdir would
    * escape both cleanup mechanisms (no liveness lock for the sweep, no
    * hook), re-creating the litter failure mode for exactly the runs that
    * fill tmpfs (review finding, round 12). The lazy val holds the
    * (channel, lock) pair beside the path — the strong reference
    * [[rootLock]] explains.
    */
  private lazy val fallback:
      (Path, (java.nio.channels.FileChannel, java.nio.channels.FileLock)) =
    mkRoot(diskTmp)

  def dir(prefix: String): Path = {
    // re-check headroom per allocation: tmpfs filling mid-run fails over
    // to disk tmp (slower, but never an opaque ENOSPC inside a write)
    if (root.startsWith("/dev/shm") &&
        root.toFile.getUsableSpace < MinFreeBytes / 4)
      Files.createTempDirectory(fallback._1, prefix)
    else Files.createTempDirectory(root, prefix)
  }
}
