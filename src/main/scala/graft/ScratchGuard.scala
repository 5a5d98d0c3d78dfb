package graft

import java.io.{File, IOException}
import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.file.{Paths, StandardOpenOption}

/** Cross-process guard for the tmpfs scratch dirs build.sbt points the
  * run mains at (`java.io.tmpdir` = graft-tmp for replay fixtures,
  * checkpoints and temp lakes; `spark.local.dir` = graft-scratch for
  * shuffle/blocks). Two jobs:
  *
  *  - every main HOLDS a shared flock on `<dir>/.graft-live` for its
  *    JVM lifetime, so a starting sweeper can tell "a sibling JVM is
  *    using this dir" (the OS releases the lock when a process dies,
  *    however it dies);
  *  - the startup sweep first tries the EXCLUSIVE flock, non-blocking:
  *    success proves no sibling is live, so a previous killed run's
  *    leaked contents can be deleted; failure means a sibling is
  *    mid-run and the sweep is SKIPPED — a second bench/verify JVM can
  *    no longer delete the live run's streaming checkpoints out from
  *    under it (round-20 ADVICE). The exclusive lock is released and
  *    downgraded to the shared hold before returning.
  *
  * Sweep eligibility is signalled EXPLICITLY by build.sbt via
  * `-Dgraft.sweep.tmpdir` / `-Dgraft.sweep.localdir`, set alongside the
  * dir properties themselves — not by substring-matching the path — so
  * a custom `SPARK_GRAFT_TMPDIR` location is swept (and guarded) too.
  */
object ScratchGuard {

  private val LiveLock = ".graft-live"

  // held channels, one per guarded dir, for the JVM lifetime
  private val held = new java.util.concurrent.ConcurrentHashMap[String, FileChannel]()

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  /** Sweep `dir`'s contents (keeping the dir and the lock file) if and
    * only if no sibling JVM holds the live lock, then hold the shared
    * live lock until this JVM exits. Creates the dir when absent (the
    * first run after boot), so that run is guarded too. A dir this JVM
    * already holds is left alone: re-locking it from a second channel
    * would fail, and closing that channel drops the process's lock.
    * When no lock can be taken the guard says so on stderr.
    */
  def sweepAndHold(dir: String, sweep: Boolean): Unit = {
    if (held.containsKey(dir)) return
    def unguarded(why: String): Unit = System.err.println(
      s"[graft] scratch dir $dir is UNGUARDED (no live lock): $why")
    val d = new File(dir)
    d.mkdirs()
    if (!d.isDirectory) return unguarded("not a creatable directory")
    val ch =
      try FileChannel.open(Paths.get(dir, LiveLock),
        StandardOpenOption.CREATE, StandardOpenOption.READ,
        StandardOpenOption.WRITE)
      catch { case e: IOException => return unguarded(e.toString) }
    try {
      if (sweep) {
        // null = a sibling JVM holds the shared lock
        val excl = ch.tryLock(0L, Long.MaxValue, false)
        if (excl != null) {
          Option(d.listFiles())
            .foreach(_.filterNot(_.getName == LiveLock).foreach(rmTree))
          excl.release()
        } else System.err.println(
          s"[graft] scratch sweep of $dir skipped: a sibling JVM is live")
      }
      // hold the shared lock for the JVM lifetime (blocks only for the
      // instant a sibling's startup sweep holds the exclusive lock)
      ch.lock(0L, Long.MaxValue, true)
      held.put(dir, ch): Unit
    } catch {
      case e @ (_: IOException | _: OverlappingFileLockException) =>
        ch.close()
        unguarded(e.toString)
    }
  }

  /** Guard (and for `sweep = true` callers, sweep) every scratch dir
    * build.sbt declared sweep-eligible. Safe to call from any main.
    */
  def init(sweep: Boolean): Unit = {
    if (sys.props.get("graft.sweep.localdir").contains("true"))
      sys.props.get("spark.local.dir").foreach(sweepAndHold(_, sweep))
    if (sys.props.get("graft.sweep.tmpdir").contains("true"))
      sys.props.get("java.io.tmpdir").foreach(sweepAndHold(_, sweep))
  }
}
