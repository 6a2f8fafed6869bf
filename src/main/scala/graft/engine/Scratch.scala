package graft.engine

/** Per-process Spark scratch directories on tmpfs, with orphan reaping.
  *
  * Shuffle scratch lives on `/dev/shm` (the virtio disk's small-file
  * open/mmap latency made identical jobs swing 5-41 s), but tmpfs pages
  * are RESIDENT RAM: a JVM that is killed (bench child over its cap,
  * harness timeout) leaks its `blockmgr-*` dirs forever (13 leaked
  * block-manager dirs totalling 5.8 GiB were seen after one bench
  * sweep) — machine state that degrades every later measurement on the
  * box.
  *
  * Fix: every JVM gets its OWN subdir, `p<pid>-<tag>`, so ownership is
  * decidable post-mortem; [[cleanupOrphans]] deletes any subdir whose
  * creating process is dead (plus bare legacy `blockmgr-*`/`spark-*`
  * dirs from the old shared layout, which are always orphans under this
  * one). A shutdown hook reaps the process's own dir on clean exit;
  * kills are covered by the next process's orphan sweep.
  */
object Scratch {

  val root = "/dev/shm/graft-spark"

  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** This process's scratch dir for `tag` (created; reaped on clean
    * exit by a once-per-tag shutdown hook — repeated sessions in one
    * JVM must not stack duplicate hooks). */
  def localDir(tag: String): String = {
    val pid = ProcessHandle.current().pid()
    val dir = new java.io.File(root, s"p$pid-$tag")
    dir.mkdirs()
    if (hooked.add(tag))
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir.getAbsolutePath
  }

  /** Name of the scratch dir a CHILD process with known pid will use —
    * lets a parent that force-killed the child reap its scratch
    * immediately instead of waiting for the next orphan sweep. */
  def childDir(pid: Long, tag: String): java.io.File =
    new java.io.File(root, s"p$pid-$tag")

  /** Delete scratch subdirs whose owning process is dead. Safe against
    * concurrent live JVMs: `p<pid>-*` dirs are only removed when that
    * pid no longer exists; unrecognized names are left alone except the
    * legacy shared-layout `blockmgr-*`/`spark-*` dirs, which no current
    * code writes — but which a still-running JVM built from an OLDER
    * checkout could be actively using, so those are only reaped once the
    * NEWEST mtime anywhere in the tree is stale (>10 min). The top-level
    * mtime alone is not enough: shuffle blocks land as files nested two
    * levels down (a hash-bucket subdir, then the block file) and never
    * touch the root dir's mtime, so a live legacy dir would look frozen
    * at the top while its leaves churn. A true orphan's whole tree
    * froze at the kill. */
  def cleanupOrphans(): Long = {
    val base = new java.io.File(root)
    val entries = Option(base.listFiles()).getOrElse(Array.empty)
    val staleMs = System.currentTimeMillis() - 10 * 60 * 1000L
    var freed = 0L
    entries.foreach { f =>
      val name = f.getName
      val ownerDead = name match {
        case s if s.startsWith("p") && s.contains("-") =>
          s.drop(1).takeWhile(_.isDigit).toLongOption.exists { pid =>
            // pid REUSE guard: a dead JVM's pid can be recycled by an
            // unrelated process, which would keep its multi-GiB tmpfs
            // dir resident forever (the exact leak this module exists
            // to fix). The dir's owner is alive only if the pid exists
            // AND is a JVM; a live non-java pid means the owner died
            // and the number was recycled. (A java-reused pid is the
            // residual false-keep — rare, and bounded by the next
            // sweep after THAT process exits.)
            val h = ProcessHandle.of(pid)
            !(h.isPresent && {
              val cmd = h.get().info().command()
              !cmd.isPresent || cmd.get().endsWith("java")
            })
          }
        case s => (s.startsWith("blockmgr-") || s.startsWith("spark-")) &&
          newestMtime(f) < staleMs
      }
      if (ownerDead) { freed += sizeOf(f); deleteRecursively(f) }
    }
    freed
  }

  /** Newest mtime anywhere in the tree (orphan trees are fully dead, so
    * the walk is cheap; a live tree pays one directory scan). Shared
    * with the qf_stream_window stale-sibling sweep — nested streaming
    * checkpoint writes never touch the root mtime. */
  private[graft] def newestMtime(f: java.io.File): Long = {
    val own = f.lastModified()
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty)
        .foldLeft(own)((m, c) => math.max(m, newestMtime(c)))
    else own
  }

  /** Best-effort kernel memory hygiene before a measurement window:
    * drop reclaimable caches and request compaction, so a freshly
    * launched child JVM's multi-GiB heap is served from clean free
    * pages instead of stalling in lazy reclaim / THP compaction —
    * measured repeatedly on this box as the post-churn failure mode
    * (loadavg high with busy≈0/steal=0: D-state kernel reclaim, which
    * degraded the 8-thread scaling child up to 2.5× while the 2-thread
    * child stayed clean). Needs root + a writable /proc; returns false
    * (silently) anywhere it isn't, so the bench works unprivileged. */
  def dropKernelCaches(): Boolean =
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("/proc/sys/vm/drop_caches"),
        "3\n".getBytes("UTF-8"))
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("/proc/sys/vm/compact_memory"),
        "1\n".getBytes("UTF-8"))
      catch { case _: Throwable => () } // compaction is optional extra
      true
    } catch { case _: Throwable => false }

  private def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf).sum
    else f.length()

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
