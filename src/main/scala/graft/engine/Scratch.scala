package graft.engine

/** Resolve the fastest scratch root for `spark.local.dir` (shuffle spill,
  * block-manager files, broadcast scratch).
  *
  * Why: on this host the root disk serves shuffle writes at wildly
  * variable latency (measured r12: the identical f2_format_mmssms plan
  * ran 1.9–3.0 s in one QProbe window and 2.5→60.6 s in another, with
  * vmstat showing the JVM idle behind 5–12 MB/s write-back bursts — the
  * noise waves behind every "retried, flat in builder runs" adjudication
  * since r9). Shuffle files are transient per-app scratch; putting them
  * on tmpfs removes the disk from every query's hot path, which is the
  * standard production choice (NVMe/ramdisk shuffle dirs) — at cluster
  * scale this is the `spark.local.dir=/mnt/nvme*` every tuned deployment
  * sets. Catalog layouts under /tmp/graft_* stay on disk on purpose:
  * they are cross-process persistent artifacts, not scratch.
  *
  * Guard rails (ADVICE r12): tmpfs competes with the pre-touched 12 GiB
  * heap for physical RAM on a memory-overcommitted host, so /dev/shm is
  * chosen only when it currently has comfortable headroom
  * ([[MinShmFreeBytes]]) — below that, spills degrade gracefully to disk
  * instead of ENOSPC / the OOM killer mid-run. Stale `graft_spark`
  * contents from killed JVMs occupy RAM until someone deletes them, so
  * resolution sweeps previous runs' subtrees first (each process writes
  * under its own pid-tagged subdir; a live process's dir is younger than
  * the sweep's age floor and is left alone).
  *
  * Falls back to the JVM default when no tmpfs is present so the mains
  * still run on hosts without /dev/shm.
  */
object Scratch {

  /** Require this much free space on /dev/shm before electing it: the
    * full catalog's worst observed concurrent spill footprint is well
    * under 2 GiB, doubled for margin. */
  val MinShmFreeBytes: Long = 4L * 1024 * 1024 * 1024

  /** Delete a previous run's scratch subtree if it has been idle this
    * long (its JVM is dead or wedged either way). */
  val StaleAgeMs: Long = 30L * 60 * 1000

  /** True iff the pid encoded in a `pidNNN` scratch dir name belongs to a
    * LIVE process. The mtime age floor alone is not a liveness test
    * (ADVICE r13): a directory's lastModified updates only on direct-child
    * creation, and Spark creates its blockmgr / spark-scratch children at JVM
    * start then writes INSIDE them — so any JVM running longer than
    * [[StaleAgeMs]] looks idle by mtime, and a concurrently starting graft
    * process would delete its live shuffle/spill dirs mid-run. Dir names
    * that don't parse as `pidNNN` (legacy layouts) fall back to the age
    * floor alone. */
  private def ownerAlive(d: java.io.File): Boolean =
    d.getName match {
      case s if s.startsWith("pid") && s.drop(3).forall(_.isDigit) &&
          s.length > 3 =>
        try ProcessHandle.of(s.drop(3).toLong)
          .map[Boolean](_.isAlive).orElse(false)
        catch { case _: NumberFormatException => false }
      case _ => false
    }

  lazy val localDir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val root = new java.io.File(shm, "graft_spark")
      // sweep stale siblings from killed JVMs — tmpfs bytes are RAM.
      // A dir is swept only when its owner pid is DEAD and the age floor
      // has passed (the floor keeps a just-started sibling's dir safe in
      // the window before its first child appears).
      val now = System.currentTimeMillis()
      val old = root.listFiles()
      if (old != null)
        old.filter(d => now - d.lastModified() > StaleAgeMs && !ownerAlive(d))
          .foreach(Layouts.rmTree)
      val free = shm.getUsableSpace
      if (free >= MinShmFreeBytes) {
        val d = new java.io.File(root, s"pid${ProcessHandle.current().pid()}")
        d.mkdirs()
        d.deleteOnExit()
        d.getAbsolutePath
      } else sys.props.getOrElse("java.io.tmpdir", "/tmp")
    } else sys.props.getOrElse("java.io.tmpdir", "/tmp")
  }
}
