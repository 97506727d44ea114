package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The persistent /tmp layouts (derived edge tables, candidate sets,
  * bucketed and partitioned copies, format round-trips, scenario tables)
  * that catalog queries build once per dataset and then share.
  *
  * One commit rule: a layout is built aside in a private
  * `<path>.build-<id>` work dir and renamed into place, so `path` exists
  * iff the layout is complete, and a published layout is never rewritten.
  * No lock is taken: sbt runs suites in parallel in one JVM, and two
  * threads (or two JVMs) may build the same absent layout at once, but
  * a directory rename onto a non-empty one fails, so the first rename
  * wins. Builds are deterministic, so the winner is THE layout and the
  * other copy is discarded. A build that throws leaves no work dir.
  *
  * One path scheme: callers name a layout `"<area>/<stem>"` and only
  * [[path]] turns that into a path, folding in [[tag]].
  */
object Layouts {
  /** Bump when ANY /tmp layout's derivation pipeline changes shape (new
    * signature scheme, different edge rule, schema change…). The version
    * is folded into every layout path, so a stale materialization from an
    * older pipeline is abandoned, never silently consumed. 10 = every
    * layout published by rename (an existing dir is a complete one). */
  val LayoutVersion = 10

  /** Cache tag for dataset dir `d`: sanitized path + a staleness
    * fingerprint of (LayoutVersion, newest top-level mtime under `d`).
    * Regenerating the dataset in place moves every derived /tmp layout to
    * a fresh path — the oracles always recompute from the live parquet,
    * so a layout keyed only on the PATH could silently diverge from them
    * (ADVICE r7). Old paths are abandoned; /tmp is the cleanup boundary.
    * Memoized: the fingerprint must be stable for the JVM's lifetime even
    * if the dataset dir is touched mid-run, or two faces could resolve
    * the same layout to different paths within one session. */
  private[this] val tagCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  def tag(d: String): String = tagCache.computeIfAbsent(d, { dir0 =>
    val dir = new java.io.File(dir0)
    val mt = Option(dir.listFiles())
      .map(_.foldLeft(dir.lastModified())((m, f) => math.max(m, f.lastModified())))
      .getOrElse(dir.lastModified())
    dir0.replaceAll("[^A-Za-z0-9]", "_") +
      s"_v${LayoutVersion}_${java.lang.Long.toHexString(mt)}"
  })

  /** The path of layout `name` for dataset dir `d`: `"<area>/<stem>"` is
    * `/tmp/graft_<area>/<stem>_<tag>`, a bare `"<area>"` is
    * `/tmp/graft_<area>/<tag>`. */
  private[graft] def path(d: String, name: String): String = name.split('/') match {
    case Array(area, stem) => s"/tmp/graft_$area/${stem}_${tag(d)}"
    case Array(area) => s"/tmp/graft_$area/${tag(d)}"
    case _ => throw new IllegalArgumentException(s"layout name must be <area>[/<stem>]: $name")
  }

  /** Layout `name` of `d`, published by `write` (which fills the work dir
    * it is given) if absent, then opened by `open`: [[Tables.parquet]]
    * unless not parquet. */
  def committed(s: SparkSession, d: String, name: String,
      open: (SparkSession, String) => DataFrame = Tables.parquet(_, _))(
      write: String => Unit): DataFrame =
    open(s, publish(s, d, name)(write))

  /** The path of layout `name` of `d`, published by `build` if absent. */
  def publish(s: SparkSession, d: String, name: String)(build: String => Unit): String = {
    val p = path(d, name)
    publishWith(p, s.catalog.refreshByPath)(build)
    p
  }

  /** The commit rule, with the listing refresh passed in (tests run it
    * without a session). Returns false at once if `path` exists.
    * Otherwise `build` fills a fresh `path.build-<id>`, which is renamed
    * to `path`, and returns whether this call's rename published it; a
    * rename that fails because another thread or process published
    * `path` first counts as published, by the other. The work dir is
    * deleted in a `finally`, so a `build` that throws leaves nothing
    * behind and its exception reaches the caller. `build` runs with
    * lineage cuts on ([[Materialize.cutting]]), also inside a plan
    * audit's [[Materialize.unrolled]]. */
  private[graft] def publishWith(path: String, refresh: String => Unit)(
      build: String => Unit): Boolean = {
    val dst = new java.io.File(path)
    !dst.exists() && {
      val work = new java.io.File(
        path + ".build-" + java.util.UUID.randomUUID().toString.take(8))
      try {
        Materialize.cutting(build(work.getPath))
        val won = work.renameTo(dst)
        if (won) refresh(path)
        else require(dst.exists(), s"atomic publish of $work failed")
        won
      } finally if (work.exists()) rmTree(work)
    }
  }

  /** Recursive best-effort delete (scenario work dirs, stream scratch,
    * vacuumed change files, stale spill dirs). */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}
