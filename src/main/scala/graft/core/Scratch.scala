package graft.core

/** Session-scoped scratch directories for cached parquet builds — the
  * registered [[Substrate]]s and [[graft.multimodal.Multimodal]]'s media
  * fixtures: created once per (JVM, cache key) by a [[Scratch.Memo]] and
  * deleted recursively on JVM exit, so no temp dir outlives the JVM. */
object Scratch {
  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  // registered once, lazily, so JVMs that never build a substrate
  // never pay a shutdown hook
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(p =>
        try deleteRecursively(p) catch { case _: Exception => () })
    }, "graft-scratch-cleanup"))
    true
  }

  /** A fresh temp directory registered for recursive deletion on JVM
    * exit; returned as a plain path string (callers hand it to Spark
    * writers). */
  def tempDir(prefix: String): String = {
    require(hookInstalled)
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }

  /** Normalized cache key for a corpus directory (ADVICE r16): the
    * substrate caches key on the dir STRING, so `dir` vs `dir/` vs a
    * relative spelling would silently double-build the substrate.
    * Local paths canonicalize via the filesystem; strings carrying a
    * URI scheme (e.g. an object-store path on a real cluster) skip
    * local-FS canonicalization (it would mangle them) but still drop
    * trailing slashes — `s3://b/corpus` vs `s3://b/corpus/` is the
    * exact aliasing this helper exists to fix, and it survives on the
    * cluster branch otherwise (ADVICE r17). */
  def corpusKey(dir: String): String =
    if (dir.contains("://")) {
      var k = dir
      while (k.length > 1 && k.endsWith("/")) k = k.stripSuffix("/")
      k
    }
    else try new java.io.File(dir).getCanonicalPath
    catch { case _: java.io.IOException => dir }

  /** A per-corpus cache of built scratch paths: `apply(dir)(build)`
    * runs `build` at most once per [[corpusKey]] — unless two callers
    * race, in which case both build and one result is kept.
    * get/putIfAbsent rather than computeIfAbsent, because a build is a
    * long multi-job Spark pipeline and computeIfAbsent would hold the
    * map's bin lock across all of it. */
  final class Memo {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, String]()

    def apply(dir: String)(build: => String): String = {
      val key = corpusKey(dir)
      val cached = cache.get(key)
      if (cached != null) cached else {
        val built = build
        Option(cache.putIfAbsent(key, built)).getOrElse(built)
      }
    }
  }

  /** Deletes `p` and everything under it. A symlink is removed, never
    * followed, so nothing outside `p` is touched. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p,
        java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = java.nio.file.Files.list(p)
      try s.forEach(c => deleteRecursively(c)) finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }
}
