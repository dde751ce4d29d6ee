package graft.util

/** JVM-scoped scratch directories for driver keys that must materialize
  * an intermediate table (x16's hive-partitioned fact copy, x17's
  * format("graft") table, the merge replay tables) and for the local
  * session's catalog warehouse. Two lifetimes, both swept by ONE
  * shutdown hook so repeated bench/verify runs leave /tmp flat:
  *
  *  - [[cached]]: the content is a deterministic function of the key
  *    (e.g. the source sfDir), so repeated invocations in one JVM
  *    (bench warmup + two timed passes) reuse the first build — the
  *    ordered streaming drain inputs
  *    ([[graft.util.StreamTuning.orderedDrops]]) among them.
  *  - [[fresh]]: the invocation mutates the directory (versioned
  *    writes), so every run gets its own tree; sweep happens at exit.
  */
object Scratch {
  private val swept =
    scala.collection.concurrent.TrieMap.empty[String, Unit]
  private val cachedDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      swept.keys.foreach(p =>
        try rm(new java.io.File(p)) catch { case _: Throwable => () })))

  private def register(dir: String): String = {
    hook
    swept.put(dir, ()); dir
  }

  /** A new temp dir deleted on JVM exit. */
  def fresh(prefix: String): String =
    register(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** The temp dir for `key`, built by `build` on first use in this JVM
    * and reused afterwards; deleted on JVM exit. */
  def cached(key: String, prefix: String)(build: String => Unit): String =
    cachedDirs.getOrElseUpdate(key, {
      val dir = fresh(prefix)
      build(dir)
      dir
    })
}
