package graft.queries

/** Query-local fixture directories: built once per (tag, key), cached
  * for the session, under a [[graft.Scratch]] child (deleted on JVM
  * exit). `build` receives the fresh root and returns the path the
  * cache hands out (usually a subdirectory it wrote) — the single
  * implementation of the temp-dir/cleanup shape every fixture-building
  * query shares. The first `build` to run for a (tag, key) wins, so each
  * tag has ONE `build`, passed from one call site: a fixture several
  * queries share sits behind one helper that they all call.
  */
private[queries] object Fixtures {

  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  // NOT computeIfAbsent-with-build: one fixture's build may request
  // another fixture (e.g. the streaming-agg table drains the two-batch
  // events dir), and nested computeIfAbsent on one map throws
  // "Recursive update" whenever the keys share a bin. Per-key locks
  // keep builds exclusive while letting them nest (the dependency
  // graph is acyclic, so no deadlock).
  def cached(tag: String, key: String)(
      build: java.io.File => String): String = {
    val k = s"$tag#$key"
    val hit = dirs.get(k)
    if (hit != null) return hit
    val lock = locks.computeIfAbsent(k, _ => new Object)
    lock.synchronized {
      val again = dirs.get(k)
      if (again != null) again
      else {
        val v = build(graft.Scratch.dir(tag))
        dirs.put(k, v)
        v
      }
    }
  }

  /** Stage a micro-batch feed under `root`: batch i becomes the single
    * file `src/b<i>.parquet`, its mtime pinned i minutes after a fixed
    * epoch — FileStreamSource orders files by modification time, so
    * with `maxFilesPerTrigger` 1 batch i is exactly micro-batch i.
    * Returns the `src` directory to stream from.
    */
  def feed(root: java.io.File,
           batches: Seq[org.apache.spark.sql.DataFrame]): String = {
    val srcDir = new java.io.File(root, "src")
    srcDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = new java.io.File(root, s"tmp$i")
      b.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000000000L + i * 60000L)
    }
    srcDir.toString
  }
}
