package graft

/** The engine's one owner of local scratch space: a per-JVM parent
  * directory under `java.io.tmpdir`, created on first use and removed
  * recursively by ONE shutdown hook. Every temporary directory the
  * engine makes (spill root, query fixtures, stream checkpoints and
  * snapshots) is a child of it, so nothing it makes outlives the JVM,
  * and a long-lived session's footprint is one directory anyone can
  * list ([[list]]) or size. A deleted directory takes its tables'
  * schema and footer-envelope cache entries with it.
  */
private[graft] object Scratch {

  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(r.toFile)))
    r
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A fresh, empty child directory `<prefix>-<n>` of the root. */
  def dir(prefix: String): java.io.File =
    java.nio.file.Files.createDirectory(
      root.resolve(s"$prefix-${seq.incrementAndGet()}")).toFile

  /** Names of the root's children, sorted. */
  def list(): Seq[String] =
    Option(root.toFile.list()).map(_.toSeq.sorted).getOrElse(Nil)

  /** Delete `f` and everything under it (a missing `f` is a no-op),
    * and drop the table caches' entries under it ([[Tables.forgetUnder]]).
    */
  def delete(f: java.io.File): Unit = { rm(f); Tables.forgetUnder(f) }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }
}
