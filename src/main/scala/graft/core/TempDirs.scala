package graft.core

/** Fixture directories of the declared queries.
  *
  * Several queries write a deterministic fixture tree and read it back
  * (i01/i05 scan trees, the i03 site, the i04 workbook, the i06/i07
  * format round-trips, i08's fragments, mm05's shards). All of them
  * live under ONE per-JVM directory created under `java.io.tmpdir`
  * ([[fixtureRoot]]): a read-only query leaves nothing in the caller's
  * working directory, and two JVMs over the same data dir never race
  * on an overwrite-then-read-back.
  *
  * Deletion can't happen eagerly (a query's read-back DataFrame is
  * lazy — consumers may re-scan the directory any time during the
  * session), so the whole root is removed by one shutdown hook.
  */
object TempDirs {

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete()
    ()
  }

  private lazy val jvmRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
      "graft-fixtures-").toAbsolutePath
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(p.toFile) catch { case _: Throwable => () },
      "graft-fixture-cleanup"))
    p
  }

  /** Absolute fixture directory of query family `tag` over data dir
    * `dir`: `<per-JVM root>/<tag>_<dir with non-alphanumerics as _>`.
    * Stable within a JVM; the directory itself is not created. */
  def fixtureRoot(tag: String, dir: String): String =
    jvmRoot.resolve(s"${tag}_${dir.replaceAll("[^A-Za-z0-9]", "_")}").toString
}
