package graft.catalog

/** Temp-directory helpers for the test source set: the one recursive
  * delete (`SparkSpec.tmpDir`, the stream surface's checkpoint-kill
  * round) and a directory removed at JVM exit for specs that materialize
  * a derived fixture (SkewFixtureSpec, NullGenSpec). */
private[graft] object TestDirs {

  def rmTree(f: java.io.File): Unit = if (f.exists) {
    val kids = f.listFiles
    if (kids != null) kids.foreach(rmTree)
    f.delete(): Unit
  }

  /** Create a temp dir removed at JVM exit. `prefix` must not contain
    * marker substrings plan-grepping tests assert on (e.g. "skew" —
    * FileScan Locations leak paths into plan strings). */
  def tempDirCleanedAtExit(prefix: String): String = {
    val out = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(out.toFile)))
    out.toString
  }
}
