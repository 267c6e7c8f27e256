package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: the [[GraftSession]] set-up on a
  * fixed 4 cores, so SQL text in specs can call the `graft_*` functions. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSpec.session
    // fail FAST with a diagnosis when the shared context was stopped
    // under us (r16: the test JVM began shutting down mid-suite and every
    // remaining test died inside operator internals with "cannot call
    // methods on a stopped SparkContext" — this names the real cause)
    if (s.sparkContext.isStopped)
      fail("shared SparkContext is stopped — the test JVM is shutting " +
        "down (timeout/kill?); remaining suites cannot run. See r16 " +
        "VERDICT item 2.")
    s
  }
  /** A fresh temp directory, deleted with everything in it once the
    * suite has run. */
  def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toFile
    tmpDirs.synchronized(tmpDirs += d)
    d.getAbsolutePath
  }
  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  override def afterAll(): Unit =
    try tmpDirs.synchronized(tmpDirs.foreach(graft.catalog.TestDirs.rmTree))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .appName("graft-test").getOrCreate()
}
