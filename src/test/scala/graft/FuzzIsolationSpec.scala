package graft

import org.scalatest.funsuite.AnyFunSuite

/** The differential-fuzz harness (`graft.fuzz.*`, `graft.Fuzz`, SqlFuzz,
  * NestedFuzz) lives in the test source set, so the compiler already
  * stops engine code from referencing it. What the compiler does not stop
  * is harness code being added back under `src/main`, where it would
  * ship with the engine; this spec pins that. */
class FuzzIsolationSpec extends AnyFunSuite {

  test("no graft.fuzz package and no Fuzz object under src/main") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = walk(new java.io.File("src/main/scala")).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      text.linesIterator.exists(_.trim == "package graft.fuzz") ||
        "(?m)^\\s*object Fuzz(\\b|[A-Z])".r.findFirstIn(text).isDefined
    }
    assert(offenders.isEmpty,
      "fuzz harness under src/main: " + offenders.map(_.getPath).mkString(", "))
  }
}
