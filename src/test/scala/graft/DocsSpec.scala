package graft

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** The doc-consistency gate (`tools/check_docs.py`) as a test: README's
  * Layout entries, the query counts in README/NOTES/COVERAGE and every
  * `runMain` name must match the source. */
class DocsSpec extends AnyFunSuite {

  test("tools/check_docs.py passes from the repo root") {
    val root = new java.io.File(".").getCanonicalFile
    assert(new java.io.File(root, "tools/check_docs.py").isFile,
      s"run from the repo root, not $root")
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val rc = Process(Seq("python3", "tools/check_docs.py"), root).!(log)
    assert(rc == 0, s"check_docs.py exited $rc:\n$out")
  }
}
