package graft

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** The reachability census (scripts/reach.py) as a tier-1 check: every
  * src/main member that only specs reach is either on the script's
  * allow-list, with its reason, or deleted.
  */
class CensusSpec extends AnyFunSuite {

  test("scripts/reach.py exits 0: no src/main member is reached only by specs") {
    val out = new StringBuilder
    val log = ProcessLogger(l => out ++= l += '\n', l => out ++= l += '\n')
    // tests run forked with the build root as the working directory
    val rc = Process(Seq("python3", "scripts/reach.py"), new java.io.File(sys.props("user.dir")))
      .!(log)
    assert(rc == 0, s"scripts/reach.py exited $rc:\n$out")
  }
}
