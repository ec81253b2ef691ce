package graft

import java.nio.file.Files
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** The dev scripts' own gates: the oracle check must not pass when it
  * compared nothing, and the A/B tool's verdict logic holds on synthetic
  * result lines. Runs the scripts with the `python3` on the PATH. */
class DevScriptsSpec extends AnyFunSuite {

  private def python(args: String*): (Int, String) = {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    (Process("python3" +: args).!(log), out.toString)
  }

  test("check_oracle.py exits non-zero when the oracle json names no query") {
    val dir = Files.createTempDirectory("oracle-empty")
    Files.writeString(dir.resolve("oracle_sql.json"), "{}")
    val (rc, out) = python("dev/check_oracle.py", dir.toString, dir.toString)
    assert(rc != 0, out)
    assert(out.contains("nothing compared"), out)
  }

  test("ab.py's verdicts (wins, exclusive quartiles, the unresolved rule) hold") {
    val (rc, out) = python("dev/ab.py", "--selftest")
    assert(rc == 0 && out.contains("selftest OK"), out)
  }
}
