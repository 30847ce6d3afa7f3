package graft

import org.scalatest.funsuite.AnyFunSuite

/** The source censuses, run on this tree: every knob has a README
  * row, `src/main` defines nothing that only tests reach beyond the
  * kept entries named here, and graft installs itself into a session
  * in one place. */
class ToolsSpec extends AnyFunSuite {

  /** (exit code, stdout lines) of `python3 tools/<args>` at the root. */
  private def tool(args: String*): (Int, Seq[String]) = {
    val out = new StringBuilder
    val code = scala.sys.process.Process("python3" +: args)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'),
        _ => ()))
    (code, out.toString.linesIterator.toSeq)
  }

  test("knobs.py --check passes with the 7 documented knobs") {
    val (code, lines) = tool("tools/knobs.py", "--check")
    assert(code == 0, lines.mkString("\n"))
    assert(lines.last == "== 7 knobs, 0 failures ==", lines.mkString("\n"))
  }

  test("reach.py lists exactly the kept test-only definitions") {
    val (code, lines) = tool("tools/reach.py")
    assert(code == 0, lines.mkString("\n"))
    // `path:line kind name  (test refs: n)`, keyed by file and name
    val entries = lines.map { l =>
      val Array(loc, kind, name) = l.split("\\s+").take(3)
      (loc.split(':').head, s"$kind $name")
    }.toSet
    assert(entries == Set(
      "src/main/scala/graft/ops/Materialize.scala" -> "def reapDefaultSpills",
      "src/main/scala/graft/sources/Versioned.scala" -> "def vacuum"),
      lines.mkString("\n"))
  }

  test("only GraftExtensions installs functions or optimizer rules") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val installs =
      "functionRegistry|createOrReplaceTempFunction|extraOptimizations".r
    val offenders = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftExtensions.scala")
      .filter(p => installs.findFirstIn(Files.readString(p)).isDefined)
      .toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
