package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards on the library layout: the only runnable mains are
  * `Cli`, `Bench` and `Verify` (measurements live in `perfbench/`), and
  * the library packages take no configuration from the environment —
  * options are parameters, so a plan never depends on who runs it.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  test("main methods exist only in Cli, Bench and Verify") {
    assert(Files.isDirectory(root), s"run from the repository root ($root missing)")
    val withMain = scalaFiles(root)
      .filter(p => read(p).contains("def main("))
      .map(p => root.relativize(p).toString).sorted
    assert(withMain === Seq("Bench.scala", "Cli.scala", "Verify.scala"))
  }

  test("library packages never read environment variables") {
    val libs = Seq("ops", "geom", "expr", "model", "sink", "sources")
    libs.foreach(d => assert(Files.isDirectory(root.resolve(d)), s"$d missing"))
    val offenders = libs.flatMap(d => scalaFiles(root.resolve(d))).flatMap { p =>
      read(p).linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains("sys.env") || line.contains("System.getenv") =>
          s"${root.relativize(p)}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
