package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Rules on the library source itself: tuning is typed `spark.graft.*`
  * session conf, so no operator, kernel, function, table or streaming code
  * reads the process environment. Only the mains (Bench, BenchExtra,
  * tools, jobs) may.
  */
class SourceRulesSpec extends AnyFunSuite {

  test("no environment reads under ops, kernel, functions, table or streaming") {
    val env = """sys\.env|System\.getenv""".r
    val hits = for {
      pkg <- Seq("ops", "kernel", "functions", "table", "streaming")
      dir = Paths.get("src/main/scala/graft", pkg)
      _ = assert(Files.isDirectory(dir), s"missing source dir $dir")
      f <- scalaFiles(dir)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if env.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("environment reads:\n", "\n", ""))
  }

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }
}
