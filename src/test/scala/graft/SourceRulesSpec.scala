package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Rules on the library source itself: tuning is typed `spark.graft.*`
  * session conf, so no operator, kernel, function, table or streaming code
  * reads the process environment (only the mains — Bench, BenchExtra,
  * tools, jobs — may), an intermediate is materialized one way, through
  * `Bridge.reused` (the connected components' RDD blocks and the two
  * streaming micro-batch scopes keep their own persists, each released by
  * its owner), concurrent Spark jobs are run one way, through
  * `Bridge.concurrently`, Markdown is rendered one way, by the kernel, the
  * snapshot table does its IO through the Hadoop `FileSystem`, and the
  * connected components build no keyed RDD aggregate or join, and the
  * band join of the near-duplicate search has one owner.
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

  test("no local checkpoint anywhere under src/main") {
    // an intermediate read twice goes through Bridge.reused, which keeps
    // lineage; a local checkpoint's lost block fails every later action
    val rule = "localCheckpoint".r
    val hits = for {
      f <- scalaFiles(Paths.get("src/main"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if rule.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("local checkpoints:\n", "\n", ""))
  }

  test("an intermediate is kept one way: no checkpoint dir or call, and persist only in its owners") {
    // Bridge.reused keeps lineage and is freed with its frame; the CC
    // blocks are released round by round, and each streaming micro-batch
    // releases its persist in a finally, where a frame left to the
    // ContextCleaner would hold storage until the driver's next GC. A
    // checkpoint dir option or a reliable checkpoint is a second way.
    val checkpoint = """\bcheckpoint(Dir|\()""".r
    val owners = Set("Bridge.scala", "LshDedup.scala", "StreamingBoilerplate.scala",
      "StreamingScreen.scala")
    val hits = for {
      f <- scalaFiles(Paths.get("src/main"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if checkpoint.findFirstIn(line).isDefined ||
        (line.contains(".persist(") && !owners(f.getFileName.toString))
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("a second way to keep an intermediate:\n", "\n", ""))
  }

  test("no thread pool, Future or parallel collection under src/main outside Bridge") {
    // concurrent Spark jobs go through Bridge.concurrently, which hands the
    // caller's job group, description and scheduler pool to every job; a
    // shared pool's threads keep whatever properties they were born with
    val rule = """Executors|ThreadPool|ForkJoin|ExecutionContext|Future\b|\.par\b|new Thread\b""".r
    val hits = for {
      f <- scalaFiles(Paths.get("src/main"))
      if f.getFileName.toString != "Bridge.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if rule.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("concurrency outside Bridge:\n", "\n", ""))
  }

  test("the Markdown layout is written only in TextKernel and the DuckDB oracle") {
    // one renderer: every Markdown sink goes through the kernel; the
    // oracle SQL in Queries is the other engine's independent encoding
    val rule = """Extracted Notes|<!-- """.r
    val allowed = Set(Paths.get("src/main/scala/graft/kernel/TextKernel.scala"),
      Paths.get("src/main/scala/graft/Queries.scala"))
    val hits = for {
      f <- scalaFiles(Paths.get("src/main"))
      if !allowed.contains(f)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if rule.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("Markdown layout outside the kernel:\n", "\n", ""))
  }

  test("table IO goes through the Hadoop FileSystem and the table write has no partitionBy") {
    // java.nio.file cannot reach a file:, hdfs: or s3a: root; a per-bucket
    // partitionBy sorts every write task's rows and writes a file per bucket
    val rule = """java\.nio\.file|partitionBy""".r
    val hits = for {
      f <- scalaFiles(Paths.get("src/main/scala/graft/table"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if rule.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      hits.mkString("table IO outside FileSystem or a partitioned write:\n", "\n", ""))
  }

  test("LshDedup calls no keyed RDD aggregate or join") {
    // each builds a size-tracked map per task whose size sampling re-walks
    // its records as it grows; clusterWinners joins by zipPartitions over
    // hash blocks instead. DataFrame joins (a Seq of columns) stay allowed.
    val rule = ("""\b(reduceByKey|aggregateByKey|combineByKey|foldByKey|groupByKey|cogroup|""" +
      """leftOuterJoin|rightOuterJoin|fullOuterJoin|subtractByKey)\b|""" +
      """\.join\(\s*[\w.]+\s*,\s*[\w.]+\s*\)""").r
    val f = Paths.get("src/main/scala/graft/ops/LshDedup.scala")
    val hits = for {
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if rule.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("keyed RDD aggregates or joins:\n", "\n", ""))
  }

  test("the (band, band_key) join is written once, in LshDedup.bandPairs") {
    // one owner keeps one band layout, one Hamming filter and one
    // lowest-shared-band rule, so no caller sees a pair once per band
    val rule = """Seq\(\s*"band"\s*,\s*"band_key"\s*\)""".r
    val hits = for {
      f <- scalaFiles(Paths.get("src/main"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if rule.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.size == 1 && hits.head.startsWith("src/main/scala/graft/ops/LshDedup.scala:"),
      hits.mkString("band joins:\n", "\n", ""))
  }

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }
}
