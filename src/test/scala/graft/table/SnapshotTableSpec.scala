package graft.table

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Corpus
import graft.jobs.ExtractionJob
import graft.SparkSpec

/** Kill-and-resume at partition granularity (SURVEY.md §7.5 / north_rule):
  * a run that commits only some buckets must resume from the manifest,
  * complete the rest, and never duplicate or lose rows — including when the
  * kill left uncommitted partial data on disk.
  */
class SnapshotTableSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def pipeline(docs: org.apache.spark.sql.DataFrame) =
    ExtractionJob.outputSpans(docs)(spark)

  test("kill-and-resume: partial run + resume == single full run, no dup rows") {
    val root = Files.createTempDirectory("snap").toString
    val docs = Corpus.docsTable(spark, sfDir)
    val nBuckets = 8

    // "killed" run: commits only 3 buckets
    val first = SnapshotTable.runResumable(docs, pipeline, root, nBuckets, maxBucketsPerRun = 3)
    assert(first.size == 3)
    assert(SnapshotTable.completedBuckets(root) == first)

    // resume: completes the rest, skips committed buckets
    val second = SnapshotTable.runResumable(docs, pipeline, root, nBuckets)
    assert(second.size == nBuckets - 3)
    assert(first.intersect(second).isEmpty)
    assert(SnapshotTable.completedBuckets(root) == (0 until nBuckets).toSet)

    // nothing left to do
    assert(SnapshotTable.runResumable(docs, pipeline, root, nBuckets).isEmpty)

    // resumed table == direct full pipeline output, row for row
    val got = SnapshotTable.read(root).drop("bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    val expected = pipeline(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.length == expected.length)
    assert(got.toSeq == expected.toSeq)

    // lineage metrics cover every bucket exactly once
    val m = SnapshotTable.metrics(root)
    assert(m.select("bucket").distinct().count() == nBuckets)
    assert(m.agg(sum("n_rows")).head.getLong(0) == expected.length.toLong)

    // and the counts taken inside the write equal a re-scan of the table
    val lineage = m.collect()
      .map(r => r.getAs[Int]("bucket") -> (r.getAs[Long]("n_rows") -> r.getAs[Long]("n_docs")))
      .toMap
    val rescan = SnapshotTable.read(root).groupBy("bucket")
      .agg(count(lit(1)), countDistinct(col("doc_id"))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1) -> r.getLong(2))).toMap
    assert(lineage.size == nBuckets)
    assert(lineage.filter(_._2._1 > 0L) == rescan)
  }

  test("runResumable launches no Spark job after its data-write job") {
    import org.apache.spark.scheduler._
    val root = Files.createTempDirectory("snapjobs").toString
    val docs = Corpus.docsTable(spark, sfDir)
    val sc = spark.sparkContext
    // per leg: its jobs, and the stages that carried the write's lineage
    // accumulator; a marker job after each leg flushes the listener
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, Seq[Int]]
    val writeStages = scala.collection.concurrent.TrieMap.empty[Int, Unit]
    @volatile var marker = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("snap-leg") => jobs.put(e.jobId, e.stageIds)
          case Some("snap-marker") => marker += 1
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.accumulables.values
            .exists(_.name.contains(SnapshotTable.LineageAccumulator)))
          writeStages.put(e.stageInfo.stageId, ())
    }
    sc.addSparkListener(listener)
    try {
      for ((max, leg) <- Seq(2, Int.MaxValue).zipWithIndex) {
        jobs.clear()
        sc.setJobGroup("snap-leg", "runResumable")
        assert(SnapshotTable.runResumable(docs, pipeline, root, 4, max).nonEmpty)
        sc.setJobGroup("snap-marker", "marker")
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 30000000000L
        while (marker <= leg && System.nanoTime() < deadline) Thread.sleep(10)
        assert(marker > leg, "listener never saw the marker job")
        val ids = jobs.keys.toSeq.sorted
        val write = ids.filter(j => jobs(j).exists(writeStages.contains))
        assert(write.size == 1, s"leg $leg: jobs $ids, write jobs $write")
        assert(ids.last == write.head,
          s"leg $leg: jobs ${ids.filter(_ > write.head)} ran after the data write")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("an all-empty committed table reads back empty with the pipeline schema") {
    import spark.implicits._
    import graft.jobs.SubmitMain
    import graft.streaming.TestDoc
    val cfg = ExtractionJob.PipelineConfig()
    val dedup = (d: org.apache.spark.sql.DataFrame) => ExtractionJob.dedupWith(d, cfg)
    // null spans are no document: every bucket commits with zero rows
    val empty = (1 to 5).map(i => TestDoc(s"d$i", null)).toDF()
    val root = Files.createTempDirectory("snapempty").toString
    assert(SnapshotTable.runResumable(empty, dedup, root, 4) == (0 until 4).toSet)
    assert(SnapshotTable.metrics(root).collect().forall(_.getAs[Long]("n_rows") == 0L))
    val got = SnapshotTable.read(root)
    assert(got.count() == 0L)

    // the same schema a non-empty table of the same pipeline reads back with
    val full = Files.createTempDirectory("snapfull").toString
    SnapshotTable.runResumable(Corpus.docsTable(spark, sfDir).limit(20), dedup, full, 4)
    assert(got.schema == SnapshotTable.read(full).schema)

    SubmitMain.writeSinks(SubmitMain.Args(out = root, pipeline = cfg, emitReport = true))
    assert(spark.read.parquet(s"$root/output_spans").count() == 0L)
  }

  test("zero-row buckets commit cleanly (no dir from partitionBy, no crash, 0-count lineage)") {
    val root = Files.createTempDirectory("snap3").toString
    // 3 docs hashed into 16 buckets -> most buckets get NO output rows and
    // therefore NO bucket dir; the lineage re-scan must not read them
    val docs = Corpus.docsTable(spark, sfDir).limit(3)
    val nBuckets = 16
    val ran = SnapshotTable.runResumable(docs, pipeline, root, nBuckets)
    assert(ran == (0 until nBuckets).toSet, "ALL buckets commit, including empty ones")
    assert(SnapshotTable.runResumable(docs, pipeline, root, nBuckets).isEmpty)
    val m = SnapshotTable.metrics(root).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("n_rows")).toMap
    assert(m.size == nBuckets)
    assert(m.values.exists(_ == 0L), "empty buckets carry 0-count lineage rows")
    assert(m.values.sum == pipeline(docs).count())
  }

  test("per-bucket lineage wall_ms is measured (non-negative, non-trivial total)") {
    val root = Files.createTempDirectory("snap4").toString
    val docs = Corpus.docsTable(spark, sfDir)
    SnapshotTable.runResumable(docs, pipeline, root, 4)
    val walls = SnapshotTable.metrics(root).collect().map(_.getAs[Long]("wall_ms"))
    assert(walls.length == 4 && walls.forall(_ >= 0L))
    // 500 docs through chunk+simhash dedup is far more than 4 ms of task
    // time; an evenly-divided-zero or unmeasured column would fail this
    assert(walls.sum > 0L, s"expected measured task time, got ${walls.toSeq}")
  }

  test("resume refuses a table written with a different pipeline output schema") {
    val root = Files.createTempDirectory("snap5").toString
    val docs = Corpus.docsTable(spark, sfDir)
    SnapshotTable.runResumable(docs, pipeline, root, 4, maxBucketsPerRun = 2)
    val other = (d: org.apache.spark.sql.DataFrame) =>
      pipeline(d).withColumn("extra", lit(1))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.runResumable(docs, other, root, 4)
    }
    assert(e.getMessage.contains("different pipeline output schema"))
    // and the matching pipeline still resumes fine
    SnapshotTable.runResumable(docs, pipeline, root, 4)
    assert(SnapshotTable.completedBuckets(root) == (0 until 4).toSet)
  }

  test("orphan file in a COMMITTED bucket dir is invisible to read (manifest-listed files only)") {
    val root = Files.createTempDirectory("snap6").toString
    val docs = Corpus.docsTable(spark, sfDir)
    SnapshotTable.runResumable(docs, pipeline, root, 4)
    val before = SnapshotTable.read(root).count()
    // inject an orphan AFTER commit: duplicate a committed part file under a
    // new name inside its own bucket dir (same schema, so a wholesale dir
    // scan would silently double-count it)
    val dataDir = new java.io.File(s"$root/data")
    val bucketDir = dataDir.listFiles().filter(_.isDirectory)
      .find(_.listFiles().exists(f => f.isFile && !f.getName.startsWith("."))).get
    val part = bucketDir.listFiles().filter(f => f.isFile && !f.getName.startsWith(".")).head
    Files.copy(part.toPath, bucketDir.toPath.resolve("part-orphan-deadbeef.snappy.parquet"))
    assert(SnapshotTable.read(root).count() == before,
      "manifest-driven read must not see the orphan file")
    // the fidelity gap this closes: a wholesale directory scan DOES see it
    assert(spark.read.parquet(s"$root/data").count() > before)
  }

  test("uncommitted partial data is discarded on resume (no duplicates)") {
    val root = Files.createTempDirectory("snap2").toString
    val docs = Corpus.docsTable(spark, sfDir)
    val nBuckets = 4

    SnapshotTable.runResumable(docs, pipeline, root, nBuckets, maxBucketsPerRun = 2)
    // simulate a kill AFTER data write but BEFORE manifest commit for bucket 2:
    // write garbage partial data into an uncommitted bucket dir
    val partial = new java.io.File(s"$root/data/bucket=2")
    partial.mkdirs()
    pipeline(docs.limit(5)).drop("doc_id").withColumn("doc_id", lit("zzz"))
      .write.mode("append").parquet(partial.toString)

    SnapshotTable.runResumable(docs, pipeline, root, nBuckets)
    val got = SnapshotTable.read(root).drop("bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    val expected = pipeline(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.toSeq == expected.toSeq, "partial uncommitted data must not leak into the table")
  }

  test("mixed manifest chain: buckets committed by a pre-file-level build stay visible") {
    val root = Files.createTempDirectory("snap3").toString
    val docs = Corpus.docsTable(spark, sfDir)
    val nBuckets = 4

    // v1 commits 2 buckets, then simulate a LEGACY manifest by stripping
    // its per-bucket "files" lists (the pre-file-level format)
    SnapshotTable.runResumable(docs, pipeline, root, nBuckets, maxBucketsPerRun = 2)
    val v1 = java.nio.file.Paths.get(s"$root/_snapshots/v1.json")
    val legacy = Files.readString(v1).replaceAll(""","files":\[[^\]]*\]""", "")
    assert(!legacy.contains("\"files\""), "fixture must strip all files lists")
    Files.writeString(v1, legacy)

    // v2 commits the remaining buckets under the NEW format
    SnapshotTable.runResumable(docs, pipeline, root, nBuckets)

    // read-back must include the legacy buckets (per-bucket dir fallback),
    // not just v2's file-listed ones
    val got = SnapshotTable.read(root).drop("bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    val expected = pipeline(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.length == expected.length,
      s"legacy-committed buckets lost on read-back: ${got.length} vs ${expected.length}")
    assert(got.toSeq == expected.toSeq)
  }

  test("a manifest from a build that recorded no schema reads back and resumes") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val root = Files.createTempDirectory("snap7").toString
    val docs = Corpus.docsTable(spark, sfDir)
    SnapshotTable.runResumable(docs, pipeline, root, 4, maxBucketsPerRun = 2)
    val v1 = java.nio.file.Paths.get(s"$root/_snapshots/v1.json")
    val json = new ObjectMapper()
    val m = json.readTree(Files.readString(v1)).asInstanceOf[ObjectNode]
    assert(m.remove("schema") != null, "fixture must drop the schema field")
    Files.writeString(v1, json.writeValueAsString(m))

    // read-back falls back to inference; resume keeps the schema guard
    assert(SnapshotTable.read(root).count() ==
      SnapshotTable.metrics(root).agg(sum("n_rows")).head.getLong(0))
    SnapshotTable.runResumable(docs, pipeline, root, 4)
    val got = SnapshotTable.read(root).drop("bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    val expected = pipeline(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.toSeq == expected.toSeq)
  }
}
