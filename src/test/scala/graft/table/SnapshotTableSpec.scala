package graft.table

import java.nio.file.Files
import scala.jdk.CollectionConverters._
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
    killAndResume(Files.createTempDirectory("snap").toString)
  }

  test("kill-and-resume with a file: URI root keeps data and manifests under it") {
    val dir = Files.createTempDirectory("snapuri")
    killAndResume(dir.toUri.toString.stripSuffix("/"))
    // the manifests list the data, and went where the data went
    assert(Files.exists(dir.resolve("_snapshots/v2.json")))
    assert(!Files.exists(java.nio.file.Paths.get("file:")),
      "manifests went to a relative file: dir")
  }

  /** Rewrite a table file the way another program would: its Hadoop
    * checksum sidecar no longer matches, so it goes too.
    */
  private def editOutOfBand(p: java.nio.file.Path, text: String): Unit = {
    Files.writeString(p, text)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
  }

  /** The one data dir a committed snapshot's run wrote, `data/v<id>-<uuid>`. */
  private def attemptDir(root: String, id: Int): java.nio.file.Path = {
    val dirs = Files.newDirectoryStream(java.nio.file.Paths.get(root, "data"), s"v$id-*")
    try dirs.iterator().asScala.toList match {
      case Seq(d) => d
      case ds => fail(s"expected one data dir of snapshot $id, found $ds")
    } finally dirs.close()
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.toString).toSeq

  private def killAndResume(root: String): Unit = {
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

  test("the snapshot write plans no sort and commits at most one file per write task") {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Files.createTempDirectory("snapsort").toString
    val docs = Corpus.docsTable(spark, sfDir)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val writeTasks = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var marker = false
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand])) writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val stages = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.accumulables.values
            .exists(_.name.contains(SnapshotTable.LineageAccumulator)))
          writeTasks.addAndGet(e.stageInfo.numTasks)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "sort-marker"))
          marker = true
    }
    spark.listenerManager.register(queries)
    spark.sparkContext.addSparkListener(stages)
    try {
      SnapshotTable.runResumable(docs, pipeline, root, 8)
      spark.sparkContext.setJobGroup("sort-marker", "marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!(marker && writes.size == 1) && System.nanoTime() < deadline) Thread.sleep(10)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.listenerManager.unregister(queries)
      spark.sparkContext.removeSparkListener(stages)
    }
    assert(writes.size == 1, s"expected the one data write, saw ${writes.size}")
    val plan = writes.peek().executedPlan
    val sorts = new AdaptiveSparkPlanHelper {}.collect(plan) { case s: SortExec => s }
    assert(sorts.isEmpty, s"the data write sorts:\n$plan")
    val files = Files.list(attemptDir(root, 1)).iterator()
      .asScala.count(_.getFileName.toString.endsWith(".parquet"))
    assert(files > 0 && files <= writeTasks.get,
      s"$files data files from ${writeTasks.get} write tasks")
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

    val args = SubmitMain.Args(sfDir = sfDir, out = root, pipeline = cfg, emitReport = true)
    SubmitMain.writeSinks(args)
    assert(spark.read.parquet(s"$root/output_spans").count() == 0L)

    // the single-file report carries zero counts, not a null-sum failure
    SubmitMain.writeArtifacts(args)
    val report = Files.readString(java.nio.file.Paths.get(root, "artifacts", "dedupe_report.json"))
    for (k <- Seq("input_chunks", "kept_chunks", "dropped_chunks", "exact_duplicates",
        "near_duplicates"))
      assert(report.contains(s""""$k": 0,"""), s"$k is not 0 in\n$report")
    assert(report.contains("\"dropped\": [],"))
  }

  test("zero-row buckets commit cleanly (no dir from partitionBy, no crash, 0-count lineage)") {
    val root = Files.createTempDirectory("snap3").toString
    // 3 docs hashed into 16 buckets -> most buckets get NO output rows,
    // and still commit with their lineage
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
    // new name inside its own snapshot dir (same schema, so a wholesale dir
    // scan would silently double-count it)
    val bucketDir = attemptDir(root, 1).toFile
    val part = bucketDir.listFiles().filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    Files.copy(part.toPath, bucketDir.toPath.resolve("part-orphan-deadbeef.snappy.parquet"))
    assert(SnapshotTable.read(root).count() == before,
      "manifest-driven read must not see the orphan file")
    // the fidelity gap this closes: a wholesale directory scan DOES see it
    assert(spark.read.parquet(bucketDir.toString).count() > before)
  }

  test("uncommitted partial data is discarded on resume (no duplicates)") {
    val root = Files.createTempDirectory("snap2").toString
    val docs = Corpus.docsTable(spark, sfDir)
    val nBuckets = 4

    SnapshotTable.runResumable(docs, pipeline, root, nBuckets, maxBucketsPerRun = 2)
    // simulate a kill AFTER data write but BEFORE manifest commit of v2:
    // write garbage partial data into the killed attempt's own dir
    val partial = new java.io.File(s"$root/data/v2-killed")
    partial.mkdirs()
    pipeline(docs.limit(5)).drop("doc_id").withColumn("doc_id", lit("zzz"))
      .write.mode("append").parquet(partial.toString)

    SnapshotTable.runResumable(docs, pipeline, root, nBuckets)
    val got = SnapshotTable.read(root).drop("bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    val expected = pipeline(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.toSeq == expected.toSeq, "partial uncommitted data must not leak into the table")
    assert(!partial.exists(), "the commit of v2 deletes the killed attempt's dir")
  }

  test("the next commit deletes a killed attempt's dir at the parent id") {
    val root = Files.createTempDirectory("snap7").toString
    val docs = Corpus.docsTable(spark, sfDir)
    SnapshotTable.runResumable(docs, pipeline, root, 4, maxBucketsPerRun = 2)
    val committed = attemptDir(root, 1)
    // an attempt at v1 killed after v1's commit, before its own cleanup
    val killed = new java.io.File(s"$root/data/v1-killed")
    pipeline(docs.limit(5)).write.parquet(killed.toString)

    SnapshotTable.runResumable(docs, pipeline, root, 4)
    assert(!killed.exists(), "the commit of v2 deletes the unlisted dir at v1")
    assert(attemptDir(root, 1) == committed, "v1's own dir stays")
    assert(rowsOf(SnapshotTable.read(root).drop("bucket")) == rowsOf(pipeline(docs)))
  }

  test("mixed manifest chain: buckets committed by a pre-file-level build stay visible") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val root = Files.createTempDirectory("snap3").toString
    val docs = Corpus.docsTable(spark, sfDir)
    val nBuckets = 4
    val bucketOf = pmod(xxhash64(col("doc_id")), lit(nBuckets)).cast("int")

    // the layout of older builds: rows under data/bucket=N/ via partitionBy,
    // and a manifest whose lineage entries list their bucket's files (v2) or
    // no files at all (v1, the pre-file-level format)
    val json = new ObjectMapper()
    def legacyCommit(id: Int, bucket: Int, listFiles: Boolean): Unit = {
      val out = pipeline(docs.filter(bucketOf === bucket)).withColumn("bucket", bucketOf)
      out.write.mode("append").partitionBy("bucket").parquet(s"$root/data")
      val ddl = out.schema.toDDL
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(ddl.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val m = json.createObjectNode().put("snapshot_id", id).put("parent_id", id - 1)
        .put("timestamp", "2024-01-01T00:00:00Z").put("schema_md5", md5).put("schema", ddl)
      val done = m.putArray("completed")
      (0 to bucket).foreach(b => done.add(b))
      val e = m.putArray("lineage").addObject().put("bucket", bucket)
        .put("n_docs", 0L).put("n_rows", out.count()).put("wall_ms", 0L)
      if (listFiles) {
        val files = e.putArray("files")
        new java.io.File(s"$root/data/bucket=$bucket").list().sorted
          .filterNot(n => n.startsWith(".") || n.startsWith("_")).foreach(n => files.add(n))
      }
      val snaps = java.nio.file.Paths.get(root, "_snapshots")
      Files.createDirectories(snaps)
      Files.writeString(snaps.resolve(s"v$id.json"), json.writeValueAsString(m))
      Files.writeString(snaps.resolve("current"), s"v$id.json")
    }
    legacyCommit(1, 0, listFiles = false)
    legacyCommit(2, 1, listFiles = true)
    assert(SnapshotTable.completedBuckets(root) == Set(0, 1))

    // v3 commits the remaining buckets under the NEW format
    assert(SnapshotTable.runResumable(docs, pipeline, root, nBuckets) == Set(2, 3))

    // read-back must include the legacy buckets (per-bucket dir fallback),
    // not just v3's file-listed ones
    val table = SnapshotTable.read(root)
    assert(table.columns.last == "bucket")
    assert(table.groupBy("bucket").count().collect().map(_.getInt(0)).toSet == Set(0, 1, 2, 3))
    val got = table.drop("bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    val expected = pipeline(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.length == expected.length,
      s"legacy-committed buckets lost on read-back: ${got.length} vs ${expected.length}")
    assert(got.toSeq == expected.toSeq)
  }

  test("a manifest write killed before its rename commits nothing") {
    val root = Files.createTempDirectory("snap8").toString
    val docs = Corpus.docsTable(spark, sfDir)
    SnapshotTable.runResumable(docs, pipeline, root, 4, maxBucketsPerRun = 2)
    // a kill mid-write leaves a truncated temporary manifest, never v2.json
    val snaps = java.nio.file.Paths.get(root, "_snapshots")
    val v1 = Files.readString(snaps.resolve("v1.json"))
    Files.writeString(snaps.resolve(".v2.json.killed"), v1.take(v1.length / 2))
    assert(SnapshotTable.completedBuckets(root).size == 2)
    assert(SnapshotTable.runResumable(docs, pipeline, root, 4).size == 2)
    assert(rowsOf(SnapshotTable.read(root).drop("bucket")) == rowsOf(pipeline(docs)))
  }

  test("an older build's partial manifest past its current is not committed") {
    val docs = Corpus.docsTable(spark, sfDir)
    val expected = rowsOf(pipeline(docs))
    for ((partial, kind) <- Seq(0 -> "empty", 40 -> "truncated")) {
      val root = Files.createTempDirectory("snapold").toString
      SnapshotTable.runResumable(docs, pipeline, root, 4, maxBucketsPerRun = 2)
      // older builds wrote v<k>.json in place, then moved current to it: a
      // kill in between leaves current at v1 and a partial v2.json
      val snaps = java.nio.file.Paths.get(root, "_snapshots")
      Files.writeString(snaps.resolve("current"), "v1.json")
      Files.writeString(snaps.resolve("v2.json"),
        Files.readString(snaps.resolve("v1.json")).take(partial))
      assert(SnapshotTable.completedBuckets(root).size == 2, kind)
      assert(SnapshotTable.read(root).count() ==
        SnapshotTable.metrics(root).agg(sum("n_rows")).head.getLong(0), kind)

      // resume commits v2 over the partial one, and the head is probed after
      assert(SnapshotTable.runResumable(docs, pipeline, root, 4).size == 2, kind)
      assert(!Files.exists(snaps.resolve("current")), kind)
      assert(SnapshotTable.completedBuckets(root) == (0 until 4).toSet, kind)
      assert(rowsOf(SnapshotTable.read(root).drop("bucket")) == expected, kind)
      assert(SnapshotTable.runResumable(docs, pipeline, root, 4).isEmpty, kind)
    }
  }

  test("a second committer of the same snapshot id fails and leaves the first's commit whole") {
    val root = Files.createTempDirectory("snap9").toString
    val docs = Corpus.docsTable(spark, sfDir)
    SnapshotTable.runResumable(docs, pipeline, root, 4, maxBucketsPerRun = 2)
    val v2 = java.nio.file.Paths.get(root, "_snapshots", "v2.json")
    // another run writes and commits v2 after this one read its parent v1
    var winner = ""
    val racing = (d: org.apache.spark.sql.DataFrame) => {
      assert(SnapshotTable.runResumable(docs, pipeline, root, 4) == Set(2, 3))
      winner = Files.readString(v2)
      pipeline(d)
    }
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      SnapshotTable.runResumable(docs, racing, root, 4)
    }
    assert(Files.readString(v2) == winner)
    // the winner's rows read back once each; the loser's data dir is gone
    assert(rowsOf(SnapshotTable.read(root).drop("bucket")) == rowsOf(pipeline(docs)))
    attemptDir(root, 2)
    val left = Files.list(java.nio.file.Paths.get(root, "_snapshots")).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toList.sorted
    assert(left == List("v1.json", "v2.json"), "a temporary manifest was left")
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
    editOutOfBand(v1, json.writeValueAsString(m))

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
