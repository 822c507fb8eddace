package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import scala.jdk.CollectionConverters._

/** Iceberg-STYLE snapshot layout on plain Parquet (no Iceberg runtime jar is
  * available in this environment — documented deviation, SURVEY.md §1.2):
  *
  *   <root>/data/bucket=N/ parquet files      bucketed output data
  *   <root>/_snapshots/v<k>.json           one manifest per committed run
  *   <root>/_snapshots/current             pointer to the latest manifest
  *
  * The manifest is the only record of a commit: its parent, the cumulative
  * completed-bucket set, the output schema (DDL and its md5), and per-bucket
  * lineage (input docs, output rows, wall ms, and the DATA FILES the bucket
  * committed). There is no separate metrics table: the parquet metrics
  * directory that older builds appended next to `_snapshots` is ignored.
  *
  * Semantics matched to Iceberg snapshots at partition granularity:
  * a killed run resumes from the last committed manifest — completed
  * buckets are never recomputed. [[read]] consumes only manifest-listed
  * files, the real Iceberg reader contract — uncommitted/stray files in a
  * committed bucket dir are invisible on read-back, not silently mixed in.
  *
  * Scale notes: buckets are hash partitions of doc_id (`pmod(xxhash64)`),
  * which salts document PLACEMENT uniformly — the defense against
  * large-document skew the north_rule asks for (a doc's sequential dedup
  * can never be split, so placement is the only knob; AQE handles residual
  * size skew within the run). One run processes ALL missing buckets in ONE
  * Spark job (`partitionBy(bucket)` write) and launches no other job, so
  * resume granularity costs no extra jobs.
  */
object SnapshotTable {

  /** One committed bucket's lineage, counted by the write itself (see
    * [[countedByBucket]]), never by a re-scan:
    *   - `n_rows`: output rows of the bucket;
    *   - `n_docs`: distinct non-null `doc_id`s of the bucket within each
    *     write task, summed over tasks. A doc_id hashes to one bucket, so
    *     this equals `countDistinct(doc_id)` per bucket unless one doc_id's
    *     rows land in two tasks, which takes duplicate doc_id input rows
    *     (ExtractionJob treats those as separate documents);
    *   - `wall_ms`: MEASURED per-bucket task time (not run wall / bucket
    *     count): every row's production time is attributed to its bucket,
    *     so skew between buckets is visible.
    */
  final case class BucketLineage(
      bucket: Int, n_docs: Long, n_rows: Long, wall_ms: Long, snapshot_id: Int)

  private val Json = new ObjectMapper()

  private def snapshotsDir(root: String) = Paths.get(root, "_snapshots")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def currentSnapshotId(root: String): Int = {
    val cur = snapshotsDir(root).resolve("current")
    if (!Files.exists(cur)) 0
    else Files.readString(cur).trim.stripPrefix("v").stripSuffix(".json").toInt
  }

  private def manifest(root: String, id: Int): JsonNode =
    Json.readTree(Files.readString(snapshotsDir(root).resolve(s"v$id.json")))

  private def current(root: String): Option[JsonNode] =
    Some(currentSnapshotId(root)).filter(_ > 0).map(manifest(root, _))

  private def textField(m: JsonNode, name: String): Option[String] =
    Option(m.get(name)).filter(_.isTextual).map(_.asText)

  /** Read the cumulative completed-bucket set from the current manifest. */
  def completedBuckets(root: String): Set[Int] =
    current(root).fold(Set.empty[Int])(
      _.path("completed").elements().asScala.map(_.asInt).toSet)

  /** Every committed bucket's lineage with its read paths (relative to
    * `<root>/data`), walking v1 -> current (ids are sequential by
    * construction; buckets commit exactly once, so entries never collide).
    * An entry WITH a `files` list contributes exactly those files (the
    * Iceberg contract); an entry WITHOUT one — written by a pre-file-level
    * build — falls back to its whole `bucket=N/` directory (marker: a path
    * ending in "/"), so resuming a legacy table cannot silently lose the
    * legacy buckets' rows.
    */
  private def committed(root: String): Seq[(BucketLineage, Seq[String])] =
    (1 to currentSnapshotId(root)).flatMap { id =>
      manifest(root, id).path("lineage").elements().asScala.map { e =>
        val b = e.get("bucket").asInt
        val files = Option(e.get("files")).fold(Seq(s"bucket=$b/"))(
          _.elements().asScala.map(f => s"bucket=$b/${f.asText}").toSeq)
        BucketLineage(b, e.get("n_docs").asLong, e.get("n_rows").asLong,
          e.get("wall_ms").asLong, id) -> files
      }
    }

  private def commitSnapshot(root: String, id: Int, completed: Set[Int], ddl: String,
      lineage: Seq[BucketLineage], bucketFiles: Map[Int, Seq[String]]): Unit = {
    val dir = snapshotsDir(root)
    Files.createDirectories(dir)
    val m = Json.createObjectNode()
      .put("snapshot_id", id).put("parent_id", id - 1)
      .put("timestamp", java.time.Instant.now().toString)
      .put("schema_md5", md5Hex(ddl)).put("schema", ddl)
    val done = m.putArray("completed")
    completed.toSeq.sorted.foreach(b => done.add(b))
    val entries = m.putArray("lineage")
    lineage.foreach { l =>
      val files = entries.addObject().put("bucket", l.bucket).put("n_docs", l.n_docs)
        .put("n_rows", l.n_rows).put("wall_ms", l.wall_ms).putArray("files")
      bucketFiles(l.bucket).foreach(f => files.add(f))
    }
    Files.writeString(dir.resolve(s"v$id.json"), Json.writeValueAsString(m), UTF_8)
    // atomic-enough pointer flip (single writer; real Iceberg uses a catalog CAS)
    val tmp = dir.resolve("current.tmp")
    Files.writeString(tmp, s"v$id.json", UTF_8)
    Files.move(tmp, dir.resolve("current"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Resumable bucketed materialization of `pipeline(docs)`:
    * processes only buckets missing from the current snapshot (at most
    * `maxBucketsPerRun` of them, which is how a kill is simulated in tests),
    * appends their data and a new manifest carrying their lineage. Returns
    * the set of buckets completed by THIS run.
    */
  def runResumable(
      docs: DataFrame,
      pipeline: DataFrame => DataFrame,
      root: String,
      nBuckets: Int,
      maxBucketsPerRun: Int = Int.MaxValue)(implicit spark: SparkSession): Set[Int] = {
    val done = completedBuckets(root)
    val missing = (0 until nBuckets).filterNot(done).take(maxBucketsPerRun)
    if (missing.isEmpty) return Set.empty

    val bucketed = docs.withColumn("bucket",
      pmod(xxhash64(col("doc_id")), lit(nBuckets)).cast("int"))
    val subset = bucketed.filter(col("bucket").isin(missing.map(Int.box): _*))
    val out = pipeline(subset.drop("bucket"))
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nBuckets)).cast("int"))

    // refuse to resume a table whose committed rows have a different pipeline
    // output shape (e.g. out dir written by an older code version): mixing
    // schemas would commit fine and only break at sink-derivation time
    val ddl = out.schema.toDDL
    val schemaMd5 = md5Hex(ddl)
    current(root).flatMap(textField(_, "schema_md5")).foreach { prev =>
      require(prev == schemaMd5,
        s"snapshot table at $root was committed with a different pipeline " +
          s"output schema (manifest schema_md5=$prev, current=$schemaMd5); " +
          "refusing to resume — use a fresh --out dir or rerun the old build")
    }

    // Clean uncommitted partials: a kill mid-write leaves bucket dirs with no
    // manifest entry; Iceberg readers only see manifest-listed files — our
    // equivalent is deleting un-snapshotted bucket dirs before reprocessing,
    // which makes resume idempotent.
    for (b <- missing) {
      val dir = Paths.get(root, "data", s"bucket=$b")
      if (Files.exists(dir)) {
        Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }

    val acc = spark.sparkContext.collectionAccumulator[(Int, Long, Long, Long)](LineageAccumulator)
    countedByBucket(out, acc)
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"$root/data")

    // (nanos, rows, docs) per bucket, summed over write tasks; a bucket with
    // zero output rows has no entry (and no dir from partitionBy)
    val counts = acc.value.asScala.groupMapReduce(_._1)(c => (c._2, c._3, c._4)) {
      case ((n1, r1, d1), (n2, r2, d2)) => (n1 + n2, r1 + r2, d1 + d2)
    }
    val id = currentSnapshotId(root) + 1
    val lineage = missing.map { b =>
      val (nanos, rows, docsN) = counts.getOrElse(b, (0L, 0L, 0L))
      BucketLineage(b, docsN, rows, nanos / 1000000L, id)
    }
    // file-level lineage: record exactly the data files this run produced
    // per bucket, so readers see only manifest-listed files (Iceberg's
    // contract) — a stray/partial file later dropped into a committed
    // bucket dir is invisible on read-back
    val bucketFiles = missing.map { b =>
      val d = Paths.get(root, "data", s"bucket=$b")
      val fs =
        if (!Files.exists(d)) Seq.empty[String]
        else {
          val stream = Files.list(d)
          try stream.iterator().asScala
            .filter(Files.isRegularFile(_))
            .map(_.getFileName.toString)
            .filterNot(n => n.startsWith(".") || n.startsWith("_"))
            .toSeq.sorted
          finally stream.close()
        }
      b -> fs
    }.toMap
    commitSnapshot(root, id, done ++ missing, ddl, lineage, bucketFiles)
    missing.toSet
  }

  /** Name of the accumulator that carries the write's per-bucket counts. */
  private[table] val LineageAccumulator = "graft.bucketLineage"

  /** Wrap the bucketed pipeline output with a per-partition iterator that
    * counts, per bucket, each row's PRODUCTION time (the upstream pipeline's
    * hasNext+next work, which is where pull-based whole-stage codegen spends
    * it), its rows, and its distinct doc_ids, and flushes
    * (bucket, nanos, rows, docs) into the accumulator at partition end.
    * It runs in the write's result stage: no extra exchange, no pipeline
    * re-execution, no re-scan; the costs are the Row encode/decode at this
    * single point and a set of the task's doc_ids (one entry per document,
    * while the write's sort on `bucket` already buffers every row).
    *
    * Counts land exactly once per partition: the DAGScheduler merges a
    * result task's accumulator updates only while its output is not yet
    * marked finished (a speculative or resubmitted twin is ignored), and a
    * failed or killed attempt reports only `countFailedValues`
    * accumulators, which a `CollectionAccumulator` is not.
    */
  private def countedByBucket(
      out: DataFrame, acc: CollectionAccumulator[(Int, Long, Long, Long)]): DataFrame = {
    val schema = out.schema
    val bucketIdx = schema.fieldIndex("bucket")
    val docIdx = schema.fieldIndex("doc_id")
    out.mapPartitions { it =>
      new Iterator[Row] {
        // bucket -> (nanos, rows, docs)
        private val agg = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
        private val seen = scala.collection.mutable.HashSet.empty[Any]
        private var pending = 0L
        private var flushed = false
        override def hasNext: Boolean = {
          val t0 = System.nanoTime()
          val h = it.hasNext
          pending += System.nanoTime() - t0
          if (!h && !flushed) {
            flushed = true
            agg.foreach { case (b, c) => acc.add((b, c(0), c(1), c(2))) }
          }
          h
        }
        override def next(): Row = {
          val t0 = System.nanoTime()
          val r = it.next()
          pending += System.nanoTime() - t0
          val c = agg.getOrElseUpdate(r.getInt(bucketIdx), new Array[Long](3))
          c(0) += pending
          c(1) += 1
          if (!r.isNullAt(docIdx) && seen.add(r.get(docIdx))) c(2) += 1
          pending = 0L
          r
        }
      }
    }(Encoders.row(schema))
  }

  /** Read the materialized table back: ONLY the files the manifest chain
    * lists (the Iceberg reader contract) — a stray or partial file sitting
    * in a committed bucket dir is invisible here, exactly as it would be to
    * a real Iceberg reader. `basePath` keeps the `bucket` partition column.
    * The schema comes from the current manifest, so no read infers it, and
    * a table whose committed buckets are all empty reads back as an empty
    * frame of that schema. A manifest from a build that did not record the
    * schema falls back to inference.
    */
  def read(root: String)(implicit spark: SparkSession): DataFrame = {
    val files = committed(root).flatMap(_._2).map(f => s"$root/data/${f.stripSuffix("/")}")
    val reader = spark.read.option("basePath", s"$root/data")
    current(root).flatMap(textField(_, "schema")) match {
      case Some(ddl) => reader.schema(ddl).parquet(files: _*)
      case None if files.isEmpty => spark.read.parquet(s"$root/data") // no/empty snapshot: surface the scan error
      case None => reader.parquet(files: _*)
    }
  }

  /** Per-bucket lineage of every commit, read from the manifest chain. */
  def metrics(root: String)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    committed(root).map(_._1).toDF()
  }
}
