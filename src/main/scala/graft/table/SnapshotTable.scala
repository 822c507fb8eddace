package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import scala.jdk.CollectionConverters._

/** Iceberg-STYLE snapshot layout on plain Parquet (no Iceberg runtime jar is
  * available in this environment — documented deviation, SURVEY.md §1.2):
  *
  *   <root>/data/v<k>-<uuid>/ parquet files  one attempt at snapshot k
  *   <root>/_snapshots/v<k>.json              one manifest per committed run
  *
  * A run writes its buckets' rows into a dir of its own, `data/v<k>-<uuid>/`,
  * with `bucket` as a data column, one file per write task, and commits by
  * renaming a fully written temporary manifest to `v<k>.json`. The
  * manifest is the only record of a commit: its parent, the cumulative
  * completed-bucket set, the output schema (DDL and its md5), per-bucket
  * lineage (input docs, output rows, wall ms) and the DATA FILES the run
  * wrote, with their byte sizes. The head is the last of v1, v2, … that
  * exists; a killed manifest write leaves only its temporary file, never a
  * partial `v<k>.json`. The rename fails if `v<k>.json` exists, so of two
  * runs committing the same id the second fails and deletes its own dir;
  * the first's files are never touched, since no attempt writes into
  * another's dir. The rename is atomic on HDFS; a local file system checks
  * and then renames, so there two commits in the same instant can both
  * pass the check. After its commit a run deletes the other `v<k>-*` dirs
  * (killed attempts at the same id), which no manifest can list any more,
  * and the `v<k-1>-*` dirs that manifest k-1 does not list (attempts at the
  * parent id killed after its commit, before their own cleanup).
  * All table IO goes through the Hadoop `FileSystem` of `root`, the one
  * Spark writes the data with, so a URI root such as `file:///…` holds the
  * manifests next to the data, as a plain path does.
  *
  * Semantics matched to Iceberg snapshots at partition granularity:
  * a killed run resumes from the last committed manifest — completed
  * buckets are never recomputed. [[read]] consumes only manifest-listed
  * files, the real Iceberg reader contract — uncommitted/stray files in a
  * committed snapshot dir are invisible on read-back, not silently mixed in.
  * Tables of older builds keep reading and resuming: their manifests list
  * files per bucket under `data/bucket=N/`, or none at all, and their
  * `_snapshots/current` names the head (see [[headId]]).
  *
  * Scale notes: buckets are hash partitions of doc_id (`pmod(xxhash64)`),
  * which salts document PLACEMENT uniformly — the defense against
  * large-document skew the north_rule asks for (a doc's sequential dedup
  * can never be split, so placement is the only knob; AQE handles residual
  * size skew within the run). One run processes ALL missing buckets in ONE
  * Spark job (an unpartitioned write that plans no sort) and launches no
  * other job, so resume granularity costs no extra jobs, and the run's file
  * count is bounded by its write tasks, not by tasks times buckets.
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

  private def fileSystem(root: String)(implicit spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapshotsDir(root: String) = new Path(root, "_snapshots")

  private def manifestPath(root: String, id: Int) = new Path(snapshotsDir(root), s"v$id.json")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** The head snapshot id: the last of v1, v2, … that exists. Older builds
    * wrote `v<k>.json` in place and then moved `_snapshots/current` to it,
    * so on their tables `current` names the head and a manifest past it is
    * a killed run's partial write; the first commit of this build drops
    * both (see [[commitSnapshot]]).
    */
  private def headId(fs: FileSystem, root: String): Int = {
    val legacy = legacyHead(root)
    if (fs.exists(legacy))
      readText(fs, legacy).trim.stripPrefix("v").stripSuffix(".json").toInt
    else Iterator.from(1).takeWhile(id => fs.exists(manifestPath(root, id))).size
  }

  private def legacyHead(root: String) = new Path(snapshotsDir(root), "current")

  private def manifest(fs: FileSystem, root: String, id: Int): JsonNode =
    Json.readTree(readText(fs, manifestPath(root, id)))

  private def current(fs: FileSystem, root: String): Option[JsonNode] =
    Some(headId(fs, root)).filter(_ > 0).map(manifest(fs, root, _))

  private def textField(m: JsonNode, name: String): Option[String] =
    Option(m.get(name)).filter(_.isTextual).map(_.asText)

  private def completedIn(m: Option[JsonNode]): Set[Int] =
    m.fold(Set.empty[Int])(_.path("completed").elements().asScala.map(_.asInt).toSet)

  /** Read the cumulative completed-bucket set from the current manifest. */
  def completedBuckets(root: String)(implicit spark: SparkSession): Set[Int] =
    completedIn(current(fileSystem(root), root))

  /** Every committed bucket's lineage and every committed data path
    * (relative to `<root>/data`), walking v1 -> head (ids are sequential
    * by construction; buckets commit exactly once, so entries never
    * collide). A manifest's top-level `files` list is exactly the files
    * its run wrote into `v<k>-<uuid>/`. Older manifests list files per bucket
    * (`bucket=N/<file>`), or — written by a pre-file-level build — none, in
    * which case the whole `bucket=N/` directory is read (marker: a path
    * ending in "/"), so resuming a legacy table cannot silently lose the
    * legacy buckets' rows.
    */
  private def committed(fs: FileSystem, root: String): (Seq[BucketLineage], Seq[String]) = {
    val perSnapshot = (1 to headId(fs, root)).map { id =>
      val m = manifest(fs, root, id)
      val entries = m.path("lineage").elements().asScala.toSeq
      val lineage = entries.map(e => BucketLineage(e.get("bucket").asInt,
        e.get("n_docs").asLong, e.get("n_rows").asLong, e.get("wall_ms").asLong, id))
      val files = Option(m.get("files")) match {
        case Some(listed) => listed.elements().asScala.map(_.get("path").asText).toSeq
        case None => entries.flatMap { e =>
          val b = e.get("bucket").asInt
          Option(e.get("files")).fold(Seq(s"bucket=$b/"))(
            _.elements().asScala.map(f => s"bucket=$b/${f.asText}").toSeq)
        }
      }
      (lineage, files)
    }
    (perSnapshot.flatMap(_._1), perSnapshot.flatMap(_._2))
  }

  /** Commit the rows a run wrote into `attempt`: write the manifest of
    * snapshot `id` under a temporary name and rename it to `v<id>.json`.
    * If that exists, another run committed `id` first: the temporary
    * manifest and `attempt` are deleted, `v<id>.json` is left as it was,
    * and [[FileAlreadyExistsException]] is thrown. `parentDirs` are the
    * data dirs that manifest `id - 1` lists.
    */
  private def commitSnapshot(fs: FileSystem, root: String, id: Int, attempt: Path,
      parentDirs: Set[String], completed: Set[Int], ddl: String, lineage: Seq[BucketLineage],
      files: Seq[(String, Long)]): Unit = {
    val m = Json.createObjectNode()
      .put("snapshot_id", id).put("parent_id", id - 1)
      .put("timestamp", java.time.Instant.now().toString)
      .put("schema_md5", md5Hex(ddl)).put("schema", ddl)
    val done = m.putArray("completed")
    completed.toSeq.sorted.foreach(b => done.add(b))
    val entries = m.putArray("lineage")
    lineage.foreach { l =>
      entries.addObject().put("bucket", l.bucket).put("n_docs", l.n_docs)
        .put("n_rows", l.n_rows).put("wall_ms", l.wall_ms)
    }
    val listed = m.putArray("files")
    files.foreach { case (path, size) => listed.addObject().put("path", path).put("size", size) }
    val target = manifestPath(root, id)
    val tmp = new Path(snapshotsDir(root), s".v$id.json.${java.util.UUID.randomUUID()}")
    writeText(fs, tmp, Json.writeValueAsString(m), overwrite = false)
    // an older build's table: drop its partial manifest past `current`,
    // then `current`, so the head is found by probing from here on
    val legacy = legacyHead(root)
    if (fs.exists(legacy)) {
      fs.delete(target, false)
      fs.delete(legacy, false)
    }
    // the commit: the manifest appears whole, or not at all
    try FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(fs.makeQualified(tmp), fs.makeQualified(target), Options.Rename.NONE)
    catch {
      case e: FileAlreadyExistsException =>
        fs.delete(tmp, false)
        fs.delete(attempt, true)
        throw e
    }
    // v<id> is taken, so no manifest can list another attempt's dir at id,
    // and v<id-1> is committed, so none can list a dir at id-1 that it does
    // not: those are killed attempts' files
    fs.globStatus(new Path(root, s"data/v{${id - 1},$id}-*")).map(_.getPath)
      .filterNot(p => p.getName == attempt.getName || parentDirs(p.getName))
      .foreach(fs.delete(_, true))
  }

  /** Resumable bucketed materialization of `pipeline(docs)`:
    * processes only buckets missing from the current snapshot (at most
    * `maxBucketsPerRun` of them, which is how a kill is simulated in tests),
    * writes their rows into a dir of this attempt and commits a new manifest
    * carrying their lineage and files. Returns the set of buckets completed
    * by THIS run.
    */
  def runResumable(
      docs: DataFrame,
      pipeline: DataFrame => DataFrame,
      root: String,
      nBuckets: Int,
      maxBucketsPerRun: Int = Int.MaxValue)(implicit spark: SparkSession): Set[Int] = {
    val fs = fileSystem(root)
    val parent = headId(fs, root)
    val head = Option.when(parent > 0)(manifest(fs, root, parent))
    val done = completedIn(head)
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
    head.flatMap(textField(_, "schema_md5")).foreach { prev =>
      require(prev == schemaMd5,
        s"snapshot table at $root was committed with a different pipeline " +
          s"output schema (manifest schema_md5=$prev, current=$schemaMd5); " +
          "refusing to resume — use a fresh --out dir or rerun the old build")
    }

    val id = parent + 1
    val dataDir = new Path(root, s"data/v$id-${java.util.UUID.randomUUID()}")

    val acc = spark.sparkContext.collectionAccumulator[(Int, Long, Long, Long)](LineageAccumulator)
    countedByBucket(out, acc).write.parquet(dataDir.toString)

    // (nanos, rows, docs) per bucket, summed over write tasks; a bucket with
    // zero output rows has no entry
    val counts = acc.value.asScala.groupMapReduce(_._1)(c => (c._2, c._3, c._4)) {
      case ((n1, r1, d1), (n2, r2, d2)) => (n1 + n2, r1 + r2, d1 + d2)
    }
    val lineage = missing.map { b =>
      val (nanos, rows, docsN) = counts.getOrElse(b, (0L, 0L, 0L))
      BucketLineage(b, docsN, rows, nanos / 1000000L, id)
    }
    // the one listing: exactly the data files this run wrote, so readers see
    // only manifest-listed files (Iceberg's contract)
    val files = fs.listStatus(dataDir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
      .map(s => s"${dataDir.getName}/${s.getPath.getName}" -> s.getLen)
      .sortBy(_._1)
    val parentDirs = head.toSet[JsonNode].flatMap(_.path("files").elements().asScala
      .map(_.get("path").asText.takeWhile(_ != '/')))
    commitSnapshot(fs, root, id, dataDir, parentDirs, done ++ missing, ddl, lineage, files)
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
    * single point and a set of the task's doc_ids (one entry per document;
    * the unpartitioned write itself buffers no rows).
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
    * in a committed snapshot dir is invisible here, exactly as it would be
    * to a real Iceberg reader, and no directory is scanned for files. Files
    * in older builds' `bucket=N/` dirs are read with `basePath`, which turns
    * the dir name back into the `bucket` column, and are unioned by name
    * with the rest. The schema comes from the current manifest, so no read infers
    * it, and a table whose committed buckets are all empty reads back as an
    * empty frame of that schema. A manifest from a build that did not
    * record the schema falls back to inference.
    */
  def read(root: String)(implicit spark: SparkSession): DataFrame = {
    val fs = fileSystem(root)
    val data = new Path(root, "data").toString
    val schema = current(fs, root).flatMap(textField(_, "schema"))
    val (legacy, flat) = committed(fs, root)._2.partition(_.startsWith("bucket="))
    def scan(files: Seq[String], reader: DataFrameReader) =
      schema.fold(reader)(reader.schema).parquet(files.map(f => s"$data/${f.stripSuffix("/")}"): _*)
    val scans = Seq(flat -> spark.read, legacy -> spark.read.option("basePath", data))
      .collect { case (files, reader) if files.nonEmpty => scan(files, reader) }
    if (scans.nonEmpty) scans.reduce(_ unionByName _)
    else if (schema.isDefined) scan(Nil, spark.read)
    else spark.read.parquet(data) // no/empty snapshot: surface the scan error
  }

  /** Per-bucket lineage of every commit, read from the manifest chain. */
  def metrics(root: String)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    committed(fileSystem(root), root)._1.toDF()
  }
}
