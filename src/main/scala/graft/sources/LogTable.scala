package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The PRODUCTION storage story the log-model scaladocs reference: offsets
  * are assigned once at ingest (streaming or Broker.produce) and then
  * MATERIALIZED as a parquet table partitioned by part_id — so every batch
  * query reads them as data instead of recomputing the assignment window.
  *
  * This is the Spark mapping of the reference's on-disk hierarchy
  * (topic dir → partition dir → segments, `topic.rs:21-26`): directory
  * partitioning plays the partition dirs, `maxRecordsPerFile` plays
  * segment rotation, and parquet row-group stats play the sparse index
  * (SURVEY §1.3) — consume-style predicates prune partitions AND skip
  * row groups with zero custom code.
  */
object LogTable {

  /** Rotation analog: records per parquet file within a partition dir. */
  val RecordsPerFile = 4096

  def materialize(log: DataFrame, path: String,
                  recordsPerFile: Int = RecordsPerFile): Unit =
    log.write.mode("overwrite")
      .partitionBy("part_id")
      .option("maxRecordsPerFile", recordsPerFile.toLong)
      .parquet(path)

  /** Consume-style pruned scan: `WHERE part_id = p AND msg_offset >= o`
    * hits only one partition directory (partition pruning) and skips row
    * groups below the offset (parquet min/max stats) — the Spark analog of
    * the reference's segment floor-seek (`partition.rs:144-165`). */
  def scanFrom(spark: SparkSession, path: String, partId: Long,
               fromOffset: Long): DataFrame =
    spark.read.parquet(path)
      .filter(col("part_id") === partId && col("msg_offset") >= fromOffset)

  /** Bump when the SEMANTICS or the stored columns of toLog/toTopicLog
    * change — the materialized cache below would otherwise serve stale
    * offsets across builds. v2: the log carries `bytes_before` and
    * `segment_id`, and every snapshot records its schema. */
  private val SemanticsVersion = 2

  /** The build's schema as JSON, next to the parquet files (the leading
    * underscore keeps it out of Spark's file listing). [[readLog]] hands
    * it to `spark.read.schema`, so no query pays a schema-inference job. */
  val SchemaFile = "_schema.json"

  /** Materialize the sfDir's log once per machine (marker-checked) and
    * return its path — the read path of every BrokerOps query that needs
    * the log: offsets and segments as DATA, assigned once, never
    * recomputed per query. The cache key includes a fingerprint of the
    * input files (size + mtime), so REGENERATED testdata at the same path
    * invalidates the snapshot instead of silently serving stale offsets. */
  def ensureMaterialized(spark: SparkSession, sfDir: String): String =
    ensureSnapshot(spark, sfDir, "logtable", Seq("part_id")) {
      graft.model.LogModel.toLog(graft.model.LogModel.events(spark, sfDir))
    }

  /** The TOPIC-dimensioned snapshot (topic dir → partition dir, exactly
    * the reference's on-disk hierarchy `topic.rs:21-26`): offsets assigned
    * per (topic, part_id) by `toTopicLog`, stored partitioned by both —
    * topic-filtered consumers prune whole topic directories. Read path of
    * the multi-topic lag rows. */
  def ensureMaterializedTopicLog(spark: SparkSession, sfDir: String): String =
    ensureSnapshot(spark, sfDir, "topiclog", Seq("topic", "part_id")) {
      graft.model.LogModel.toTopicLog(graft.model.LogModel.events(spark, sfDir))
    }

  private def tagOf(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9]", "_")

  private def tmpRoot: java.io.File = new java.io.File(System.getProperty("java.io.tmpdir"))

  /** A snapshot is complete only once both the writer's `_SUCCESS` and the
    * schema file exist; anything less is rebuilt, never read by inference. */
  private[graft] def isComplete(path: String): Boolean =
    new java.io.File(path, "_SUCCESS").exists() &&
      new java.io.File(path, SchemaFile).exists()

  private def ensureSnapshot(spark: SparkSession, sfDir: String,
                             variant: String, partitionCols: Seq[String])(
      build: => DataFrame): String = synchronized {
    val src = new java.io.File(s"$sfDir/events.parquet")
    val parts: Seq[java.io.File] =
      if (src.isDirectory) src.listFiles().toSeq.sortBy(_.getName) else Seq(src)
    val fp = java.lang.Long.toHexString(
      parts.foldLeft(17L)((h, f) => ((h * 31 + f.length) * 31) + f.lastModified))
    val name = s"graft_${variant}_v$SemanticsVersion${tagOf(sfDir)}_$fp"
    val path = new java.io.File(tmpRoot, name).getPath
    if (!isComplete(path)) {
      val df = build
      df.write.mode("overwrite")
        .partitionBy(partitionCols: _*)
        .option("maxRecordsPerFile", RecordsPerFile.toLong)
        .parquet(path)
      val tmp = Paths.get(path, s"$SchemaFile.tmp")
      Files.write(tmp, df.schema.json.getBytes(UTF_8))
      Files.move(tmp, Paths.get(path, SchemaFile), StandardCopyOption.ATOMIC_MOVE)
      // a regenerated input or a semantics-version bump strands older
      // snapshots of this sfDir — sweep them so tmpdir doesn't grow
      // without bound. AFTER the new snapshot is complete, never before
      // (r17 data-plane review #6): sweeping first and then failing the
      // build (disk full, kill mid-write) left the machine with NO
      // working snapshot.
      snapshotDirs(variant, sfDir).filter(_.getName != name)
        .foreach(deleteRecursively)
    }
    path
  }

  /** Every snapshot directory of (variant, sfDir) in tmpdir, of ANY
    * semantics version. The whole name is matched — variant, version
    * digits, the sfDir tag, then the fingerprint — so dropping
    * `/data/sf1` never deletes `/data/sf10`'s snapshots (r17 review #5)
    * and a version bump still finds the older versions' directories. */
  private def snapshotDirs(variant: String, sfDir: String): Seq[java.io.File] = {
    val re = (s"graft_${Pattern.quote(variant)}_v\\d+" +
      s"${Pattern.quote(tagOf(sfDir))}_[0-9a-f]+").r
    Option(tmpRoot.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .filter(f => re.matches(f.getName))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Delete this sfDir's materialized snapshot(s), of every semantics
    * version, so the next [[ensureMaterialized]]/
    * [[ensureMaterializedTopicLog]] call REBUILDS — the bench's
    * artifact-row cache-dropper (r17): the snapshots are once-per-MACHINE,
    * so without a dedicated artifact row whichever query ran first on a
    * fresh machine silently paid the build inside its own timing.
    * `variant` scopes the drop ("logtable" / "topiclog"; empty = both) so
    * one artifact row's trials don't destroy the sibling row's freshly
    * built snapshot. */
  def dropSnapshots(sfDir: String, variant: String = ""): Unit =
    synchronized {
      val variants =
        if (variant.isEmpty) Seq("logtable", "topiclog") else Seq(variant)
      variants.flatMap(snapshotDirs(_, sfDir)).foreach(deleteRecursively)
    }

  /** Read a complete snapshot back with the schema its build recorded:
    * no schema-inference job, the partition-dir columns typed as built
    * (`part_id` LONG), and parquet column pruning narrowing `ReadSchema`
    * to what each query touches. */
  def readLog(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path, SchemaFile)
    require(f.exists(), s"$path is not a complete log snapshot: no $SchemaFile")
    val json = new String(Files.readAllBytes(f.toPath), UTF_8)
    spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
      .parquet(path)
  }
}
