package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.model.LogModel
import graft.operators.BrokerOps
import graft.plans.OrderedIndex
import graft.sources.LogTable

/** The materialized log is the BrokerOps read path: offsets and segments
  * are assigned once, in one multi-output prefix pass, stored with their
  * schema, and every broker row reads them back. This spec pins that the
  * one pass equals the separate passes it replaced, that every snapshot
  * row equals the same query over the recomputed log, and that snapshot
  * directories are only read when complete and current. */
class LogSnapshotSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Testing.spark

  val sf = "/root/testdata/sf0.001"

  /** toLog's input to the prefix: part_id and record_size, no offsets. */
  private def prefixInput(s: SparkSession): DataFrame =
    LogModel.events(s, sf)
      .withColumn("part_id",
        pmod(LogModel.portableHash(col("user_id")), lit(4L)).cast("long"))
      .withColumn("record_size",
        (lit(32) + octet_length(col("user_id").cast("string")) +
          octet_length(col("props"))).cast("long"))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def multiEqualsSingle(s: SparkSession): Unit = {
    val in = prefixInput(s)
    val keys = Seq("part_id")
    val order = Seq("ts", "event_id")
    val multi = OrderedIndex.withExclusivePrefixes(in, keys, order,
      Seq(None -> "msg_offset", Some("record_size") -> "bytes_before"))
    val single = OrderedIndex.withExclusivePrefix(
      OrderedIndex.withExclusivePrefix(in, keys, order, None, "msg_offset"),
      keys, order, Some("record_size"), "bytes_before")
    val cols = Seq("event_id", "part_id", "msg_offset", "bytes_before")
      .map(col)
    val got = sorted(multi.select(cols: _*))
    assert(got.nonEmpty)
    assert(got === sorted(single.select(cols: _*)))
    // toLog is that pass, with segment_id derived from its byte prefix
    val log = LogModel.toLog(LogModel.events(s, sf))
    assert(sorted(log.select(cols: _*)) === got)
    assert(log.filter(col("segment_id") =!=
      floor(col("bytes_before") / lit(LogModel.SegmentMaxBytes))).count() === 0)
  }

  test("a two-output prefix equals two single-output passes at sf0.001") {
    multiEqualsSingle(spark)
  }

  test("a two-output prefix equals two single-output passes across several tasks") {
    // no AQE coalescing: the range exchange keeps all 7 partitions, so
    // pass 2 adds per-task bases carried over from earlier tasks
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "7")
    val tasks = OrderedIndex.withExclusivePrefixes(prefixInput(s),
        Seq("part_id"), Seq("ts", "event_id"), Seq(None -> "msg_offset"))
      .select(spark_partition_id().as("pid")).distinct().count()
    assert(tasks > 1, s"the input ran as $tasks task(s)")
    multiEqualsSingle(s)
  }

  /** Every SparkEntry row that reads a log snapshot. */
  val snapshotRows: Seq[String] = Seq(
    "offset_assignment", "key_partitioner", "watermarks", "consumer_lag",
    "consumer_lag_materialized", "consumer_lag_multi_topic",
    "consumer_lag_multi_topic_materialized", "consumer_lag_topic_filter",
    "log_compaction", "partition_health", "segment_assignment",
    "consume_from_offset", "consume_with_group", "commit_offset_state",
    "retention_filter", "lag_alerts")

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("every snapshot row equals the same query over the recomputed log") {
    snapshotRows.foreach { q =>
      val snap = SparkEntry.queries(q)(spark, sf)
      val fresh = BrokerOps.recomputeLog.withValue(true) {
        SparkEntry.queries(q)(spark, sf)
      }
      // the two really are different read paths
      assert(!planOf(snap).contains("GroupedPrefix"), s"$q recomputes the log")
      assert(planOf(fresh).contains("GroupedPrefix"), s"$q: recompute not planned")
      val got = sorted(snap)
      assert(got.nonEmpty, q)
      assert(got === sorted(fresh), s"$q: snapshot rows differ from the recompute")
    }
  }

  test("snapshot reads use the recorded schema: no inference job, narrow ReadSchema") {
    val path = LogTable.ensureMaterialized(spark, sf)
    assert(LogTable.isComplete(path))
    assert(LogTable.readLog(spark, path).schema("part_id").dataType === LongType)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = BrokerOps.consumerLag(spark, sf)
      df.queryExecution.executedPlan
      Thread.sleep(500)
      assert(jobs.get() === 0, s"building consumer_lag ran ${jobs.get()} job(s)")
      // part_id comes from the directory names; only msg_offset is read
      assert(planOf(df).contains("ReadSchema: struct<msg_offset:bigint>"),
        planOf(df).take(3000))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A private copy of sf0.001's events, so its snapshots are this
    * test's own. */
  private def scratchSfDir(): String = {
    val dir = Files.createTempDirectory("flyq-snapshot-sf").toFile
    val src = new File(sf, "events.parquet")
    val dst = new File(dir, "events.parquet")
    if (src.isDirectory) {
      dst.mkdir()
      src.listFiles().foreach(f => Files.copy(f.toPath, new File(dst, f.getName).toPath))
    } else Files.copy(src.toPath, dst.toPath)
    dir.getPath
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  private def fakeSnapshot(name: String): File = {
    val d = new File(System.getProperty("java.io.tmpdir"), name)
    d.mkdirs()
    Files.write(new File(d, "_SUCCESS").toPath, Array.emptyByteArray)
    d
  }

  test("incomplete or older-version snapshots are rebuilt or swept, never read") {
    val dir = scratchSfDir()
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = LogTable.ensureMaterialized(spark, dir)
    val expected = sorted(LogTable.readLog(spark, path))
    val older = fakeSnapshot(s"graft_logtable_v1${tag}_abc123")
    val sibling = fakeSnapshot(s"graft_logtable_v1${tag}0_abc123")
    try {
      // no schema file: not complete, so not readable and rebuilt on use
      val schema = new File(path, LogTable.SchemaFile)
      assert(schema.delete())
      assert(!LogTable.isComplete(path))
      intercept[IllegalArgumentException](LogTable.readLog(spark, path))
      val marker = new File(path, "_stale_marker")
      assert(marker.createNewFile())
      assert(LogTable.ensureMaterialized(spark, dir) === path)
      assert(LogTable.isComplete(path))
      assert(!marker.exists(), "the incomplete snapshot was reused, not rebuilt")
      assert(sorted(LogTable.readLog(spark, path)) === expected)
      // the rebuild swept the older version of this sfDir, not a sibling's
      assert(!older.exists(), "older-version snapshot not swept")
      assert(sibling.exists(), "a sibling sfDir's snapshot was swept")
      // dropSnapshots removes every version of this sfDir only
      val olderTopic = fakeSnapshot(s"graft_topiclog_v1${tag}_def456")
      LogTable.dropSnapshots(dir)
      assert(!new File(path).exists() && !olderTopic.exists())
      assert(sibling.exists())
    } finally {
      LogTable.dropSnapshots(dir)
      Seq(older, sibling, new File(dir)).foreach(deleteTree)
    }
  }
}
