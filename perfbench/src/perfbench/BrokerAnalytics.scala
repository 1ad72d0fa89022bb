package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.model.LogModel
import graft.sources.LogTable

/** The lag dashboard: one client runs the BrokerOps rows of
  * `SparkEntry.queries` back to back (closed loop), in seeded rounds. */
final class BrokerAnalytics(job: Job, res: Result, trace: Trace, stats: SparkStats)
    extends Workload(job, res, trace, stats) {

  val queries = Seq("consumer_lag", "consumer_lag_materialized",
    "consumer_lag_multi_topic", "consumer_lag_topic_filter", "watermarks",
    "partition_health", "lag_alerts", "segment_assignment",
    "consume_from_offset", "consume_with_group", "commit_offset_state",
    "retention_filter", "offset_assignment", "key_partitioner_xxh3",
    "log_compaction")

  /** Session start plus the once-per-machine LogTable snapshots, built
    * from scratch: the previous set-up's snapshots are dropped first. */
  private def setUp(): Unit = {
    freshSession()
    LogTable.dropSnapshots(job.data)
    trace.span("sources.log_snapshot", spark) {
      LogTable.ensureMaterialized(spark, job.data)
      LogTable.ensureMaterializedTopicLog(spark, job.data)
    }
  }

  /** One query as the dashboard runs it: build, plan, execute, fetch the
    * result's fingerprint. Traced, plan and execution are child spans. */
  private def runQuery(q: String): String =
    trace.span(s"broker_ops.$q", spark) {
      val df = Harness.checksum(SparkEntry.queries(q)(spark, job.data))
      trace.span("broker_ops.plan", spark)(df.queryExecution.executedPlan)
      trace.span("broker_ops.exec", spark)(Harness.fingerprint(df))
    }

  def run(): Unit = {
    for (_ <- 0 until Settings.setupReps) {
      val t0 = System.nanoTime()
      setUp()
      res.sample("setup_s", Harness.ms(t0) / 1e3)
      Harness.log(s"set-up took ${Harness.ms(t0) / 1e3}s")
    }
    // oracle preparation (untimed): the fingerprint of each query's DuckDB
    // twin, which every result below must match; the twins are independent
    // small jobs, so they run concurrently
    val twin = Harness.parallel(queries) { q =>
      val t = spark.read.parquet(s"${job.twins}/$q.parquet")
      val cols = SparkEntry.queries(q)(spark, job.data).columns.sorted.toSeq
      res.check(cols == t.columns.sorted.toSeq,
        s"$q: columns ${cols.mkString(",")}, twin ${t.columns.sorted.mkString(",")}")
      Harness.fingerprint(Harness.checksum(t))
    }
    def checked(q: String, fp: String): Unit =
      res.check(fp == twin(q), s"$q: fingerprint $fp, DuckDB twin ${twin(q)}")

    // whole rounds, each a seeded order of the query list, until the window
    // is over and at least `minRounds` are done: every run then measures
    // the same multiset of queries
    val rng = new scala.util.Random(job.seed)
    val window = mutable.Map.empty[String, Double]
    def rounds(traced: Boolean, key: String, minRounds: Int, seconds: Double): Unit = {
      trace.enabled = traced
      val start = System.nanoTime()
      var n = 0
      while (n < minRounds || Harness.ms(start) < seconds * 1e3) {
        rng.shuffle(queries).foreach { q =>
          val t0 = System.nanoTime()
          val fp = runQuery(q)
          res.sample(key, Harness.ms(t0))
          checked(q, fp)
        }
        n += 1
      }
      window(key) = window.getOrElse(key, 0.0) + Harness.ms(start) / 1e3
      res.value(s"${key}_window_s", window(key))
    }

    // untimed warm-up, checked as well: whole sequential rounds
    val w0 = System.nanoTime()
    rounds(traced = false, "warmup_ms", Settings.brokerWarmRounds, 0)
    res.value("warmup_s", Harness.ms(w0) / 1e3)
    Harness.log(s"warm-up took ${Harness.ms(w0) / 1e3}s")

    if (!job.trace) rounds(traced = false, "op_ms", Settings.brokerRounds, job.seconds)
    else {
      // one traced round between the two untraced ones, so warm-up drift
      // does not pass for tracing overhead
      rounds(traced = false, "op_ms", 1, 0)
      rounds(traced = true, "traced_op_ms", 1, 0)
      rounds(traced = false, "op_ms", 1, 0)
      trace.enabled = true
      for (_ <- 0 until 3) {
        trace.span("sources.events_scan", spark) {
          LogModel.events(spark, job.data).queryExecution.toRdd.count()
        }
        trace.span("model.to_log", spark) {
          LogModel.toLog(LogModel.events(spark, job.data)).queryExecution.toRdd.count()
        }
      }
      stats.settle(spark)
    }
  }
}
