package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.LogModel

/** The grouped-prefix custom operator (graft.plans.OrderedIndex) must be
  * LAZY: round-3 verdict #2 — the old RDD implementation collected pass-1
  * at DataFrame CONSTRUCTION, charging whichever bench query touched the
  * log first and making per-query times swing 3-5× on unchanged code. */
class PrefixPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Testing.spark
  import spark.implicits._

  test("constructing a prefix-bearing DataFrame launches zero Spark jobs") {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // parquet schema inference may itself run a job — load outside the
    // measured window; the claim under test is about the prefix operator
    val events = LogModel.events(spark, "/root/testdata/sf0.001")
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = LogModel.toLog(events)
      // logical+physical planning included — still no job may run
      df.queryExecution.executedPlan
      Thread.sleep(500) // let any stray async job event land
      assert(jobs.get() === 0,
        s"construction/planning launched ${jobs.get()} job(s)")
      assert(df.filter(col("segment_id") >= 0).count() > 0)
      Thread.sleep(500)
      assert(jobs.get() > 0, "listener sanity: the action ran jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("prefix values match the window-function definition") {
    val df = Seq(
      ("a", 3L, 10L), ("a", 1L, 20L), ("b", 2L, 30L), ("a", 2L, 40L),
      ("b", 1L, 50L), ("c", 9L, 60L)
    ).toDF("g", "ord", "v")
    val got = graft.plans.OrderedIndex
      .withExclusivePrefix(df, Seq("g"), Seq("ord"), Some("v"), "pfx")
      .orderBy("g", "ord").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("a", 1L, 0L), ("a", 2L, 20L), ("a", 3L, 60L),
      ("b", 1L, 0L), ("b", 2L, 50L), ("c", 9L, 0L)))
  }

  test("training_order: seeded permutation via the prefix operator, no window funnel") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.operators.Sampling.trainingOrder(spark, sf)
    // positions are a dense 0-based permutation
    val n = df.count()
    assert(df.agg(min("shuffle_pos"), max("shuffle_pos"), countDistinct("shuffle_pos"))
      .head() match { case r => r.getLong(0) == 0L && r.getLong(1) == n - 1 &&
        r.getLong(2) == n })
    // deterministic: a second construction yields the identical mapping
    val a = df.select("doc_id", "shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = graft.operators.Sampling.trainingOrder(spark, sf)
      .select("doc_id", "shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    // the plan is the custom prefix exec, not a single-partition Window
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedPrefix"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
  }

  test("order_priority_rank plan: partial top-k aggregate, no window over raw orders") {
    val plan = graft.operators.Relational
      .orderPriorityRank(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_structs"),
      "map-side partial top-k must cap shuffle at k rows per class per task")
    assert(!plan.contains("Window"),
      "no partition-count-bounded window may touch raw orders")
  }

  test("offset assignment plans through GroupedPrefixExec with a range exchange") {
    // offsets are assigned where the log is built (the snapshot build),
    // not in the offset_assignment query, which reads them back
    val plan = LogModel.toLog(LogModel.events(spark, "/root/testdata/sf0.001"))
      .select("event_id", "part_id", "msg_offset")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GroupedPrefix")) // physical nodes print w/o "Exec"
    assert(plan.contains("rangepartitioning"),
      "Spark must plan the range exchange from OrderedDistribution")
  }

  test("empty group = global dense index") {
    val df = Seq(5L, 3L, 9L, 1L).toDF("ord")
    val got = graft.plans.OrderedIndex
      .withExclusivePrefix(df, Seq.empty, Seq("ord"), None, "idx")
      .orderBy("ord").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 0L), (3L, 1L), (5L, 2L), (9L, 3L)))
  }
}
