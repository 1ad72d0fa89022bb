package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What run.py hands the JVM: `--key value` pairs. */
final case class Job(workload: String, data: String, work: String, out: String,
                     seed: Long, seconds: Double, trace: Boolean, slots: Int,
                     launchMs: Long, twins: String)

object Job {
  def parse(args: Array[String]): Job = {
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Job(m("workload"), m("data"), m("work"), m("out"), m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("slots").toInt,
      m("launch-ms").toLong, m("twins"))
  }
}

/** Everything a run measured, written as one JSON file for run.py:
  * raw latency samples, scalar values, correctness checks, spans and the
  * Spark counters of each traced call. Metric math happens in run.py.
  * Shared by the workload's threads, hence synchronized. */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  /** Hand over a hot loop's locally kept samples in one step. */
  def samples(name: String, vs: Samples): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) ++= vs.toSeq
  }
  def value(name: String, v: Double): Unit = synchronized { values(name) = v }

  /** One checked operation: counts as attempted, and as failed unless ok. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) failures += what
  }

  def json(trace: Trace, stats: SparkStats): String = synchronized {
    val sb = new StringBuilder("{")
    sb ++= "\"samples\":" ++= Json.obj(samples.map { case (k, v) => k -> Json.arr(v.map(Json.num)) })
    sb ++= ",\"values\":" ++= Json.obj(values.map { case (k, v) => k -> Json.num(v) })
    sb ++= ",\"info\":" ++= Json.obj(info.map { case (k, v) => k -> Json.str(v) })
    sb ++= ",\"failures\":" ++= Json.arr(failures.map(Json.str))
    sb ++= s""","attempted":$attempted"""
    sb ++= ",\"spans\":" ++= trace.json
    sb ++= ",\"groups\":" ++= stats.json
    sb ++= "}"
    sb.toString
  }
}

/** Growable primitive buffer for one thread's latency samples, so a hot
  * loop neither boxes nor takes the Result lock. */
final class Samples {
  private var xs = new Array[Double](1 << 12)
  private var n = 0
  def +=(v: Double): Unit = {
    if (n == xs.length) xs = java.util.Arrays.copyOf(xs, n * 2)
    xs(n) = v; n += 1
  }
  def toSeq: Seq[Double] = xs.take(n).toSeq
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** In-memory spans around each call the benchmark makes into a layer.
  * A span carries its parent (the enclosing span on the same thread) and
  * the Spark job group its jobs ran under, so run.py can attach Spark's
  * task counters to it. Disabled, [[span]] is a plain call. */
final class Trace(var enabled: Boolean) {
  private final case class Span(id: Long, parent: Long, name: String,
                                t0: Long, var t1: Long)
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }

  /** Time `body` as span `name`; Spark jobs it starts run in a job group
    * named after the span. */
  def span[T](name: String, spark: SparkSession = null)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.map(_.id).getOrElse(0L)
      val s = Span(ids.incrementAndGet(), parent, name, System.nanoTime(), 0L)
      stack.set(s :: stack.get)
      val sc = Option(spark).map(_.sparkContext)
      val prevGroup = sc.flatMap(c => Option(c.getLocalProperty("spark.jobGroup.id")))
      sc.foreach(_.setJobGroup(s"pb-${s.id}", name))
      try body
      finally {
        s.t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.foreach { c =>
          prevGroup match {
            case Some(g) => c.setJobGroup(g, "")
            case None => c.clearJobGroup()
          }
        }
        done.synchronized { done += s }
      }
    }

  /** `[id, parent, name, start_us, end_us]` per span. */
  def json: String = done.synchronized {
    Json.arr(done.map(s => Json.arr(Seq(s.id.toString, s.parent.toString,
      Json.str(s.name), Json.num(s.t0 / 1e3), Json.num(s.t1 / 1e3)))))
  }
}

/** Spark's own task counters, summed per job group through a listener the
  * benchmark registers (public `SparkListener` API only). */
final class SparkStats extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val ended = mutable.Set.empty[Int]
  private val byGroup = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]

  private def add(g: String, k: String, v: Double): Unit = {
    val m = byGroup.getOrElseUpdate(g, mutable.LinkedHashMap.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(stageGroup(_) = g)
    add(g, "jobs", 1)
    add(g, "stages", e.stageInfos.size)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += e.jobId }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, "")
    add(g, "stages_run", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    add(g, "tasks", 1)
    if (m != null) {
      add(g, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(g, "shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(g, "gc_ms", m.jvmGCTime.toDouble)
      add(g, "run_ms", m.executorRunTime.toDouble)
    }
  }

  /** Block until the listener has seen the end of every job Spark has
    * started, so the counters are complete before they are written. */
  def settle(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10_000_000_000L
    def pending: Boolean = synchronized {
      tracker.getActiveJobIds().nonEmpty || jobGroup.keys.exists(!ended(_))
    }
    while (pending && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def json: String = synchronized {
    Json.obj(byGroup.map { case (g, m) =>
      g -> Json.obj(m.map { case (k, v) => k -> Json.num(v) }) })
  }
}

/** Fixed knobs of the benchmark definition. */
object Settings {
  /** Set-ups per run; run.py reports their median. */
  val setupReps = 3
  /** Whole rounds of the broker query list measured per run, at least. */
  val brokerRounds = 2
  /** Untimed rounds of the broker query list before the measured ones.
    * Spark's per-query cost keeps falling for several rounds as the JIT
    * compiles its planner and scheduler; after a concurrent warm-up of
    * one query each, the first measured round still ran 3-26% slower
    * than the second. */
  val brokerWarmRounds = 1
}

object Harness {
  def session(job: Job): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${job.slots}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", job.slots.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", job.slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${job.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${job.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Order-independent fingerprint of a result, comparable across
    * engines: row count plus two sums of a per-row xxhash64 over the
    * columns in name order, each rendered by Spark's own cast to string.
    * Doubles are rounded to 9 places first (inside arrays, structs and
    * maps too), so a different summation order cannot flip the hash;
    * maps are taken as sorted entry arrays. A DuckDB twin written to
    * parquet and read back by Spark goes through the same rendering. */
  def checksum(df: DataFrame): DataFrame = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 9)
      case ArrayType(e, _) => transform(c, x => canon(x, e))
      case StructType(fs) => struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
      case MapType(k, v, _) => canon(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))))
      case _ => c
    }
    val fields = df.schema.fields.toSeq.sortBy(_.name)
    df.select(xxhash64(fields.map(f => canon(col(s"`${f.name}`"), f.dataType).cast(StringType)): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))), bit_xor(col("h")))
  }

  /** Run [[checksum]] and render it as `rows:lo:xor`. */
  def fingerprint(df: DataFrame): String = {
    val r = df.collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }

  /** `f` over `keys` on a small thread pool (untimed preparation only). */
  def parallel[T](keys: Seq[String], threads: Int = 4)(f: String => T): Map[String, T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try keys.map(k => k -> pool.submit(() => f(k))).map { case (k, fu) => k -> fu.get() }.toMap
    finally pool.shutdown()
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val born = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since JVM entry. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${ms(born) / 1e3}%7.2fs] $msg")

  /** `--dump-oracle <file>`: write `SparkEntry.oracleSql` as JSON (the
    * build does this once, so run.py can evaluate the DuckDB twins).
    * Otherwise run one workload, as described by [[Job]]. */
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--dump-oracle")) {
      val out = new java.io.PrintWriter(args(1), "UTF-8")
      try out.print(Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }))
      finally out.close()
    } else runWorkload(Job.parse(args))

  def runWorkload(job: Job): Unit = {
    val entered = System.currentTimeMillis()
    val res = new Result
    res.value("jvm_start_s", (entered - job.launchMs) / 1e3)
    res.info("jvm") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
    res.info("spark") = org.apache.spark.SPARK_VERSION
    res.info("heap_mb") = (Runtime.getRuntime.maxMemory / (1 << 20)).toString
    val trace = new Trace(job.trace)
    val stats = new SparkStats
    val w: Workload = job.workload match {
      case "broker_analytics" => new BrokerAnalytics(job, res, trace, stats)
      case "wire_rpc" => new WireRpc(job, res, trace, stats)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try { w.run(); Harness.log("measured") }
    catch {
      case e: Throwable =>
        res.check(ok = false, s"run aborted: $e")
        e.printStackTrace()
    } finally {
      w.close()
      val out = new java.io.PrintWriter(job.out, "UTF-8")
      try out.print(res.json(trace, stats)) finally out.close()
      Harness.log("result written")
    }
    System.exit(0)
  }
}

/** One workload. `run` does set-up, oracle preparation and the timed
  * phase; `close` stops whatever it started. */
abstract class Workload(val job: Job, val res: Result, val trace: Trace,
                        val stats: SparkStats) {
  protected var spark: SparkSession = _
  def run(): Unit
  def close(): Unit = if (spark != null) spark.stop()

  /** Stop any previous session and start a fresh one, with the listener
    * registered when tracing. */
  protected def freshSession(): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = Harness.session(job)
    if (job.trace) spark.sparkContext.addSparkListener(stats)
    spark
  }
}
