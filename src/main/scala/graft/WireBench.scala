package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.protocol.{FlyqClient, FlyqServer}
import graft.protocol.Payloads.WireMessage

/** Loopback throughput measurement for the WIRE boundary (r15 verdict
  * #4): the socket source and producer ship with correctness specs but
  * no number next to their "the broker socket is the ceiling" posture
  * claim. This main measures messages/second at two payload sizes for
  * all four layers of the stack:
  *
  *  - `produce_client` / `consume_client`: the raw [[FlyqClient]] SDK
  *    loop — one RPC per record by protocol design (the reference has
  *    no batch fetch, `listener.rs:104-137`), so this is the
  *    per-connection protocol ceiling;
  *  - `produce_sink`: [[graft.streaming.SocketProduce]] driving the
  *    same wire from a Spark streaming query (adds micro-batch
  *    planning + task dispatch);
  *  - `source_drain`: the [[graft.sources.v2.FlyqSocketSource]]
  *    micro-batch source draining a pre-loaded broker.
  *
  * Usage: `sbt "runMain graft.WireBench [msgsSmall] [msgsLarge]"`.
  * Emits one JSON line AND appends it (with a timestamp and the host's
  * 1-minute loadavg for window context) to
  * `tools/wirebench_history.jsonl` (r16 verdict #4) — the same
  * committed-history protocol the window factors use, so a regression
  * in the socket path is visible across rounds instead of living in a
  * one-time hand-run. Not a bench-gate row on purpose: a streaming
  * loopback number has no floor protocol — it is a posture
  * measurement, re-run by hand with this command.
  */
object WireBench {

  private def timeIt[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nSmall = args.headOption.map(_.toInt).getOrElse(20000)
    val nLarge = args.drop(1).headOption.map(_.toInt).getOrElse(2000)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for ((label, bytes, n) <- Seq(("100b", 100, nSmall), ("10kb", 10240, nLarge))) {
      val payload = Array.fill[Byte](bytes)('x')
      val dir = Files.createTempDirectory(s"wirebench_$label").toString
      val server = new FlyqServer(dir, numPartitions = 1)
      val port = server.start()

      // raw client SDK: produce then consume-walk, one RPC per record
      val c = new FlyqClient("127.0.0.1", port)
      val (_, prodSec) = timeIt {
        var i = 0
        while (i < n) {
          c.produce("t", WireMessage(i.toLong, Some(s"k$i".getBytes), payload, Nil))
            .fold(e => sys.error(e), identity)
          i += 1
        }
      }
      results(s"produce_client_$label") = n / prodSec
      val (_, consSec) = timeIt {
        var off = 0L
        while (off < n) {
          val r = c.consume("t", 0L, off).fold(e => sys.error(e), identity)
          off = r.offset + 1
        }
      }
      results(s"consume_client_$label") = n / consSec
      c.close()

      // Spark socket source draining the pre-loaded log (2n records
      // after the sink run below writes its half first would skew the
      // drain; measure on the client-produced n, from earliest)
      val ckpt = Files.createTempDirectory(s"wirebench_src_$label").toString
      val q = spark.readStream
        .format("graft.sources.v2.FlyqSocketSource")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("topic", "t").option("partitions", "1").load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt).start()
      val (_, drainSec) = timeIt(q.processAllAvailable())
      q.stop()
      results(s"source_drain_$label") = n / drainSec

      // Spark producer sink over the same wire
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      val input = MemoryStream[Array[Byte]](spark)
      val w = graft.streaming.SocketProduce.socketProduceWriter(
          input.toDF().toDF("mvalue"), "127.0.0.1", port, "t2")
        .option("checkpointLocation",
          Files.createTempDirectory(s"wirebench_sink_$label").toString)
        .start()
      input.addData((0 until n).map(_ => payload): _*)
      val (_, sinkSec) = timeIt(w.processAllAvailable())
      w.stop()
      results(s"produce_sink_$label") = n / sinkSec

      server.stop()
    }

    val qs = results.map { case (k, v) => s""""$k":${math.round(v)}""" }
      .mkString("{", ",", "}")
    val loadavg =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ").headOption.getOrElse("-1")
      catch { case scala.util.control.NonFatal(_) => "-1" }
    val line = s"""{"metric":"wire_msgs_per_sec","unit":"msgs/sec","n_small":$nSmall,"n_large":$nLarge,"rates":$qs}"""
    println(line)
    val hist = Bench.toolsFile("wirebench_history.jsonl")
    if (hist.getParentFile.isDirectory) {
      val w = new java.io.FileWriter(hist, true)
      try w.write(s"""{"ts":${System.currentTimeMillis()},"loadavg_1m":$loadavg,"n_small":$nSmall,"n_large":$nLarge,"rates":$qs}""" + "\n")
      finally w.close()
    }
    spark.stop()
  }
}
