package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLongArray}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.protocol.{Frame, FlyqClient, FlyqServer}
import graft.protocol.Payloads._

/** The protocol ceiling: an in-process FlyqServer (4 partitions, 1 MiB
  * segments) driven by one producer connection in a closed loop while one
  * tailing consumer connection reads, commits and asks for lag and health
  * (phase A); then one consumer replays the whole log (phase B). */
final class WireRpc(job: Job, res: Result, trace: Trace, stats: SparkStats)
    extends Workload(job, res, trace, stats) {

  val partitions = 4
  val group = "tail"
  /** The tail consumer commits every CommitEvery records and asks for lag
    * and health every MetaEvery records. */
  val CommitEvery = 100
  val MetaEvery = 5000
  val Keys = 1000
  val ZipfS = 1.1
  val SmallValue = 100
  val LargeValue = 10240
  val LargeShare = 0.05
  /** Segments still rotate a few times per partition and run. The
    * library's 4 KiB default (sized for tiny testdata) rotates every ~30
    * produces, two file creations each, which made throughput and p99
    * follow the host file system's metadata latency, up to 3x apart
    * between runs. */
  val SegmentBytes = 1L << 20

  private var server: FlyqServer = _
  private var port = 0
  private var rep = 0

  private def dir(name: String) = s"${job.work}/wire/$name"

  override def close(): Unit = if (server != null) server.stop()

  /** Seeded producer input: Zipf keys, mostly-small values cut from a
    * random pool, so every record's bytes are reproducible from the seed. */
  final class Records(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private val pool = { val b = new Array[Byte](1 << 16); rng.nextBytes(b); b }
    private val cdf = {
      val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(ts: Long): WireMessage = {
      val k = java.util.Arrays.binarySearch(cdf, rng.nextDouble()) match {
        case i if i >= 0 => i
        case i => math.min(-i - 1, Keys - 1)
      }
      val size = if (rng.nextDouble() < LargeShare) LargeValue else SmallValue
      val off = rng.nextInt(pool.length - size)
      WireMessage(ts, Some(s"user-$k".getBytes("UTF-8")),
        java.util.Arrays.copyOfRange(pool, off, off + size), Nil)
    }
  }

  /** Server start on an empty directory, a connection, and an untimed
    * warm-up of every opcode on a topic of its own. */
  private def setUp(): Unit = {
    if (server != null) server.stop()
    rep += 1
    Files.createDirectories(Paths.get(dir(s"server-$rep")))
    server = new FlyqServer(dir(s"server-$rep"), numPartitions = partitions,
      segMaxBytes = SegmentBytes)
    port = server.start()
    val c = new FlyqClient("127.0.0.1", port)
    try {
      val recs = new Records(job.seed + 1)
      for (i <- 0 until 2000) {
        val ack = c.produce("warm", recs.next(i)).toOption.get
        c.consume("warm", ack.partition, ack.offset)
        if (i % 100 == 0) {
          c.commitOffset("warm", ack.partition, group, ack.offset)
          c.consumerLag(group); c.partitionHealth("warm", ack.partition)
          c.heartbeat()
        }
      }
    } finally c.close()
  }

  private def us(t0: Long): Double = (System.nanoTime() - t0) / 1e3

  /** Phase A then phase B on `topic`; samples are keyed by `key`. */
  private def phases(topic: String, seconds: Double, key: String): Unit = {
    val acked = new AtomicLongArray(partitions) // per partition: next offset
    val sent = Array.fill(partitions)(mutable.ArrayBuffer.empty[WireMessage]) // by offset
    val done = new AtomicBoolean(false)
    val recs = new Records(job.seed)
    var payload = 0L

    // the tail consumer: round-robin over partitions from offset 0, until
    // the producer stops
    val tailErr = mutable.ArrayBuffer.empty[String]
    var polls, hits = 0L
    val tail = new Thread(() => {
      val c = new FlyqClient("127.0.0.1", port)
      val tailUs, commitUs, lagUs, healthUs = new Samples
      val next = new Array[Long](partitions)
      val committed = Array.fill(partitions)(-1L)
      try {
        while (!done.get) {
          var idle = true
          for (p <- 0 until partitions) {
            val known = acked.get(p)
            val t0 = System.nanoTime()
            val r = trace.span("client.tail_consume")(c.consume(topic, p, next(p)))
            tailUs += us(t0)
            polls += 1
            r match {
              case Right(cr) =>
                if (cr.offset != next(p)) tailErr += s"tail p$p got offset ${cr.offset}, wanted ${next(p)}"
                next(p) += 1; hits += 1; idle = false
                if (hits % CommitEvery == 0) {
                  val c0 = System.nanoTime()
                  val ok = trace.span("client.commit")(c.commitOffset(topic, p, group, next(p) - 1))
                  commitUs += us(c0)
                  if (ok.isLeft) tailErr += s"commit failed: $ok" else committed(p) = next(p) - 1
                }
                if (hits % MetaEvery == 0) {
                  val l0 = System.nanoTime()
                  val lag = trace.span("client.lag_rpc")(c.consumerLag(group, Some(Seq(topic))))
                  lagUs += us(l0)
                  lag match {
                    case Right(l) => l.partitions.foreach { pl =>
                      val want = committed(pl.partition.toInt)
                      if (pl.lag != pl.highWatermark - pl.committedOffset ||
                          (want >= 0 && pl.committedOffset != want))
                        tailErr += s"lag p${pl.partition}: $pl, committed $want"
                    }
                    case Left(e) => tailErr += s"lag failed: $e"
                  }
                  val h0 = System.nanoTime()
                  val h = trace.span("client.health_rpc")(c.partitionHealth(topic, p))
                  healthUs += us(h0)
                  if (h.isLeft) tailErr += s"health failed: $h"
                }
              case Left(e) if next(p) < known => tailErr += s"tail p$p offset ${next(p)}: $e"
              case Left(_) => ()
            }
          }
          if (idle && !done.get) Thread.sleep(1)
        }
      } catch { case e: Throwable => tailErr += s"tail aborted: $e" }
      finally {
        c.close()
        res.samples(s"$key.tail_consume_us", tailUs)
        res.samples(s"$key.commit_us", commitUs)
        res.samples(s"$key.lag_rpc_us", lagUs)
        res.samples(s"$key.health_rpc_us", healthUs)
      }
    }, "perfbench-tail")
    tail.start()

    // phase A: the producer's closed loop
    val prod = new FlyqClient("127.0.0.1", port)
    val a0 = System.nanoTime()
    val end = a0 + (seconds * 1e9).toLong
    var i = 0L
    val produceUs = new Samples
    try while (System.nanoTime() < end) {
      val m = recs.next(1700000000000L + i)
      val t0 = System.nanoTime()
      val r = trace.span("client.produce")(prod.produce(topic, m))
      produceUs += us(t0)
      r match {
        case Right(ack) =>
          val p = ack.partition.toInt
          res.check(ack.offset == acked.get(p), s"produce p$p acked offset ${ack.offset}, expected ${acked.get(p)}")
          if (ack.offset == sent(p).size) sent(p) += m
          acked.set(p, ack.offset + 1)
        case Left(e) => res.check(ok = false, s"produce failed: $e")
      }
      payload += m.key.get.length + m.value.length
      i += 1
    } finally prod.close()
    res.samples(s"$key.produce_us", produceUs)
    res.value(s"$key.produce_window_s", (System.nanoTime() - a0) / 1e9)
    done.set(true)
    Harness.log(s"phase A: $i produces")
    tail.join()
    Harness.log("tail consumer done")
    res.check(tailErr.isEmpty, s"tail consumer: ${tailErr.take(5).mkString("; ")}")
    res.value(s"$key.tail_polls", polls.toDouble)
    res.value(s"$key.tail_hits", hits.toDouble)

    // phase B: replay the whole log from offset 0, byte for byte
    val c = new FlyqClient("127.0.0.1", port)
    val b0 = System.nanoTime()
    val consumeUs = new Samples
    try for (p <- 0 until partitions; off <- 0L until acked.get(p)) {
      val t0 = System.nanoTime()
      val r = trace.span("client.consume")(c.consume(topic, p, off))
      consumeUs += us(t0)
      val want = sent(p).lift(off.toInt)
      res.check(r.exists(cr => want.exists(w => cr.offset == off && cr.message.tsMs == w.tsMs &&
          cr.message.key.exists(java.util.Arrays.equals(_, w.key.get)) &&
          java.util.Arrays.equals(cr.message.value, w.value))),
        s"replay p$p offset $off: ${r.left.getOrElse("bytes differ")}")
    } finally c.close()
    res.value(s"$key.consume_window_s", (System.nanoTime() - b0) / 1e9)
    res.samples(s"$key.consume_us", consumeUs)

    Harness.log("phase B done")
    // storage and framing, measured after the fact
    val files = Files.walk(Paths.get(dir(s"server-$rep"), s"topic_$topic"))
      .iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    def sized(ext: String) = files.filter(_.toString.endsWith(ext)).map(Files.size)
    res.value(s"$key.bytes_stored_per_byte", (sized(".log").sum + sized(".index").sum).toDouble / payload)
    res.value(s"$key.segments", sized(".log").size.toDouble)
    res.value(s"$key.index_entries", sized(".index").sum / 16.0)
    val frameBytes = sent.iterator.flatten.map(m => Frame.HeaderLen + RequestPayload.encode(
      RequestPayload(OpCode.Produce, ProduceRequest.encode(ProduceRequest(topic, WireMessage.encode(m))))).length.toLong).sum
    res.value(s"$key.frame_bytes_per_payload_byte", frameBytes.toDouble / payload)
  }

  def run(): Unit = {
    for (_ <- 0 until Settings.setupReps) {
      val t0 = System.nanoTime()
      setUp()
      res.sample("setup_s", Harness.ms(t0) / 1e3)
      Harness.log(s"set-up took ${Harness.ms(t0) / 1e3}s")
    }
    trace.enabled = false
    phases("bench", job.seconds, "op")
    if (job.trace) {
      trace.enabled = true
      phases("traced", job.seconds, "traced_op")
      trace.enabled = false
      // transport floor: frame codec plus loopback, no server work
      val c = new FlyqClient("127.0.0.1", port)
      val hb = new Samples
      try for (_ <- 0 until 2000) {
        val t0 = System.nanoTime()
        c.heartbeat()
        hb += us(t0)
      } finally c.close()
      res.samples("heartbeat_us", hb)
    }
  }
}
