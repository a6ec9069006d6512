package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.log.WalrusLog
import graft.server.WalrusServer
import graft.streaming.WalrusStreams

/** One request of an open-loop client: sent when due, whatever the
  * replies to earlier requests are doing. */
final class Req(val req: String, val cmd: String, val dueUs: Long) {
  @volatile var sentUs = -1L
  @volatile var recvUs = -1L
  @volatile var resp: String = null
}

/** A client on one TCP connection to [[WalrusServer]]. The generator thread
  * writes each request at its due time; a reader thread pairs replies with
  * requests in order (the server answers one connection in order), so a
  * slow reply delays later replies but never later sends. */
final class OpenLoopClient(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val pending = new LinkedBlockingQueue[Req]()
  val done = new ConcurrentLinkedQueue[Req]()

  private val reader = new Thread(() => {
    try {
      while (true) {
        val len = java.lang.Integer.reverseBytes(in.readInt())
        val body = new Array[Byte](len)
        in.readFully(body)
        val r = pending.take()
        r.recvUs = Clock.nowUs()
        r.resp = new String(body, StandardCharsets.UTF_8)
        done.add(r)
      }
    } catch { case _: java.io.IOException | _: InterruptedException => () }
  }, "perfbench-client-reader")
  reader.setDaemon(true)
  reader.start()

  def send(r: Req): Unit = {
    val bytes = r.cmd.getBytes(StandardCharsets.UTF_8)
    pending.put(r)
    r.sentUs = Clock.nowUs()
    out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(bytes.length).array())
    out.write(bytes)
    out.flush()
  }

  /** Send synchronously and wait for the reply (set-up traffic only). */
  def call(cmd: String): String = {
    val r = new Req("setup", cmd, Clock.nowUs())
    send(r)
    while (r.resp == null) Thread.sleep(1)
    r.resp
  }

  /** Sends `reqs` on their schedule from a new thread; returns the thread. */
  def schedule(reqs: Seq[Req]): Thread = {
    val t = new Thread(() => reqs.foreach { r => Clock.sleepUntilUs(r.dueUs); send(r) },
      "perfbench-client-generator")
    t.setDaemon(true)
    t.start()
    t
  }

  def close(): Unit = {
    sock.close()
    reader.join(5000)
  }
}

/** Rows the stream delivered: (topic, offset, payload, batch, seen µs). */
final class Sink {
  val rows = new ConcurrentLinkedQueue[(String, Long, String, Long, Long)]()
  def write(df: DataFrame, batch: Long): Unit = {
    val got = df.select("topic", "offset", "value").collect()
    val seen = Clock.nowUs()
    got.foreach(r => rows.add((r.getString(0), r.getLong(1),
      new String(r.getAs[Array[Byte]](2), StandardCharsets.UTF_8), batch, seen)))
  }
}

/** Small commits and small reads against a log served over TCP.
  *
  * One [[WalrusLog]] (default `StrictlyAtOnce`) sits behind
  * [[WalrusServer]] with `Topics` topics. A producer sends PUTs of
  * ~`PayloadBytes` B on one connection at `PutHz`, open loop; a consumer
  * sends GETs on a second connection every `GetEveryS`, open loop; one
  * micro-batch `WalrusStreams.readStream` query reads the same log with a
  * fixed `ProcessingTime` trigger and default exactly-once checkpointing.
  * Every operation is a small commit or a small read, so the per-commit
  * fixed cost dominates. The rates keep the log's busy share near one half
  * (PUT ~0.2 s, GET ~0.6 s holding the log monitor), so no backlog grows.
  *
  * Each request is due at a random point of its own slot (slot k of a
  * kind spans [k, k + 1) periods from the start). A fixed grid would pin
  * every PUT to one or two phases of the 200 ms trigger and put each GET
  * on a PUT's due time, so a run's latencies would depend on where the
  * trigger happened to start; jittered slots sample every phase in every
  * run while the rate stays fixed. */
object LogService {
  val Topics = 4
  val PayloadBytes = 200
  val PutHz = 2.0
  val GetEveryS = 4.0
  val TriggerMs: Long = WalrusStreams.DefaultTriggerMs
  val SetUps = 5
  // Latency keeps falling while the JIT compiles the small-commit path
  // (measured: PUT p50 260 ms over the first 20 PUTs after start, 220 ms
  // over the next 20); the warm-up spends those PUTs before the clock starts.
  val WarmPuts = 30

  /** The sequence number a PUT payload starts with. */
  def seqOf(value: Array[Byte]): Long = {
    var i = 0; var n = 0L; var neg = false
    if (i < value.length && value(i) == '-') { neg = true; i += 1 }
    while (i < value.length && value(i) >= '0' && value(i) <= '9') { n = n * 10 + (value(i) - '0'); i += 1 }
    if (neg) -n else n
  }

  /** Position of a PUT in send order: the warm-up's -1, -2, ... come
    * first, then the measured 0, 1, ... */
  private def sendOrder(seq: Long): Long = if (seq < 0) -seq - WarmPuts - 1 else seq

  /** `<seq> <created µs> <topic> <filler>`, `PayloadBytes` long. */
  private def payload(seq: Long, createdUs: Long, topic: String, rnd: java.util.SplittableRandom): String = {
    val head = s"$seq $createdUs $topic "
    val sb = new StringBuilder(head)
    while (sb.length < PayloadBytes) sb += ('a' + rnd.nextInt(26)).toChar
    sb.toString
  }

  private[perfbench] final class Service(ctx: Ctx) {
    val dir = ctx.freshDir("log_service")
    val root = dir.resolve("log").toString
    val log: WalrusLog = ctx.trace match {
      case Some(rec) => new TracedLog(rec, ctx.spark, root)
      case None => new WalrusLog(ctx.spark, root)
    }
    val server = new WalrusServer(log)
    val sink = new Sink
    val topics = (0 until Topics).map(i => s"t$i")
    val admin = new OpenLoopClient(server.boundPort)
    topics.foreach(t => require(admin.call(s"REGISTER $t") == "OK", s"REGISTER $t failed"))
    val query: StreamingQuery = WalrusStreams.readStream(ctx.spark, root).writeStream
      .queryName(s"log_service_${dir.getFileName}")
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch((df: DataFrame, batch: Long) => sink.write(df, batch))
      .start()

    // set-up ends once the stream has run its first trigger
    private val ready = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (query.lastProgress == null && System.nanoTime() < ready) Thread.sleep(5)
    require(query.lastProgress != null, "the stream never completed a trigger")

    /** Warm-up traffic, closed loop: `WarmPuts` PUTs round-robin over the
      * topics with a GET after every tenth, then until the stream has
      * seen every PUT. Returns the (topic, seq) of each PUT. */
    def warm(rnd: java.util.SplittableRandom): Seq[(String, Long)] = {
      val puts = (1 to WarmPuts).map { i =>
        val t = topics(i % Topics)
        val seq = -i.toLong
        val r = admin.call(s"PUT $t ${payload(seq, Clock.nowUs(), t, rnd)}")
        require(r == "OK", s"warm-up PUT failed: $r")
        if (i % 10 == 0) require(admin.call(s"GET $t").startsWith("OK "), "warm-up GET failed")
        (t, seq)
      }
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (sink.rows.size < puts.size && System.nanoTime() < deadline) Thread.sleep(5)
      require(sink.rows.size == puts.size, "warm-up PUTs never reached the stream")
      puts
    }

    def close(): Unit = {
      query.stop()
      admin.close()
      server.close()
      log.close()
    }
  }

  def run(ctx: Ctx): Outcome = {
    val rnd = new java.util.SplittableRandom(ctx.seed)
    // Set-up, several times: fresh root, log, server, topics and a running
    // stream. The last one is warmed up once, untimed, and measured.
    var svc: Service = null
    val setups = (1 to SetUps).map { _ =>
      if (svc != null) { svc.close(); Dirs.deleteRecursively(svc.dir) }
      val (s, sec) = Dirs.seconds(new Service(ctx))
      svc = s
      sec
    }
    val (warmPuts, warmS) = Dirs.seconds(svc.warm(rnd))

    // The schedule is fixed before the clock starts: request k of a kind
    // with period p is due at t0 + (k + u) · p, u uniform in [0, 1).
    val t0 = Clock.nowUs() + 200000L
    val slots = (periodS: Double) => (0 until (ctx.seconds / periodS).toInt)
      .map(k => t0 + ((k + rnd.nextDouble()) * periodS * 1e6).toLong)
    val puts = slots(1.0 / PutHz).zipWithIndex.map { case (due, k) =>
      val t = svc.topics(rnd.nextInt(Topics))
      new Req(s"put:$k", s"PUT $t ${payload(k.toLong, due, t, rnd)}", due)
    }
    val gets = slots(GetEveryS).zipWithIndex.map { case (due, k) =>
      new Req(s"get:$k", s"GET ${svc.topics(k % Topics)}", due)
    }
    val producer = new OpenLoopClient(svc.server.boundPort)
    val consumer = new OpenLoopClient(svc.server.boundPort)
    val gens = Seq(producer.schedule(puts), consumer.schedule(gets))
    gens.foreach(_.join())
    // let the last requests finish and the stream catch up
    val settle = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while ((producer.done.size < puts.size || consumer.done.size < gets.size) &&
        System.nanoTime() < settle) Thread.sleep(5)
    val acked = puts.filter(r => r.resp == "OK")
    val wanted = acked.size + warmPuts.size
    val loadEndUs = Clock.nowUs()
    val commitsAtLoadEnd = svc.log.commitHistory.size.toLong
    while (svc.sink.rows.size < wanted && System.nanoTime() < settle) Thread.sleep(5)
    producer.close(); consumer.close()
    svc.close()

    // ---- output checks ----
    val problems = Seq.newBuilder[String]
    val sinkRows = svc.sink.rows.asScala.toSeq
    val bySeq = sinkRows.groupBy(r => seqOf(r._3.getBytes(StandardCharsets.UTF_8)))
    val ackedSeqs = acked.map(r => seqOf(r.cmd.split(' ')(2).getBytes(StandardCharsets.UTF_8))) ++
      warmPuts.map(_._2)
    ackedSeqs.foreach { s =>
      bySeq.get(s).map(_.size).getOrElse(0) match {
        case 1 =>
        case n => problems += s"PUT $s reached the stream $n times"
      }
    }
    (bySeq.keySet -- ackedSeqs.toSet).foreach(s => problems += s"stream delivered unacknowledged PUT $s")
    sinkRows.groupBy(_._1).foreach { case (topic, rs) =>
      val byOff = rs.sortBy(_._2)
      if (byOff.map(_._2) != byOff.indices.map(_.toLong))
        problems += s"topic $topic: stream offsets are not dense from 0"
      val sent = byOff.map(r => sendOrder(seqOf(r._3.getBytes(StandardCharsets.UTF_8))))
      if (sent != sent.sorted) problems += s"topic $topic: entries out of PUT order"
      val batches = rs.groupBy(_._4).toSeq.sortBy(_._1).map(_._2.map(_._2))
      batches.sliding(2).foreach {
        case Seq(a, b) if a.max >= b.min => problems += s"topic $topic: stream batches overlap"
        case _ =>
      }
    }
    val gotSeqs = gets.flatMap(r => Option(r.resp).filter(_.startsWith("OK "))
      .map(p => (r.cmd.substring(4), seqOf(p.substring(3).getBytes(StandardCharsets.UTF_8)))))
    gotSeqs.groupBy(_._2).foreach { case (s, xs) =>
      if (xs.size > 1) problems += s"GET returned PUT $s ${xs.size} times"
    }
    gotSeqs.groupBy(_._1).foreach { case (topic, xs) =>
      val s = xs.map(x => sendOrder(x._2))
      if (s != s.sorted) problems += s"topic $topic: GETs out of order"
    }

    val all = puts ++ gets
    val failed = all.count(r => r.resp == null || !(r.resp == "OK" || r.resp.startsWith("OK ") ||
      (r.resp == "EMPTY" && r.req.startsWith("get:"))))
    val putMs = acked.map(r => (r.recvUs - r.dueUs) / 1000.0)
    val getMs = gets.filter(_.recvUs > 0).map(r => (r.recvUs - r.dueUs) / 1000.0)
    val visMs = sinkRows.flatMap { r =>
      val f = r._3.split(' ')
      if (f(0).toLong >= 0) Some((r._5 - f(1).toLong) / 1000.0) else None
    }
    val lateMs = all.filter(_.sentUs > 0).map(r => (r.sentUs - r.dueUs) / 1000.0)
    val ops = putMs.map(("put", _)) ++ getMs.map(("get", _)) ++ visMs.map(("stream_visible", _))
    def q(name: String, xs: Seq[Double], p: Double) = (name, Stats.pct(xs, p), "ms", xs.size.toLong)
    val detail = Seq(
      q("put_p50_ms", putMs, 50), q("put_p90_ms", putMs, 90),
      q("get_p50_ms", getMs, 50), q("get_p90_ms", getMs, 90),
      q("stream_visible_p50_ms", visMs, 50), q("stream_visible_p90_ms", visMs, 90),
      q("generator_late_max_ms", lateMs, 100))

    val layers = ctx.trace.map { rec =>
      rec.drain()
      val userBytes = (acked.size + warmPuts.size).toLong * PayloadBytes
      Layers.logService(rec, svc, puts, gets, t0, loadEndUs, commitsAtLoadEnd, userBytes, ops)
    }.getOrElse(Map.empty)
    Dirs.deleteRecursively(svc.dir)
    Outcome(setups, warmS, ops, all.size.toLong, failed.toLong,
      problems.result(), detail, layers)
  }
}
