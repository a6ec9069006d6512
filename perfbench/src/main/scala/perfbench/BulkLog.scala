package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.log.WalrusLog
import graft.streaming.WalrusStreams

/** Per-topic fingerprint of a log's contents: entry count, offset range
  * and sum, payload bytes, and an order-insensitive digest of
  * (offset, payload) pairs, so a wrong offset is caught as surely as a
  * wrong payload. */
final case class TopicPrint(n: Long, minOff: Long, maxOff: Long, sumOff: Long,
    bytes: Long, digest: Long) {
  def merge(o: TopicPrint): TopicPrint = TopicPrint(n + o.n, math.min(minOff, o.minOff),
    math.max(maxOff, o.maxOff), sumOff + o.sumOff, bytes + o.bytes, digest ^ o.digest)
}

object TopicPrint {
  /** Fingerprints of a frame with `topic`, `offset` and `value`. */
  def of(df: DataFrame): Map[String, TopicPrint] =
    df.groupBy("topic").agg(count(lit(1)), min("offset"), max("offset"), sum("offset"),
        sum(length(col("value")).cast("long")), bit_xor(xxhash64(col("offset"), col("value"))))
      .collect().map((r: Row) => r.getString(0) -> TopicPrint(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap

  def merge(a: Map[String, TopicPrint], b: Map[String, TopicPrint]): Map[String, TopicPrint] =
    (a.keySet ++ b.keySet).map { k =>
      k -> ((a.get(k), b.get(k)) match {
        case (Some(x), Some(y)) => x.merge(y)
        case (x, y) => x.orElse(y).get
      })
    }.toMap
}

/** Bulk ingest and full drains: throughput-bound, per-commit cost
  * amortised away. The bulk half of the `batch` workload.
  *
  * `Entries` incompressible `PayloadBytes` B payloads over `Topics` topics
  * go in two ways: interleaved through `appendDF` with a sequence column
  * (the range-shuffle path), and topic-clustered with `arrivalOrder = true`.
  * Each log is then drained fully three ways: `toDF`, `WalrusStreams.read`
  * (the V2 vectorized scan) and an `AvailableNow` stream, and every drain
  * must reproduce the input's fingerprints. The payloads are generated from
  * the seed on the fly (cheap next to the write), so no cached input
  * competes with the log for memory. */
final class BulkLog(ctx: Ctx) {
  import BulkLog._
  private val spark = ctx.spark
  private val parts = ctx.cpus * 2
  private val interleaved = input(spark, ctx.seed, Entries, clustered = false, parts)
  private val clustered = input(spark, ctx.seed, Entries, clustered = true, parts)
  private val problems = Seq.newBuilder[String]
  private var failed = 0L
  private val ops = Seq.newBuilder[Op]
  private val streamRuns = scala.collection.mutable.Map.empty[String, String] // op req -> stream runId
  private val storage = Seq.newBuilder[(Long, Long, Long)] // (commits, files, bytes) per ingest
  private var opN = 0
  private var wantI: Map[String, TopicPrint] = Map.empty
  private var wantC: Map[String, TopicPrint] = Map.empty

  private val fences = Seq.newBuilder[Double]
  private def fence(): Unit = fences += Dirs.seconds {
    // writeback of the previous phase's pages stays out of the next window
    try new ProcessBuilder("sync").start().waitFor() catch { case _: Throwable => () }
    System.gc()
  }._2

  /** Runs one timed operation under its own request id (job group). */
  private def timed[T](kind: String)(f: String => T): T = {
    opN += 1
    val req = s"$kind:$opN"
    val t0 = Clock.nowUs()
    val out = ctx.trace match {
      case Some(rec) => rec.inGroup(req)(rec.span(s"op.$kind", req)(f(req)))
      case None => f(req)
    }
    ops += Op(kind, t0, Clock.nowUs(), req)
    out
  }

  private def check(what: String, got: Map[String, TopicPrint], want: Map[String, TopicPrint]): Unit =
    if (got != want) {
      failed += 1
      val bad = (want.keySet ++ got.keySet).toSeq.sorted.filter(t => got.get(t) != want.get(t))
      problems += s"$what: topics ${bad.mkString(",")} differ: got ${bad.map(got.get)} want ${bad.map(want.get)}"
    }

  private def ingest(root: Path, df: DataFrame, arrival: Boolean, kind: String): WalrusLog = {
    val log = new WalrusLog(spark, root.toString)
    timed(kind) { req =>
      def call() =
        if (arrival) log.appendDF(df.select("topic", "value"), arrivalOrder = true)
        else log.appendDF(df.select("topic", "value", "_seq"), Some(col("_seq")))
      ctx.trace.fold(call())(_.span("log.ingest", req)(call()))
    }
    log
  }

  private def drains(log: WalrusLog, root: Path, want: Map[String, TopicPrint], label: String): Unit = {
    fence()
    val a = timed("drain") { req =>
      ctx.trace.fold(TopicPrint.of(log.toDF()))(_.span("log.drain", req)(TopicPrint.of(log.toDF())))
    }
    check(s"$label toDF drain", a, want)
    fence()
    val b = timed("source_drain") { req =>
      def call() = TopicPrint.of(WalrusStreams.read(spark, root.toString))
      ctx.trace.fold(call())(_.span("sources.drain", req)(call()))
    }
    check(s"$label source drain", b, want)
    fence()
    val c = timed("stream_drain") { req =>
      def call() = { val (p, runId) = streamDrain(spark, root, req); streamRuns(req) = runId; p }
      ctx.trace.fold(call())(_.span("streaming.drain", req)(call()))
    }
    check(s"$label stream drain", c, want)
  }

  /** Set-up: the expected fingerprints of both inputs. */
  def setUp(): Unit = {
    wantI = TopicPrint.of(interleaved)
    wantC = TopicPrint.of(clustered)
  }

  /** One untimed round of every operation on a slice. */
  def warmUp(): Unit = {
    val dir = ctx.freshDir("bulk_warm")
    val logI = new WalrusLog(spark, dir.resolve("i").toString)
    logI.appendDF(input(spark, ctx.seed + 1, WarmEntries, clustered = false, parts)
      .select("topic", "value", "_seq"), Some(col("_seq")))
    val logC = new WalrusLog(spark, dir.resolve("c").toString)
    logC.appendDF(input(spark, ctx.seed + 1, WarmEntries, clustered = true, parts)
      .select("topic", "value"), arrivalOrder = true)
    TopicPrint.of(logI.toDF())
    TopicPrint.of(WalrusStreams.read(spark, dir.resolve("c").toString))
    streamDrain(spark, dir.resolve("i"), "warm")
    logI.close(); logC.close()
    Dirs.deleteRecursively(dir)
  }

  /** One measured round: each input ingested into a fresh log, which is
    * then drained three ways and dropped. */
  def cycle(): Unit =
    for ((df, arrival, want, kind) <- Seq(
        (interleaved, false, wantI, "ingest"), (clustered, true, wantC, "producer_ingest"))) {
      val dir = ctx.freshDir("bulk")
      val root = dir.resolve("log")
      fence()
      val log = ingest(root, df, arrival, kind)
      val (files, bytes) = Dirs.filesAndBytes(root.resolve("default").resolve("data"))
      storage += ((log.commitHistory.size.toLong, files, bytes))
      drains(log, root, want, kind)
      log.close()
      Dirs.deleteRecursively(dir)
    }

  def finish(): Part = {
    val all = ops.result()
    def mbS(kind: String): (String, Double, String, Long) = {
      val xs = all.filter(_.kind == kind).map(o => userBytes(Entries) / 1e6 / (o.ms / 1000.0))
      (s"${kind}_mb_s", Stats.median(xs), "MB/s", xs.size.toLong)
    }
    val fs = fences.result()
    val detail = Seq("ingest", "producer_ingest", "drain", "source_drain", "stream_drain").map(mbS) :+
      (("fence_ms", Stats.median(fs) * 1000, "ms", fs.size.toLong))
    val layers = ctx.trace.map { rec =>
      rec.drain()
      Layers.bulk(rec, all, storage.result(), userBytes(Entries), streamRuns.toMap)
    }.getOrElse(Map.empty)
    Part(all.map(o => (o.kind, o.ms)), all.size.toLong, failed, problems.result(), detail, layers)
  }
}

object BulkLog {
  val Entries = 40000
  val Topics = 10
  val PayloadBytes = 768
  val WarmEntries = 10000

  def userBytes(n: Long): Long = n * PayloadBytes

  /** `n` rows: (topic, value, _seq, expected offset). Interleaved rows go
    * round-robin over topics; clustered rows fill one topic after another,
    * in partition order, the way topic-per-producer arrivals look. */
  def input(spark: SparkSession, seed: Long, n: Long, clustered: Boolean, parts: Int): DataFrame = {
    val bytes = udf((id: Long) => {
      val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
      val b = new Array[Byte](PayloadBytes)
      r.nextBytes(b)
      b
    })
    val per = n / Topics
    val id = col("id")
    val (topic, off) =
      if (clustered) (id.divide(per).cast("long"), id.mod(per))
      else (id.mod(Topics), id.divide(Topics).cast("long"))
    spark.range(0, n, 1, parts).select(
      concat(lit("topic-"), topic.cast("string")).as("topic"),
      bytes(id).as("value"), id.as("_seq"), off.as("offset"))
  }

  final case class Op(kind: String, startUs: Long, endUs: Long, req: String) {
    def ms: Double = (endUs - startUs) / 1000.0
  }

  /** Drains the log under `root` with an `AvailableNow` stream whose
    * micro-batches fingerprint what they see; returns the fingerprints and
    * the stream's run id (its jobs' job group). */
  def streamDrain(spark: SparkSession, root: Path, name: String): (Map[String, TopicPrint], String) = {
    var acc = Map.empty[String, TopicPrint]
    val ckpt = root.resolveSibling(s"ckpt-${name.replace(':', '-')}")
    val q = WalrusStreams.readStream(spark, root.toString).writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((df: DataFrame, _: Long) => acc = TopicPrint.merge(acc, TopicPrint.of(df)))
      .start()
    q.awaitTermination()
    Dirs.deleteRecursively(ckpt)
    (acc, q.runId.toString)
  }
}
