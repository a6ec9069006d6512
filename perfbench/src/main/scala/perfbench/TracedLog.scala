package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.log.{WalrusEntry, WalrusLog}

/** The traced run's [[WalrusLog]] behind the server: records a span around
  * each `append` and `readNext` the server makes and runs the call under a
  * job group named after the request, so the Spark jobs it submits from
  * the server's connection thread are attributed to that request. The
  * untraced run uses `WalrusLog` itself.
  *
  * PUT payloads start with their sequence number, which names the request
  * (`put:<seq>`); GETs are numbered in arrival order (`get:<n>`), which is
  * the client's order because one connection carries them all. */
final class TracedLog(rec: Recorder, spark: org.apache.spark.sql.SparkSession, root: String)
    extends WalrusLog(spark, root) {

  private val gets = new AtomicLong(0)

  override def append(topic: String, value: Array[Byte]): Unit = {
    val req = "put:" + LogService.seqOf(value)
    rec.inGroup(req)(rec.span("log.append", req)(super.append(topic, value)))
  }

  override def readNext(topic: String, checkpoint: Boolean, group: String): Option[WalrusEntry] = {
    val req = "get:" + gets.getAndIncrement()
    rec.inGroup(req)(rec.span("log.read_next", req)(super.readNext(topic, checkpoint, group)))
  }
}
