package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side; `perfbench/run.py` builds it and launches it.
  *
  * {{{
  * Main --workload <log_service|batch> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --out <dir>
  * Main --make-fixtures <dir> --work <dir>
  * }}}
  *
  * Prints one `detail` JSON line (the workload's own named figures, each
  * with unit and sample count, the box's capacity and the run's fences),
  * then, last, the result line:
  * `{"correct","attempted","failed","metrics"}`. Exits 1 when an output
  * check failed. A traced run also writes every span to
  * `<out>/trace-<workload>-<seed>.json`. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "log_service" -> LogService.run,
    "batch" -> Batch.run)

  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  @volatile private var sink = 0L

  /** The capacity this box delivered in this run's window: load average
    * and a short CPU-bound probe run on 1 thread, then on `cpus` threads
    * with the same work each. Effective parallelism = cpus · t(1) / t(cpus).
    * Not a metric; it lets a reading taken in a slow window be recognised. */
  def capacity(cpus: Int): Seq[(String, String)] = {
    def burn(threads: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { i =>
        val t = new Thread(() => {
          var x = 88172645463325252L + i
          var acc = 0L
          var n = 0
          while (n < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; n += 1 }
          sink += acc
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII)
      .split(' ').take(3).map(_.toDouble)
    burn(cpus)
    val one = burn(1)
    val all = burn(cpus)
    Seq("nproc" -> cpus.toString, "loadavg_1m" -> Json.num(load(0)),
      "loadavg_5m" -> Json.num(load(1)), "probe_1_thread_s" -> Json.num(one),
      "probe_n_threads_s" -> Json.num(all), "effective_parallelism" -> Json.num(cpus * one / all))
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.US_ASCII)
      .split('\n').find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The filesystem type holding `p`, from /proc/mounts (longest prefix). */
  def fsType(p: Path): String = {
    val abs = p.toAbsolutePath.toRealPath().toString
    new String(Files.readAllBytes(Paths.get("/proc/mounts")), StandardCharsets.UTF_8)
      .split('\n').map(_.split(' ')).filter(_.length > 2)
      .filter(f => abs == f(1) || abs.startsWith(f(1).stripSuffix("/") + "/"))
      .sortBy(-_(1).length).headOption.map(_(2)).getOrElse("unknown")
  }

  /** (phase, seconds since the JVM started) at the end of each phase. */
  private val marks = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private def sinceStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work"))
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(work, cpus)
    marks += "session" -> sinceStart()
    val code =
      try a.get("make-fixtures") match {
        case Some(out) =>
          LlmPipeline.makeFixtures(new Ctx(spark, 0L, 0, work, cpus, None), Paths.get(out))
          0
        case None => bench(spark, a, work, cpus)
      } finally spark.stop()
    sys.exit(code)
  }

  private def bench(spark: SparkSession, a: Map[String, String], work: Path, cpus: Int): Int = {
    val workload = a("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val cap = capacity(cpus)
    marks += "capacity" -> sinceStart()
    val rec = if (traced) Some(new Recorder(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, work, cpus, rec)
    val o = run(ctx)
    marks += "workload" -> sinceStart()
    val correct = o.problems.isEmpty && o.failed == 0 && o.ops.nonEmpty
    // every operation's latency, by kind, in run order, for reading a run's noise
    o.ops.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      System.err.println(s"perfbench ops $k ms: ${xs.map(x => f"${x._2}%.1f").mkString(" ")}")
    }
    val fences = Seq(
      "master" -> Json.str(s"local[$cpus]"),
      "log_fs" -> Json.str(fsType(work)),
      "durability" -> Json.str("process: no fsync; a sync(1) and a GC fence each timed bulk operation"),
      "setups_s" -> Json.arr(o.setupS.map(Json.num)), "warmup_s" -> Json.num(o.warmupS))
    val detail = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "traced" -> traced.toString,
      "figures" -> Json.obj(o.detail.map { case (n, v, u, k) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u), "samples" -> k.toString))
      }),
      "capacity" -> Json.obj(cap), "fences" -> Json.obj(fences),
      "timeline_s" -> Json.obj(marks.map { case (k, v) => k -> Json.num(v) }),
      "problems" -> Json.arr(o.problems.take(20).map(Json.str))))
    println(s"""{"detail":$detail}""")
    val metrics: Seq[(String, Double, String)] =
      if (traced) Layers.Units.map { case (k, u) => (k, o.layers(k), u) }
      else Seq(
        ("mix_p50_ms", Stats.mix(o.ops, 50), "ms"),
        ("setup_s", Stats.median(o.setupS), "s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
    rec.foreach(_.write(Paths.get(a("out")).resolve(s"trace-$workload-$seed.json"),
      Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
        "capacity" -> Json.obj(cap), "fences" -> Json.obj(fences)))))
    val m = Json.obj(metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    println(s"""{"correct":$correct,"attempted":${o.attempted},"failed":${o.failed},"metrics":$m}""")
    if (correct) 0 else 1
  }
}
