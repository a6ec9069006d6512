package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The LLM-data-pipeline queries: planning, per-stage fixed cost and
  * operator compute; `graft.log` does no work here. The query half of the
  * `batch` workload.
  *
  * Three queries: `pipeline_curate` (quality gate, exact dedup, split and
  * per-source counts in one plan; the heaviest `pipeline_*` query,
  * `pipeline_ccnet`, took 4-5 s a pass with C1 code and did not fit the
  * run's time budget), `graph_hits` (the deepest plan, 48 eagerly
  * checkpointed stages) and `dedup_pipeline` (MinHash-LSH candidates plus
  * exact Jaccard). They run
  * over a fixed corpus (the `documents` and
  * `events` tables, generated from a fixed seed in the shape of the
  * repository's test data). The run's seed only sets the query order.
  * Every result is collected whole, so every column is computed (a
  * `count()` would let Catalyst prune columns), and its digest must equal
  * the fixture in `resources/perfbench/llm_pipeline.tsv`, which was checked
  * once against each query's DuckDB twin (`SparkEntry.oracleSql`) by
  * `check_fixtures.py`. */
object LlmPipeline {
  val Queries: Seq[String] = Seq("pipeline_curate", "graph_hits", "dedup_pipeline")

  val Docs = 400
  val Events = 8000
  val Users = 120
  val DataSeed = 42L
  // With C1 code (see run.py) pass times settle from the third pass on
  // (measured: graph_hits 3.6 s cold, 3.3-3.6 s on the second pass, then
  // 1.8-2.5 s). One warm-up pass fits the run's time budget; the second
  // pass is the first measured one, and Batch's median over at least three
  // cycles outvotes it.
  val WarmPasses = 1

  private val words = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val langs = Seq("en", "en", "en", "en", "zh", "fr", "es", "de")
  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** Writes `documents` and `events` parquet under `dir`. Text is random
    * words; one document in twenty repeats an earlier one with a marker
    * word appended and a few repeat one verbatim, so dedup finds pairs. */
  def writeTables(spark: SparkSession, dir: Path): Unit = {
    val r = new java.util.SplittableRandom(DataSeed)
    val texts = new Array[String](Docs)
    val docs = (0 until Docs).map { i =>
      val t =
        if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else if (i > 10 && r.nextInt(400) == 0) texts(r.nextInt(i))
        else Seq.fill(10 + r.nextInt(91))(words(r.nextInt(words.size))).mkString(" ")
      texts(i) = t
      Row(i.toLong, t, langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}", t.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), docSchema)
      .write.parquet(dir.resolve("documents.parquet").toString)
    val t0 = 1704067200000000L // 2024-01-01 UTC, µs
    var ts = t0
    val evs = (0 until Events).map { i =>
      ts += r.nextInt(26000000)
      Row(i.toLong, new java.sql.Timestamp(ts / 1000L), r.nextInt(Users).toLong,
        eventTypes(r.nextInt(eventTypes.size)), r.nextInt(50000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val evSchema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(evs, 1), evSchema)
      .write.parquet(dir.resolve("events.parquet").toString)
  }

  /** Order-insensitive digest of a result: each row rendered canonically,
    * the renderings sorted, then SHA-256. */
  def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(render).mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** name -> (rows, digest), from the fixture file on the classpath. */
  def fixtures(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/perfbench/llm_pipeline.tsv")
    if (in == null) Map.empty
    else try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t')).map { f =>
          f(0) -> (f(1).toLong, f(2))
        }.toMap
    } finally in.close()
  }

  final case class Run(name: String, startUs: Long, endUs: Long, builtUs: Long,
      rows: Long, digest: String, req: String, codegenNs: Long) {
    def ms: Double = (endUs - startUs) / 1000.0
  }

  /** Runs one query: builds the frame (which may run eager side jobs),
    * collects it whole and digests the result. */
  def runQuery(ctx: Ctx, dir: String, name: String, req: String): Run = {
    val fn = SparkEntry.queries(name)
    def body(): Run = {
      val cg0 = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
      val t0 = Clock.nowUs()
      val df = ctx.trace.fold(fn(ctx.spark, dir))(_.span("queries.build", req)(fn(ctx.spark, dir)))
      val t1 = Clock.nowUs()
      val rows = ctx.trace.fold(df.collect())(_.span("queries.collect", req)(df.collect()))
      val t2 = Clock.nowUs()
      Run(name, t0, t2, t1, rows.length.toLong, digest(rows), req,
        org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime - cg0)
    }
    ctx.trace.fold(body())(rec => rec.inGroup(req)(rec.span("op.query", req)(body())))
  }

  /** Writes each query's result as parquet under `out/<name>`, the DuckDB
    * twins as `out/oracle_sql.json` and the digests as
    * `out/llm_pipeline.tsv`; `check_fixtures.py` compares the two engines. */
  def makeFixtures(ctx: Ctx, out: Path): Unit = {
    val dir = ctx.freshDir("llm")
    writeTables(ctx.spark, dir)
    Files.createDirectories(out)
    Seq("documents", "events").foreach { t =>
      ctx.spark.read.parquet(dir.resolve(s"$t.parquet").toString)
        .write.mode("overwrite").parquet(out.resolve("tables").resolve(s"$t.parquet").toString)
    }
    val lines = Queries.sorted.map { q =>
      val df = SparkEntry.queries(q)(ctx.spark, dir.toString)
      val rows = df.collect()
      ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
      s"$q\t${rows.length}\t${digest(rows)}"
    }
    Files.write(out.resolve("llm_pipeline.tsv"),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    val sql = Queries.sorted.map(q => q -> Json.str(SparkEntry.oracleSql(q)))
    Files.write(out.resolve("oracle_sql.json"), Json.obj(sql).getBytes(StandardCharsets.UTF_8))
  }
}

/** The query half of the `batch` workload, run in phases by [[Batch]]. */
final class LlmPipeline(ctx: Ctx) {
  import LlmPipeline._
  private val want = fixtures()
  private val order = new scala.util.Random(ctx.seed).shuffle(Queries)
  private var dir: Path = _
  private val runs = Seq.newBuilder[Run]
  private val passes = Seq.newBuilder[Double]
  private var pass = 0

  /** Set-up: the tables written to a fresh directory (the last is measured). */
  def setUp(): Unit = {
    if (dir != null) Dirs.deleteRecursively(dir)
    dir = ctx.freshDir("llm")
    writeTables(ctx.spark, dir)
  }

  /** `WarmPasses` untimed passes over every query: JIT, codegen, and the
    * per-directory fixtures some queries build on first use. */
  def warmUp(): Unit = (1 to WarmPasses).foreach { i =>
    order.foreach(q => runQuery(ctx, dir.toString, q, s"warm:$i:$q"))
  }

  /** One measured pass over every query, in the seed's order. */
  def cycle(): Unit = {
    pass += 1
    val rs = order.map(q => runQuery(ctx, dir.toString, q, s"q:$pass:$q"))
    runs ++= rs
    passes += (rs.last.endUs - rs.head.startUs) / 1e6
  }

  def finish(): Part = {
    val all = runs.result()
    val problems = all.flatMap { r =>
      want.get(r.name) match {
        case Some((n, d)) if n == r.rows && d == r.digest => None
        case Some((n, d)) => Some(s"${r.name}: ${r.rows} rows digest ${r.digest}, fixture $n rows digest $d")
        case None => Some(s"${r.name}: no fixture")
      }
    }
    val ps = passes.result()
    val detail = ("pipeline_s", Stats.median(ps), "s", ps.size.toLong) +:
      all.groupBy(_.name).toSeq.sortBy(_._1).map { case (q, rs) =>
        (s"$q.ms", Stats.median(rs.map(_.ms)), "ms", rs.size.toLong)
      }
    val layers = ctx.trace.map { rec =>
      rec.drain()
      Layers.llm(rec, all)
    }.getOrElse(Map.empty)
    Dirs.deleteRecursively(dir)
    Part(all.map(r => (r.name, r.ms)), all.size.toLong, problems.size.toLong, problems, detail, layers)
  }
}
