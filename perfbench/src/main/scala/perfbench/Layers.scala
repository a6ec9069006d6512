package perfbench

/** Per-layer metrics of a traced run. Every run reports every name below;
  * a layer a workload does not exercise reads 0. Each comment names the
  * end-to-end figure the layer should move. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    // server: client round trip minus the log call -> put_*/get_* on log_service
    "server.put_self_ms" -> "ms", "server.get_self_ms" -> "ms",
    // log, small commits -> put_p50 and stream_visible on log_service
    "log.append_ms" -> "ms", "log.append_wait_ms" -> "ms",
    "log.append_jobs" -> "count", "log.append_tasks" -> "count",
    // log, small reads -> get_*, and put_p90 through the log monitor
    "log.read_next_ms" -> "ms", "log.read_next_wait_ms" -> "ms",
    "log.read_next_jobs" -> "count", "log.read_next_tasks" -> "count",
    "log.read_next_files" -> "count",
    // log, bulk ingest -> ingest and producer_ingest on batch
    "log.ingest_jobs" -> "count", "log.ingest_tasks" -> "count",
    "log.ingest_executor_s" -> "s", "log.ingest_driver_s" -> "s",
    "log.ingest_shuffle_write_mb" -> "MB", "log.ingest_files" -> "count",
    // log, toDF drain -> drain on batch
    "log.drain_files" -> "count", "log.drain_bytes_read_mb" -> "MB", "log.drain_executor_s" -> "s",
    // log, storage: the space side of the read/write/space trade
    "log.commits" -> "count", "log.files_per_commit" -> "count", "log.bytes_per_user_byte" -> "ratio",
    // sources -> source_drain on batch, get_* on log_service
    "sources.plan_ms" -> "ms", "sources.drain_tasks" -> "count",
    "sources.drain_bytes_read_mb" -> "MB", "sources.drain_executor_s" -> "s",
    // streaming -> stream_visible on log_service, stream_drain on batch
    "streaming.triggers" -> "count", "streaming.trigger_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.rows_per_trigger" -> "count",
    "streaming.empty_trigger_share" -> "ratio", "streaming.lag_commits_end" -> "count",
    // queries, per query -> pipeline_s on batch
    "queries.analysis_ms" -> "ms", "queries.optimization_ms" -> "ms",
    "queries.planning_ms" -> "ms", "queries.codegen_ms" -> "ms",
    "queries.jobs" -> "count", "queries.side_jobs" -> "count", "queries.stages" -> "count",
    "queries.tasks" -> "count", "queries.single_task_stage_share" -> "ratio",
    "queries.executor_run_s" -> "s", "queries.critical_path_s" -> "s",
    "queries.scheduler_delay_s" -> "s", "queries.gc_s" -> "s",
    "queries.shuffle_write_mb" -> "MB", "queries.shuffle_read_mb" -> "MB", "queries.spill_mb" -> "MB",
    // share of each operation type's traced wall no named span covers
    "trace.put_unattributed_share" -> "ratio", "trace.get_unattributed_share" -> "ratio",
    "trace.trigger_unattributed_share" -> "ratio", "trace.ingest_unattributed_share" -> "ratio",
    "trace.drain_unattributed_share" -> "ratio", "trace.query_unattributed_share" -> "ratio",
    // the end-to-end figure as the traced run saw it; minus the untraced
    // run's figure, this is the tracing overhead
    "traced.mix_p50_ms" -> "ms")

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private val MB = 1e6

  /** Filled with zeros for every name, then overlaid with `m`. */
  def complete(m: Map[String, Double], ops: Seq[(String, Double)]): Map[String, Double] = {
    val e2e = Map("traced.mix_p50_ms" -> Stats.mix(ops, 50))
    val unknown = (m.keySet -- Units.map(_._1))
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    Units.map { case (k, _) => k -> 0.0 }.toMap ++ m ++ e2e
  }

  /** (self µs by layer, wall µs) summed over operations. */
  private def unattributed(ops: Seq[(Map[String, Long], Long)]): Double = {
    val wall = ops.map(_._2).sum
    if (wall <= 0) 0.0 else ops.map(_._1.getOrElse("unattributed", 0L)).sum.toDouble / wall
  }

  private def jobStats(rec: Recorder, req: String) = {
    val js = rec.jobsOf(req)
    val st = js.flatMap(rec.submitted)
    (js, st)
  }

  private def streamPhases(rec: Recorder, runIds: Set[String], fromUs: Long): Map[String, Double] = {
    val ts = rec.allTriggers.filter(t => runIds.contains(t.runId) && t.startUs >= fromUs)
    def ph(k: String) = mean(ts.map(_.durMs.getOrElse(k, 0L).toDouble))
    if (ts.isEmpty) Map.empty
    else Map(
      "streaming.triggers" -> ts.size.toDouble,
      "streaming.trigger_ms" -> ph("triggerExecution"),
      "streaming.latest_offset_ms" -> ph("latestOffset"),
      "streaming.query_planning_ms" -> ph("queryPlanning"),
      "streaming.add_batch_ms" -> ph("addBatch"),
      "streaming.wal_commit_ms" -> ph("walCommit"),
      "streaming.commit_offsets_ms" -> ph("commitOffsets"),
      "streaming.rows_per_trigger" -> mean(ts.map(_.rows.toDouble)),
      "streaming.empty_trigger_share" -> ts.count(_.rows == 0).toDouble / ts.size)
  }

  /** Trigger phases are reported as durations; the named ones, laid end to
    * end, against the trigger's wall. */
  private def triggerUnattributed(rec: Recorder, runIds: Set[String], fromUs: Long): Double = {
    val named = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    val ts = rec.allTriggers.filter(t => runIds.contains(t.runId) && t.startUs >= fromUs)
    val wall = ts.map(_.durMs.getOrElse("triggerExecution", 0L)).sum
    if (wall <= 0) 0.0
    else math.max(0.0, 1.0 - ts.map(t => named.map(t.durMs.getOrElse(_, 0L)).sum).sum.toDouble / wall)
  }

  private def storage(commits: Long, files: Long, bytes: Long, userBytes: Long): Map[String, Double] =
    Map("log.commits" -> commits.toDouble,
      "log.files_per_commit" -> (if (commits > 0) files.toDouble / commits else 0.0),
      "log.bytes_per_user_byte" -> (if (userBytes > 0) bytes.toDouble / userBytes else 0.0))

  def logService(rec: Recorder, svc: LogService.Service, puts: Seq[Req], gets: Seq[Req],
      fromUs: Long, loadEndUs: Long, commitsAtLoadEnd: Long, userBytes: Long,
      ops: Seq[(String, Double)]): Map[String, Double] = {
    val logSpans = rec.allSpans.filter(s => s.name == "log.append" || s.name == "log.read_next")
    // each client request with the server-side log span inside its round trip
    def chains(reqs: Seq[Req], kind: String, logName: String) = reqs.filter(_.recvUs > 0).flatMap { r =>
      logSpans.find(s => s.name == logName && s.startUs >= r.sentUs && s.endUs <= r.recvUs).map { l =>
        (r, l, Seq(Span(s"op.$kind", r.req, r.dueUs, r.recvUs), Span(s"server.$kind", r.req, r.sentUs, r.recvUs), l))
      }
    }
    val put = chains(puts, "put", "log.append")
    val get = chains(gets, "get", "log.read_next")
    def side(cs: Seq[(Req, Span, Seq[Span])], prefix: String): (Map[String, Double], Double) = {
      val selfs = cs.map { case (r, l, ch) => (rec.selfTimes(ch, l.req), r.recvUs - r.dueUs) }
      val per = cs.map { case (_, l, _) =>
        val (js, st) = jobStats(rec, l.req)
        val wait = js.headOption.map(j => (j.startUs - l.startUs) / 1000.0).getOrElse(0.0)
        (l.durUs / 1000.0, wait, js.size.toDouble, st.map(_.tasks.toDouble).sum,
          rec.qesOf(l.req).map(_.files.toDouble).sum)
      }
      val serverSelf = mean(selfs.map(_._1.getOrElse(s"server.${prefix}", 0L) / 1000.0))
      (Map(s"server.${prefix}_self_ms" -> serverSelf,
        "ms" -> mean(per.map(_._1)), "wait_ms" -> mean(per.map(_._2)),
        "jobs" -> mean(per.map(_._3)), "tasks" -> mean(per.map(_._4)),
        "files" -> mean(per.map(_._5))), unattributed(selfs))
    }
    val (p, pu) = side(put, "put")
    val (g, gu) = side(get, "get")
    val runId = svc.query.runId.toString
    val lastIdx = rec.allTriggers.filter(t => t.runId == runId && t.startUs <= loadEndUs)
      .map(_.endCommitIndex).foldLeft(0L)(math.max)
    val (files, bytes) = Dirs.filesAndBytes(svc.dir.resolve("log").resolve("default").resolve("data"))
    val walrusQes = rec.allQes.filter(_.walrusScan)
    complete(Map(
      "server.put_self_ms" -> p("server.put_self_ms"), "server.get_self_ms" -> g("server.get_self_ms"),
      "log.append_ms" -> p("ms"), "log.append_wait_ms" -> p("wait_ms"),
      "log.append_jobs" -> p("jobs"), "log.append_tasks" -> p("tasks"),
      "log.read_next_ms" -> g("ms"), "log.read_next_wait_ms" -> g("wait_ms"),
      "log.read_next_jobs" -> g("jobs"), "log.read_next_tasks" -> g("tasks"),
      "log.read_next_files" -> g("files"),
      "sources.plan_ms" -> mean(walrusQes.map(q => q.phases.values.map { case (s, e) => (e - s).toDouble }.sum)),
      "streaming.lag_commits_end" -> math.max(0L, commitsAtLoadEnd - lastIdx).toDouble,
      "trace.put_unattributed_share" -> pu, "trace.get_unattributed_share" -> gu,
      "trace.trigger_unattributed_share" -> triggerUnattributed(rec, Set(runId), fromUs),
    ) ++ streamPhases(rec, Set(runId), fromUs) ++ storage(commitsAtLoadEnd, files, bytes, userBytes), ops)
  }

  /** The bulk half of `batch`; [[complete]] it together with [[llm]]. */
  def bulk(rec: Recorder, ops: Seq[BulkLog.Op], store: Seq[(Long, Long, Long)], userBytes: Long,
      streamRuns: Map[String, String]): Map[String, Double] = {
    def of(kinds: Set[String]) = ops.filter(o => kinds.contains(o.kind))
    val ingests = of(Set("ingest", "producer_ingest"))
    val spans = rec.allSpans.groupBy(_.req)
    def chain(o: BulkLog.Op): Seq[Span] = Span(s"op.${o.kind}", o.req, o.startUs, o.endUs) +:
      spans.getOrElse(o.req, Nil).filterNot(_.name.startsWith("op.")).sortBy(_.startUs).take(1)
    def opJobs(o: BulkLog.Op) = {
      val js = rec.jobsOf(o.req) ++ streamRuns.get(o.req).toSeq.flatMap(rec.jobsOf)
      (js, js.flatMap(rec.submitted))
    }
    def unattr(os: Seq[BulkLog.Op]) =
      unattributed(os.map(o => (rec.selfTimes(chain(o), o.req), o.endUs - o.startUs)))
    val ing = ingests.map { o =>
      val (js, st) = opJobs(o)
      val jobWall = Recorder.covered(js.map(j => (j.startUs, j.endUs)), o.startUs, o.endUs)
      (js.size.toDouble, st.map(_.tasks.toDouble).sum, st.map(_.runMs).sum / 1000.0,
        (o.endUs - o.startUs - jobWall) / 1e6, st.map(_.shuffleWriteBytes).sum / MB)
    }
    def drainOf(kind: String) = of(Set(kind)).map { o =>
      val (_, st) = opJobs(o)
      val qes = rec.qesOf(o.req)
      // file scans report the bytes they planned; the V2 source reports
      // only what Spark's input metrics saw
      val bytes = if (qes.exists(_.files > 0)) qes.map(_.fileBytes).sum else st.map(_.inputBytes).sum
      (st.map(_.tasks.toDouble).sum, bytes / MB, st.map(_.runMs).sum / 1000.0,
        qes.map(_.files.toDouble).sum)
    }
    val dr = drainOf("drain")
    val sr = drainOf("source_drain")
    val srcPlan = of(Set("source_drain")).flatMap(o => rec.qesOf(o.req))
      .map(q => q.phases.values.map { case (s, e) => (e - s).toDouble }.sum)
    val streamRunIds = streamRuns.values.toSet
    val n = store.size.max(1)
    Map(
      "log.ingest_jobs" -> mean(ing.map(_._1)), "log.ingest_tasks" -> mean(ing.map(_._2)),
      "log.ingest_executor_s" -> mean(ing.map(_._3)), "log.ingest_driver_s" -> mean(ing.map(_._4)),
      "log.ingest_shuffle_write_mb" -> mean(ing.map(_._5)),
      "log.ingest_files" -> mean(store.map(_._2.toDouble)),
      "log.drain_files" -> mean(dr.map(_._4)), "log.drain_bytes_read_mb" -> mean(dr.map(_._2)),
      "log.drain_executor_s" -> mean(dr.map(_._3)),
      "sources.plan_ms" -> mean(srcPlan), "sources.drain_tasks" -> mean(sr.map(_._1)),
      "sources.drain_bytes_read_mb" -> mean(sr.map(_._2)), "sources.drain_executor_s" -> mean(sr.map(_._3)),
      "trace.ingest_unattributed_share" -> unattr(ingests),
      "trace.drain_unattributed_share" -> unattr(of(Set("drain", "source_drain", "stream_drain"))),
      "trace.trigger_unattributed_share" -> triggerUnattributed(rec, streamRunIds, 0L),
    ) ++ streamPhases(rec, streamRunIds, 0L) ++ storage(store.map(_._1).sum / n,
      store.map(_._2).sum / n, store.map(_._3).sum / n, userBytes)
  }

  /** The query half of `batch`, rolled up as means per query. */
  def llm(rec: Recorder, runs: Seq[LlmPipeline.Run]): Map[String, Double] = {
    val spans = rec.allSpans.groupBy(_.req)
    val per = runs.map { r =>
      val (js, st) = jobStats(rec, r.req)
      val qes = rec.qesOf(r.req)
      def phase(k: String) = qes.map(_.phases.get(k).map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)).sum
      val planning = phase("analysis") + phase("optimization") + phase("planning")
      val critical = st.map(_.maxTaskMs).sum / 1000.0
      val kids = spans.getOrElse(r.req, Nil)
        .filter(s => s.name == "queries.build" || s.name == "queries.collect").map(s => (s.startUs, s.endUs))
      Map(
        "queries.analysis_ms" -> phase("analysis"), "queries.optimization_ms" -> phase("optimization"),
        "queries.planning_ms" -> phase("planning"), "queries.codegen_ms" -> r.codegenNs / 1e6,
        "queries.jobs" -> js.size.toDouble, "queries.side_jobs" -> js.count(_.startUs < r.builtUs).toDouble,
        "queries.stages" -> st.size.toDouble, "queries.tasks" -> st.map(_.tasks.toDouble).sum,
        "queries.single_task_stage_share" -> (if (st.isEmpty) 0.0 else st.count(_.tasks == 1).toDouble / st.size),
        "queries.executor_run_s" -> st.map(_.runMs).sum / 1000.0, "queries.critical_path_s" -> critical,
        "queries.scheduler_delay_s" -> math.max(0.0, (r.endUs - r.startUs) / 1e6 - planning / 1000.0 - critical),
        "queries.gc_s" -> st.map(_.gcMs).sum / 1000.0,
        "queries.shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / MB,
        "queries.shuffle_read_mb" -> st.map(_.shuffleReadBytes).sum / MB,
        "queries.spill_mb" -> st.map(_.spillBytes).sum / MB,
        "unattributed" -> ((r.endUs - r.startUs) - Recorder.covered(kids, r.startUs, r.endUs)).toDouble,
        "wall" -> (r.endUs - r.startUs).toDouble)
    }
    val keys = per.headOption.map(_.keySet).getOrElse(Set.empty) -- Set("unattributed", "wall")
    val wall = per.map(_("wall")).sum
    keys.map(k => k -> mean(per.map(_(k)))).toMap +
      ("trace.query_unattributed_share" -> (if (wall > 0) per.map(_("unattributed")).sum / wall else 0.0))
  }
}
