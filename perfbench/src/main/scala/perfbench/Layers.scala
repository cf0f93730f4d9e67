package perfbench

/** Per-layer metrics of a traced run, from its spans and their counters.
  *
  * Spark is lazy: a span holds the work that ran during its call, not the
  * work its call described. The tail of `enrich`, for one, executes inside
  * `store.snapshot_write`, and a query's plan runs inside `api.exec`.
  *
  * Ingest metrics are medians over the run's ingest ops, and query metrics
  * medians over its query ops; set-up ops count, so a workload whose
  * measured ops do not touch a layer still reports the set-up's use of it.
  */
object Layers {
  import Loop.median

  def metrics(tr: Tracer, records: Seq[OpRecord], ingests: Seq[Map[String, Any]],
      measured: Seq[OpRecord], files: Int,
      counts: Map[String, (Double, String)]): Map[String, (Double, String)] = {
    val ok = records.filter(_.ok).map(_.id).toSet
    val spans = tr.spans.toSeq.filter(s => ok(s.op))
    def named(name: String) = spans.filter(_.name == name)
    // per op, the sum over the op's spans of that name; then the median
    def med(ss: Seq[Span], f: Span => Double): Double =
      median(ss.groupBy(_.op).values.map(_.map(f).sum).toSeq)
    def ing(key: String) = median(ingests.filter(_("ok") == true)
      .map(_(key).asInstanceOf[Number].doubleValue))

    val wallS: Span => Double = _.wallMs / 1e3
    val wallMs: Span => Double = _.wallMs
    val jobs: Span => Double = _.counters.jobs.toDouble
    val taskS: Span => Double = _.counters.runMs / 1e3
    val taskMs: Span => Double = _.counters.runMs.toDouble
    val idleMs: Span => Double = _.idleMs
    val shuffleMb: Span => Double =
      s => (s.counters.shuffleRead + s.counters.shuffleWrite) / 1e6

    val queries = records.filter(r => r.ok && !r.kind.contains(".") && r.kind != "ingest")
    val qIds = queries.map(_.id).toSet
    def inQuery(name: String*) = spans.filter(s => qIds(s.op) && name.contains(s.name))
    val execs = inQuery("api.build", "api.exec", "hydrate.exec")
    val apiExec = inQuery("api.exec")
    val rowsOut = queries.map(_.rows).sum.toDouble
    val (s, ms, count, mb, ratio) = ("s", "ms", "count", "MB", "ratio")

    val m = Map(
      "indexer.read_repo_s" -> (med(named("indexer.read_repo"), wallS), s),
      "indexer.index_files_s" -> (med(named("indexer.index_files"), wallS), s),
      "indexer.jobs" -> (med(named("indexer.read_repo") ++ named("indexer.index_files"), jobs), count),
      "indexer.task_s" -> (med(named("indexer.index_files"), taskS), s),
      "indexer.idle_s" -> (med(named("indexer.index_files"), idleMs) / 1e3, s),
      "indexer.shuffle_mb" -> (med(named("indexer.index_files"), shuffleMb), mb),
      "indexer.files" -> (files.toDouble, count),
      "indexer.error_files" -> (ing("error_files"), count),
      "indexer.parse_ok_frac" -> (1.0 - ing("error_files") / files, ratio),
      "indexer.cached_mb_after_op" -> (ing("cached_mb_after_op"), mb),
      "enrich.enrich_s" -> (med(named("enrich.enrich"), wallS), s),
      "enrich.enrich_jobs" -> (med(named("enrich.enrich"), jobs), count),
      "enrich.task_s" -> (med(named("enrich.enrich"), taskS), s),
      "merge.snapshot_union_s" -> (med(named("merge.snapshot_union"), wallS), s),
      "store.snapshot_write_s" -> (med(named("store.snapshot_write"), wallS), s),
      "store.snapshot_write_jobs" -> (med(named("store.snapshot_write"), jobs), count),
      "store.snapshot_write_task_s" -> (med(named("store.snapshot_write"), taskS), s),
      "store.snapshot_write_shuffle_mb" -> (med(named("store.snapshot_write"), shuffleMb), mb),
      "store.snapshot_mb" -> (ing("snapshot_bytes") / 1e6, mb),
      "store.snapshot_read_s" -> (med(named("store.snapshot_read"), wallS), s),
      "store.snapshot_read_jobs" -> (med(named("store.snapshot_read"), jobs), count),
      "store.srctrl_write_s" -> (med(named("store.srctrl_write"), wallS), s),
      "store.srctrl_write_jobs" -> (med(named("store.srctrl_write"), jobs), count),
      "store.srctrl_mb" -> (ing("srctrl_bytes") / 1e6, mb),
      "store.nodes" -> (ing("nodes"), count),
      "store.edges" -> (ing("edges"), count),
      "store.locations" -> (ing("locations"), count),
      "store.stub_frac" -> (ing("stubs") / ing("nodes"), ratio),
      "api.open_s" -> (med(named("api.open"), wallS), s),
      "api.build_p50_ms" -> (med(inQuery("api.build"), wallMs), ms),
      "api.build_jobs_per_query" -> (med(inQuery("api.build"), jobs), count),
      "api.plan_p50_ms" -> (med(inQuery("api.plan"), wallMs), ms),
      "api.exec_p50_ms" -> (med(apiExec, wallMs), ms),
      "api.exec_jobs_per_query" -> (med(apiExec, jobs), count),
      "api.exec_tasks_per_query" -> (med(apiExec, _.counters.tasks.toDouble), count),
      "api.task_ms_per_query" -> (med(execs, taskMs), ms),
      "api.idle_ms_per_query" -> (med(execs, idleMs), ms),
      "api.rows_read_per_row" ->
        (execs.map(_.counters.inputRecords).sum / math.max(1.0, rowsOut), ratio),
      "hydrate.p50_ms" -> (med(inQuery("hydrate.exec"), wallMs), ms),
      "indexer.git_changes_ms" -> (med(named("indexer.git_changes"), wallMs), ms),
      "api.update_version_s" -> (med(named("api.update_version"), wallS), s),
      "api.update_version_jobs" -> (med(named("api.update_version"), jobs), count),
      "api.update_version_task_s" -> (med(named("api.update_version"), taskS), s),
      "api.commit_s" -> (med(named("api.commit"), wallS), s),
      "api.commit_jobs" -> (med(named("api.commit"), jobs), count),
      "api.read_jobs_per_query" -> (median(named("api.read").map(jobs)), count),
      "spark.failed_tasks" -> (tr.failedTasks.toDouble, count),
      "spark.gc_s" -> (tr.spans.map(_.counters.gcMs).sum / 1e3, s),
      "trace.op_p50_ms" -> (median(measured.flatMap(_.ms)), ms),
    )
    val byShape = queries.map(_.kind).distinct.map { shape =>
      s"api.op.$shape.p50_ms" -> (median(queries.filter(_.kind == shape).flatMap(_.ms)), ms)
    }
    val analytics = for {
      op <- Seq("scc", "cc", "bfs", "betweenness", "anf")
      arm <- Seq("kernel", "dist")
      ss = named(s"enrich.analytics.$op.$arm")
      metric <- Seq(s"enrich.analytics.$op.${arm}_s" -> (med(ss, wallS), s),
        s"enrich.analytics.$op.${arm}_jobs" -> (med(ss, jobs), count))
    } yield metric
    m ++ byShape ++ analytics ++ counts
  }

  /** Every span with its counters and top call sites, for the artifact. */
  def dump(tr: Tracer): Seq[Map[String, Any]] = tr.spans.toSeq.map { s =>
    val c = s.counters
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "wall_ms" -> s.wallMs, "idle_ms" -> s.idleMs,
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "failed_tasks" -> c.failedTasks, "task_ms" -> c.runMs, "gc_ms" -> c.gcMs,
      "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite,
      "input_records" -> c.inputRecords, "spill" -> c.spill,
      "call_sites" -> c.callSites.toSeq.sortBy(-_._2).take(5)
        .map { case (k, v) => Map("site" -> k, "jobs" -> v) })
  }
}
