package perfbench

/** Per-layer metrics of the traced run, computed from the per-call
  * records. Layers are named after graft's modules; `perfbench/METRICS.md`
  * maps each to the end-to-end metric it should move. A layer the workload
  * does not call reads 0. */
object Layers {
  private val queryKinds = Set("point", "agg", "mv", "read")
  private val fsOps = Seq("list", "open", "status", "create", "rename", "delete")

  def unit(k: String): String =
    if (k == "graftlog.log_opens_slope") "opens/commit"
    else if (k.endsWith("_ms") || k.endsWith("_ms_per_op")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.contains("bytes")) "bytes"
    else if (k.endsWith("ratio")) "ratio"
    else "count"

  def apply(w: Workload, l: Loop, untraced: Loop): Map[String, Double] = {
    import Stats.{mean, median}
    val recs = l.recs.toSeq
    def of(kinds: Set[String]) = recs.filter(r => kinds(r.kind))
    def driverMs(r: OpRec) =
      r.ms - Stats.covered(r.jobs, r.startMs, r.endMs).toDouble
    val writes = of(Set(w.primary))
    val queries = of(queryKinds)
    val reads = of(Set(w.read))
    val merges = of(Set("merge"))
    val deletes = of(Set("delete"))
    val refreshes = of(Set("refresh"))
    val waves = of(Set("wave"))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // set by the workloads that call these layers
    for (k <- Seq("mvrewrite.hit_ratio", "aggview.versions_folded",
        "neardup.state_files", "neardup.sidecar_bytes", "neardup.flag_ratio"))
      m(k) = 0.0

    m("sessions.build_s") = median(Spans.named("setup.session").map(_.ms)) / 1e3
    m("graftlog.commit_ms") = median(writes.map(_.ms))
    m("graftlog.commit_jobs") = mean(writes.map(_.n("spark.jobs")))
    m("graftlog.commit_driver_ms") = median(writes.map(driverMs))
    for (op <- fsOps; cl <- Seq("log", "data", "sidecar"))
      m(s"graftlog.commit_fs_$op.$cl") = mean(writes.map(_.n(s"fs.$op.$cl")))

    // log opens per write call against commits since the table's last
    // checkpoint, which shows as a checkpoint file created by a call
    var since = 0
    val pts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    of(Set(w.primary, "merge", "delete")).foreach { r =>
      if (r.kind == w.primary) pts += ((since.toDouble, r.n("fs.open.log")))
      since = if (r.n("checkpoint_writes") > 0) 0 else since + 1
    }
    m("graftlog.log_opens_slope") = Stats.slope(pts.toSeq)
    val ckpt = writes.filter(_.n("checkpoint_writes") > 0)
    m("graftlog.checkpoint_commits") = ckpt.size.toDouble
    m("graftlog.checkpoint_commit_ms") = median(ckpt.map(_.ms))
    for (cl <- Seq("data", "log", "checkpoint"))
      m(s"graftlog.bytes_written.$cl") =
        mean(writes.map(_.n(s"bytes_written.$cl")))
    m("graftlog.merge_jobs") = mean(merges.map(_.n("spark.jobs")))
    m("graftlog.merge_fs_ops") = mean(merges.map(_.fsAll))
    m("graftlog.delete_fs_ops") = mean(deletes.map(_.fsAll))

    // metadata reads and skipping per call of the workload's read kind
    m("graftlog.read_fs_list") = mean(reads.map(_.fs("list")))
    m("graftlog.read_fs_status") = mean(reads.map(_.fs("status")))
    m("graftlog.read_fs_open") =
      mean(reads.map(r => r.n("fs.open.log") + r.n("fs.open.sidecar")))
    m("query.pre_job_ms") = median(reads.filter(_.jobs.nonEmpty)
      .map(r => (r.jobs.map(_._1).min - r.startMs).toDouble))

    val total = reads.map(_.n("fileindex.files_total")).sum
    val read = reads.map(_.n("fileindex.files_read")).sum
    m("fileindex.files_total") = mean(reads.map(_.n("fileindex.files_total")))
    m("fileindex.files_read") = mean(reads.map(_.n("fileindex.files_read")))
    m("fileindex.skip_ratio") = if (total > 0) 1.0 - read / total else 0.0
    m("fileindex.bytes_read") = mean(reads.map(_.n("fileindex.bytes_read")))

    for (ph <- Seq("analysis", "optimization", "planning"))
      m(s"sql.${ph}_ms") = median(queries.map(_.n(s"sql.${ph}_us") / 1e3))

    m("aggview.refresh_ms") = median(refreshes.map(_.ms))
    m("aggview.refresh_jobs") = mean(refreshes.map(_.n("spark.jobs")))
    m("aggview.refresh_fs_ops") = mean(refreshes.map(_.fsAll))

    val probes = Spans.named("probe")
    def inside(r: OpRec) = probes.filter(s =>
      s.startMs >= r.startMs && s.endMs <= r.endMs)
    def probeMs(r: OpRec) = inside(r).map(_.ms).sum
    m("neardup.probe_ms") = median(waves.map(probeMs))
    m("neardup.probe_jobs") = mean(waves.map(r => inside(r).map(s =>
      r.jobs.count(j => j._1 >= s.startMs && j._1 <= s.endMs)).sum.toDouble))
    m("neardup.fs_open_per_wave") = mean(waves.map(_.fs("open")))
    m("neardup.init_ms") = median(Spans.named("neardup.init").map(_.ms))
    for ((k, p) <- Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch",
        "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
        "latest_offset" -> "latestOffset"))
      m(s"stream.${k}_ms") = mean(waves.map(_.n(s"stream.$p")))
    m("stream.drain_overhead_ms") = median(waves.map { r =>
      Spans.named("drain").filter(s =>
        s.startMs >= r.startMs && s.endMs <= r.endMs).map(_.ms).sum -
        probeMs(r)
    })

    def tot(k: String) = recs.map(_.n(k)).sum + l.other.getOrElse(k, 0L)
    m("spark.jobs") = tot("spark.jobs")
    m("spark.stages") = tot("spark.stages")
    m("spark.tasks") = tot("spark.tasks")
    m("spark.task_run_ms") = tot("spark.task_run_ms")
    m("spark.task_cpu_ms") = tot("spark.task_cpu_ns") / 1e6
    m("spark.shuffle_write_bytes") = tot("spark.shuffle_write_bytes")
    val busy = Stats.covered(l.jobs.toSeq, l.startMs, l.endMs).toDouble
    val wall = (l.endMs - l.startMs).toDouble
    m("spark.timed_wall_ms") = wall
    m("spark.job_busy_ms") = busy
    m("spark.driver_only_ms") = wall - busy
    m("jvm.gc_ms") = l.gc.toDouble
    m("ops.count") = recs.size.toDouble

    // the same seeded call sequence, traced and untraced: the first k calls
    val k = math.min(l.order.size, untraced.order.size)
    val (t, u) = (l.order.take(k).sum, untraced.order.take(k).sum)
    m("trace.overhead_ms_per_op") = if (k > 0) (t - u) / k else 0.0
    m("trace.overhead_ratio") = if (u > 0) t / u - 1.0 else 0.0
    m.toMap
  }
}
