package perfbench

import perfbench.Main.Outcome

/** Turns a run's records into the printed metrics. */
object Metrics {
  type M = Seq[(String, Double, String)]

  def endToEnd(r: Run, out: Outcome): M = {
    val ms = r.ops.filterNot(_.traced).map(_.ms).toSeq
    opDetail(r, r.ops.filterNot(_.traced).toSeq)
    Seq(
      ("setup_s", out.setupS, "s"),
      ("op_p50_ms", Run.median(ms), "ms"))
  }

  /** Per-call decomposition of wall time: Spark-job time (union of the
    * call's job intervals), store time not overlapped by a job, and the
    * rest (self). The three add up to the wall time. */
  final case class Split(wallMs: Double, jobMs: Double, storeMs: Double, jobs: Int) {
    def selfMs: Double = wallMs - jobMs - storeMs
    def driverMs: Double = wallMs - jobMs
    def +(o: Split) = Split(wallMs + o.wallMs, jobMs + o.jobMs, storeMs + o.storeMs, jobs + o.jobs)
  }

  def split(r: Run, s: Span): Split = {
    val kids = r.tracer.spansOf(s.id)
    val jobs = Tracer.clip(s, kids.filter(_.kind == "job"))
    val stores = Tracer.clip(s, kids.filter(_.kind == "store"))
    val jobNs = Tracer.unionNs(jobs)
    val allNs = Tracer.unionNs(jobs ++ stores)
    Split(s.durNs / 1e6, jobNs / 1e6, (allNs - jobNs) / 1e6, kids.count(_.kind == "job"))
  }

  def perLayer(r: Run, w: Workload, out: Outcome): M = {
    val traced = r.ops.filter(_.traced).toSeq
    val untraced = r.ops.filterNot(_.traced).toSeq
    val n = math.max(1, traced.length).toDouble
    val calls = traced.flatMap(_.calls)
    val perOp = traced.map { op =>
      val s = op.calls.map { case (_, sp) => split(r, sp) }.foldLeft(Split(0, 0, 0, 0))(_ + _)
      // time between the op's calls is the benchmark's own and counts as self
      s.copy(wallMs = op.ms)
    }
    val callIds = calls.map(_._2.id).toSet
    val storeSpans = r.tracer.allSpans.filter(s => s.kind == "store" && callIds.contains(s.parent))
    def sCount(name: String) = storeSpans.count(_.name == name) / n
    def sMs(name: String) = storeSpans.filter(_.name == name).map(_.durNs).sum / 1e6 / n
    val (a, b) = (out.tracedStart, out.tracedEnd)
    def d(k: String) = (b.stats(k) - a.stats(k)).toDouble
    val memoGets = d("memoHits") + d("memoMisses")
    val exec = calls.map { case (_, sp) => r.tracer.exec(sp.id) }
    def ex(f: ExecAcc => Long) = exec.map(f).sum.toDouble / n
    val shared = if (b.chunks.isEmpty) 0.0 else (b.chunks & a.chunks).size.toDouble / b.chunks.size
    val recordsRead = exec.map(_.recordsRead.get).sum.toDouble
    kindDetail(r, calls)
    opDetail(r, traced)
    Seq(
      ("op.ms", perOp.map(_.wallMs).sum / n, "ms"),
      ("op.self_ms", perOp.map(_.selfMs).sum / n, "ms"),
      ("op.driver_ms", perOp.map(_.driverMs).sum / n, "ms"),
      ("op.store_ms", perOp.map(_.storeMs).sum / n, "ms"),
      ("op.job_ms", perOp.map(_.jobMs).sum / n, "ms"),
      ("op.jobs", perOp.map(_.jobs).sum / n, "count"),
      ("op.calls", calls.length / n, "count"),
      ("store.ms", storeSpans.map(_.durNs).sum / 1e6 / n, "ms"),
      ("store.meta_get.n", sCount("meta_get"), "count"),
      ("store.meta_get.ms", sMs("meta_get"), "ms"),
      ("store.root.n", sCount("root"), "count"),
      ("store.root.ms", sMs("root"), "ms"),
      ("store.memo_get.n", memoGets / n, "count"),
      ("store.memo_put.n", sCount("memo_put"), "count"),
      ("store.meta_put.n", sCount("meta_put"), "count"),
      ("store.chunk_put.n", d("chunkSaves") / n, "count"),
      ("store.chunk_put.mb", (b.chunkBytes - a.chunkBytes) / 1e6 / n, "MB"),
      ("store.chunk_skip.n", d("chunkSkips") / n, "count"),
      ("memo.hit_ratio", if (memoGets == 0) 0.0 else d("memoHits") / memoGets, "ratio"),
      ("chunks.written_per_op", d("chunkSaves") / n, "count"),
      ("chunks.shared_ratio", shared, "ratio"),
      ("exec.jobs", ex(_.jobs.get), "count"),
      ("exec.task_s", ex(_.taskNs.get) / 1e9, "s"),
      ("exec.input_mb", ex(_.inputBytes.get) / 1e6, "MB"),
      ("exec.output_mb", ex(_.outputBytes.get) / 1e6, "MB"),
      ("exec.shuffle_mb", ex(_.shuffleBytes.get) / 1e6, "MB"),
      ("exec.gc_ms", (b.gcMs - a.gcMs) / n, "ms"),
      ("scan.rows_read_per_row", if (r.rowsReturned == 0) 0.0 else recordsRead / r.rowsReturned, "ratio"),
      ("planner.sweep_ms", out.probes("planner.sweep_ms"), "ms"),
      ("planner.chunks", out.probes("planner.chunks"), "count"),
      ("canonical.sha256_mb_s", out.probes("canonical.sha256_mb_s"), "MB/s"),
      ("canonical.key_encode_krows_s", out.probes("canonical.key_encode_krows_s"), "krows/s"),
      ("gc.ms", out.probes("gc.ms"), "ms"),
      ("gc.reclaimed_mb", out.probes("gc.reclaimed_mb"), "MB"),
      ("trace.overhead", overhead(traced, untraced), "ratio"))
  }

  /** Traced over untraced op latency: the geometric mean, over the op
    * classes (kind and tag) both loops ran, of the ratio of their
    * medians — op classes differ in cost, and the two loops need not
    * run them in the same proportions. With no class in common, the
    * ratio of the overall medians. */
  def overhead(traced: Seq[OpRec], untraced: Seq[OpRec]): Double = {
    def byClass(ops: Seq[OpRec]) = ops.groupBy(o => (o.kind, o.tag)).map { case (c, os) => c -> Run.median(os.map(_.ms)) }
    val (t, u) = (byClass(traced), byClass(untraced))
    val logs = t.keySet.intersect(u.keySet).toSeq.map(c => math.log(t(c) / u(c)))
    if (logs.isEmpty) Run.median(traced.map(_.ms)) / Run.median(untraced.map(_.ms))
    else math.exp(logs.sum / logs.length)
  }

  /** Per call kind (`sql.<statement kind>` or a library call), into the detail
    * line: p50 wall, and the mean split of wall into self, store and job
    * time, which add up to the mean wall. */
  private def kindDetail(r: Run, calls: Seq[(String, Span)]): Unit =
    calls.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (kind, cs) =>
      val ss = cs.map { case (_, sp) => split(r, sp) }
      val k = cs.length.toDouble
      r.detail(s"$kind.n") = (k, "count")
      r.detail(s"$kind.ms") = (Run.median(ss.map(_.wallMs)), "ms")
      r.detail(s"$kind.mean_ms") = (ss.map(_.wallMs).sum / k, "ms")
      r.detail(s"$kind.self_ms") = (ss.map(_.selfMs).sum / k, "ms")
      r.detail(s"$kind.store_ms") = (ss.map(_.storeMs).sum / k, "ms")
      r.detail(s"$kind.job_ms") = (ss.map(_.jobMs).sum / k, "ms")
      r.detail(s"$kind.driver_ms") = (Run.median(ss.map(_.driverMs)), "ms")
      r.detail(s"$kind.jobs") = (ss.map(_.jobs).sum / k, "count")
    }

  /** Workload-named latencies of the loop's ops, with sample counts. */
  private def opDetail(r: Run, ops: Seq[OpRec]): Unit = {
    r.detail("ops.n") = (ops.length.toDouble, "count")
    Run.tail(ops.map(_.ms)).foreach { case (p, v) => r.detail(s"op_p${p}_ms") = (v, "ms") }
    r.memoByTag.foreach { case (tag, (h, m)) =>
      if (h + m > 0) r.detail(s"memo.hit_ratio.$tag") = (h.toDouble / (h + m), "ratio")
    }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def detailJson(r: Run): String = {
    val m = r.detail.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val c = r.checks.map(c => s""""${c.name}":${c.ok}""")
    val nt = r.notes.map { case (k, v) => s""""$k":"$v"""" }
    s"""{"detail":{${m.mkString(",")}},"checks":{${c.mkString(",")}},"notes":{${nt.mkString(",")}}}"""
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int, metrics: M): String = {
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${m.mkString(",")}}}"""
  }
}
