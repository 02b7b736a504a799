package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import graft.core.{ChunkMeta, GraftStore, StoreStats, TableMeta}

/** One timed interval. `kind` is "call" for a benchmark call into the
  * engine, "store" for a store call made during it, "job" for a Spark
  * job it launched. Times are System.nanoTime-based; job times come from
  * the listener's epoch milliseconds, converted with the tracer's
  * clock anchor. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one call, summed over its tasks. */
final class ExecAcc {
  val jobs = new AtomicLong
  val taskNs = new AtomicLong
  val inputBytes = new AtomicLong
  val recordsRead = new AtomicLong
  val outputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
}

/** Records spans in memory and writes them out when the run ends.
  *
  * Every call the benchmark makes into the engine goes through [[call]].
  * With tracing on, the call's span id is set as a Spark local property
  * before the call, so the listener can attribute each job (and its
  * tasks) to the call that launched it; store calls made by a
  * [[TimedStore]] are recorded as children of the open call. With
  * tracing off, [[call]] only times the call. */
final class Tracer(val runId: String, val enabled: Boolean) {
  import Tracer.CallProp
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val execByCall = new java.util.concurrent.ConcurrentHashMap[Long, ExecAcc]
  private val callOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]
  // the open call: the benchmark is a single client, so at most one call
  // is open at a time; store calls from engine thread pools see it too
  @volatile private var open: Long = 0L
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def call[A](kind: String, sc: SparkContext)(body: => A): (A, Span) = {
    val id = ids.incrementAndGet()
    if (enabled) { sc.setLocalProperty(CallProp, id.toString); open = id }
    val t0 = System.nanoTime()
    try {
      val a = body
      val s = Span(id, 0L, "call", kind, t0, System.nanoTime())
      if (enabled) spans.add(s)
      (a, s)
    } finally if (enabled) { open = 0L; sc.setLocalProperty(CallProp, null) }
  }

  def store[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally record(name, t0, System.nanoTime())
    }

  def record(storeOp: String, t0: Long, t1: Long): Unit = {
    spans.add(Span(ids.incrementAndGet(), open, "store", storeOp, t0, t1)); ()
  }

  def exec(callId: Long): ExecAcc = execByCall.getOrDefault(callId, new ExecAcc)
  def allSpans: Seq[Span] = spans.asScala.toSeq
  def spansOf(callId: Long): Seq[Span] = allSpans.filter(_.parent == callId)

  val listener: SparkListener = new SparkListener {
    private def callOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(CallProp)))
        .map(_.toLong).getOrElse(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = callOf(e.properties)
      if (c != 0L) {
        jobStarts.put(e.jobId, (c, e.time))
        e.stageIds.foreach(s => callOfStage.put(s, c))
        execByCall.computeIfAbsent(c, _ => new ExecAcc).jobs.incrementAndGet()
      }
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStarts.remove(e.jobId)).foreach { case (c, t0) =>
        spans.add(Span(ids.incrementAndGet(), c, "job", s"job-${e.jobId}",
          msToNs(t0), msToNs(math.max(t0, e.time))))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = callOfStage.getOrDefault(e.stageId, 0L)
      val m = e.taskMetrics
      if (c != 0L && m != null) {
        val a = execByCall.computeIfAbsent(c, _ => new ExecAcc)
        a.taskNs.addAndGet(m.executorRunTime * 1000000L)
        a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        a.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        a.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
      ()
    }
  }

  /** One JSON object per line: run id, span id, parent, kind, name, and
    * start/end in microseconds from the first span of the run. */
  def writeSpans(path: Path): Unit = {
    val all = allSpans.sortBy(s => (s.startNs, s.id))
    val base = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":"${s.name}","start_us":${(s.startNs - base) / 1000},""" +
        s""""end_us":${(s.endNs - base) / 1000}}"""
    }
    Files.write(path, lines.asJava)
    ()
  }
}

object Tracer {
  val CallProp = "perfbench.call"

  /** Length of the union of intervals, in ns — children of one call can
    * overlap (store calls from the engine's parallel IO pool, concurrent
    * jobs), so their durations are never summed directly. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Clip child intervals to the parent's. */
  def clip(p: Span, cs: Seq[Span]): Seq[(Long, Long)] =
    cs.map(c => (math.max(c.startNs, p.startNs), math.min(c.endNs, p.endNs)))
      .filter { case (s, e) => e > s }
}

/** Pass-through timer around a store: every [[GraftStore]] member is
  * forwarded to `inner`, including the ones the trait gives a default
  * for, so wrapping a store never changes what the engine does with it.
  * Each forwarded call is recorded as a store span. Counters stay in the
  * inner store's [[StoreStats]]; chunk bytes are measured before the
  * files are handed over, since a chunk save consumes them. */
final class TimedStore(val inner: GraftStore, tracer: Tracer) extends GraftStore {
  override val stats: StoreStats = inner.stats
  val chunkBytesOffered = new AtomicLong
  private def t[A](name: String)(a: => A): A = tracer.store(name)(a)

  override def chunkCodec: String = inner.chunkCodec
  def chunkPath(hash: String): String = inner.chunkPath(hash)
  def hasChunk(hash: String): Boolean = t("chunk_has")(inner.hasChunk(hash))
  def saveChunk(hash: String, producedFile: Path): Unit = {
    chunkBytesOffered.addAndGet(Files.size(producedFile))
    t("chunk_put")(inner.saveChunk(hash, producedFile))
  }
  override def saveChunks(batch: Seq[(String, Path)]): Unit = {
    batch.foreach { case (_, p) => chunkBytesOffered.addAndGet(Files.size(p)) }
    t("chunk_put")(inner.saveChunks(batch))
  }

  def saveTableMeta(meta: TableMeta): String = t("meta_put")(inner.saveTableMeta(meta))
  def loadTableMeta(tableHash: String): TableMeta =
    t("meta_get")(inner.loadTableMeta(tableHash))
  def hasTable(tableHash: String): Boolean = t("meta_get")(inner.hasTable(tableHash))
  override def tableEnvelope(tableHash: String): (String, Seq[String], Long, Long) =
    t("meta_get")(inner.tableEnvelope(tableHash))
  override def chunkStream(tableHash: String): () => Iterator[ChunkMeta] =
    t("meta_get")(inner.chunkStream(tableHash))

  def memoGet(opHash: String): Option[String] = t("memo_get")(inner.memoGet(opHash))
  def memoPut(opHash: String, resultHash: String): Unit =
    t("memo_put")(inner.memoPut(opHash, resultHash))
  override def memoDel(opHash: String): Unit = t("memo_put")(inner.memoDel(opHash))
  // forwarded whole, not rebuilt from memoGet/memoPut: a backend may
  // override it, and the two paths must not differ under the timer. The
  // lookup before `compute` and the put after it are recorded as spans;
  // `compute` itself belongs to the enclosing call.
  override def memoized(opHash: String)(compute: => String): String =
    if (!tracer.enabled) inner.memoized(opHash)(compute)
    else {
      var mark = System.nanoTime()
      var computed = false
      val r = inner.memoized(opHash) {
        tracer.record("memo_get", mark, System.nanoTime())
        computed = true
        val h = compute
        mark = System.nanoTime()
        h
      }
      tracer.record(if (computed) "memo_put" else "memo_get", mark, System.nanoTime())
      r
    }

  def putRootObject(json: String): String = t("root")(inner.putRootObject(json))
  def saveRoot(json: String): String = t("root")(inner.saveRoot(json))
  def setRootPointer(rootHash: String): Unit = t("root")(inner.setRootPointer(rootHash))
  def clearRootPointer(): Unit = t("root")(inner.clearRootPointer())
  def currentRootHash: Option[String] = t("root")(inner.currentRootHash)
  def loadRoot(rootHash: String): String = t("root")(inner.loadRoot(rootHash))
  def hasRoot(rootHash: String): Boolean = t("root")(inner.hasRoot(rootHash))

  def listRoots: Seq[String] = t("list")(inner.listRoots)
  def listTables: Seq[String] = t("list")(inner.listTables)
  def listChunks: Seq[String] = t("list")(inner.listChunks)
  def listMemos: Seq[(String, String)] = t("list")(inner.listMemos)
  def deleteRoot(hash: String): Unit = t("delete")(inner.deleteRoot(hash))
  def deleteTable(hash: String): Unit = t("delete")(inner.deleteTable(hash))
  def deleteChunk(hash: String): Unit = t("delete")(inner.deleteChunk(hash))
  def deleteMemo(opHash: String): Unit = t("delete")(inner.deleteMemo(opHash))
}
