package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.{Catalog, Gc, Hashing, KeyCodec, MergePlanner, TableRef}

/** One workload of the benchmark. A run writes the workload's inputs,
  * builds the starting store three times (each build replaces the
  * previous store; the first, throwaway store also takes the warm-up
  * ops), runs the timed closed loop of [[step]]s, then [[finish]]es:
  * post-loop work and the correctness checks. */
trait Workload {
  /** Write the seeded inputs. Not part of set-up time. */
  def prepare(r: Run): Unit
  /** Build the starting store in a fresh store, replacing the last one. */
  def setup(r: Run): Unit
  /** JIT warm-up: a few untimed ops on the current (throwaway) store. */
  def warmup(r: Run): Unit
  /** Re-create the engine handles after `r.tracedOps` changed. */
  def retrace(r: Run): Unit
  def step(r: Run, i: Int): Unit
  def finish(r: Run): Unit
  /** Tables the layer probes run on. */
  def probeTables: Seq[(StoreHandle, TableRef)]
  def mainStore: StoreHandle
}

/** Usage: perfbench.Main --workload <refresh|read> --seed <n>
  *   --seconds <s> --trace <0|1> --tmp <dir> [--ops <n>]
  *   [--wrong-expected 1] [--spans <file>]
  *
  * Prints an environment line, a detail line and, last, the result line
  * `{"correct":…, "attempted":…, "failed":…, "metrics":{…}}`: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. */
object Main {
  val SetupReps = 3
  /** Input size: 2,000 orders, about 8,000 lineitem rows. */
  val Orders = 2000L
  /** Chunk target: about 16 lineitem and 4 orders chunks. Larger tables
    * or finer chunks make each of the three set-ups and each REFRESH ALL
    * slower, and fewer batches fit in a run. */
  val ChunkRows = 512L

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val tmp = Paths.get(a("tmp"))
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val env0 = Env.capture()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w: Workload = workload match {
      case "refresh" => new RefreshWorkload(Orders, ChunkRows)
      case "read" => new ReadWorkload(Orders, ChunkRows)
      case other => sys.error(s"unknown workload: $other")
    }
    val r = new Run(spark, workload, seed, seconds, trace, tmp,
      a.get("ops").map(_.toInt), a.get("wrong-expected").contains("1"))
    try {
      val out = execute(r, w)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val env1 = Env.capture()
      val env = Env.json(cpus, s"local[$cpus]", seed, env0, env1)
      println(s"""{"env":$env}""")
      val metrics = if (trace) Metrics.perLayer(r, w, out) else Metrics.endToEnd(r, out)
      println(Metrics.detailJson(r))
      a.get("spans").foreach(p => r.tracer.writeSpans(Paths.get(p)))
      val failed = r.failedOps + r.checks.count(!_.ok)
      val attempted = r.ops.length + r.checks.length
      println(Metrics.resultJson(failed == 0, attempted, failed, metrics))
    } finally {
      r.dropAllStores()
      spark.stop()
    }
  }

  /** Timings gathered by [[execute]]. */
  final case class Outcome(setupS: Double, probes: Map[String, Double],
      tracedStart: StatsMark, tracedEnd: StatsMark)

  final case class StatsMark(stats: Map[String, Long], chunkBytes: Long, gcMs: Long,
      chunks: Set[String])

  def execute(r: Run, w: Workload): Outcome = {
    w.prepare(r)
    val first = r.timed(w.setup(r))._2
    val (_, warmS) = r.timed(w.warmup(r))
    val builds = first +: (2 to SetupReps).map(_ => r.timed(w.setup(r))._2)
    val setupS = warmS + Run.median(builds)
    r.detail("setup.warmup_s") = (warmS, "s")
    r.detail("setup.build_s") = (Run.median(builds), "s")
    r.phase(f"set-up: warm-up $warmS%.2f s, builds ${builds.map(b => f"$b%.2f").mkString(" ")} s")
    // the untraced loop; a traced run follows it with a traced loop of the
    // same length, so the overhead of tracing is measured in the run
    r.tracedOps = false
    System.gc() // set-up garbage is collected before timing, not during it
    val untracedS = r.loop(r.seconds, r.fixedOps.map(n => if (r.trace) (n + 1) / 2 else n))(
      i => w.step(r, i))
    var tracedS = 0.0
    var m0: StatsMark = null; var m1: StatsMark = null
    if (r.trace) {
      r.tracedOps = true
      w.retrace(r)
      m0 = mark(w)
      tracedS = r.loop(r.seconds, r.fixedOps.map(_ / 2))(i => w.step(r, i))
      m1 = mark(w)
      r.tracedOps = false
      w.retrace(r)
    }
    r.phase(f"loop: ${r.ops.length} ops in ${untracedS + tracedS}%.2f s: " +
      r.ops.map(o => f"${o.tag}%s ${o.ms}%.0f").mkString(", "))
    w.finish(r)
    r.phase("finished")
    // every run ends with a GC of its store, keeping only the current root
    val store = w.mainStore
    val before = store.bytesOnDisk
    val (_, gcS) = r.timed(r.call("gc")(Gc.run(store.fs, Nil)))
    val gc = Map("gc.ms" -> gcS * 1000, "gc.reclaimed_mb" -> (before - store.bytesOnDisk) / 1e6)
    val probes = gc ++ (if (r.trace) Probes.run(r, w) else Map.empty[String, Double])
    Outcome(setupS, probes, m0, m1)
  }

  def mark(w: Workload): StatsMark = {
    val h = w.mainStore
    val cat = new Catalog(h.fs)
    val chunks = cat.root.values.flatMap(e => h.fs.loadTableMeta(e.tableHash).chunks.map(_.hash)).toSet
    StatsMark(h.fs.stats.snapshot, h.timed.chunkBytesOffered.get, Env.jvmGcMs, chunks)
  }
}

/** Layer probes on the workload's own data: the merge planner's
  * metadata sweep, SHA-256 over chunk bytes and the canonical key
  * encoder. */
object Probes {
  def run(r: Run, w: Workload): Map[String, Double] = {
    val tables = w.probeTables
    val sources = tables.map { case (h, t) => h.fs.chunkStream(t.hash) }
    val nChunks = tables.map { case (h, t) => h.fs.loadTableMeta(t.hash).chunks.length }.sum
    val sweepMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); var regions = 0
      MergePlanner.sweep(sources, tables.head._1.fs.loadTableMeta(tables.head._2.hash).chunkTargetRows)(
        _ => regions += 1)
      (System.nanoTime() - t0) / 1e6
    }
    val (h0, t0) = tables.head
    val meta0 = h0.fs.loadTableMeta(t0.hash)
    val files = meta0.chunks.take(64).map(c => Files.readAllBytes(Paths.get(h0.fs.chunkPath(c.hash))))
    val shaS = (1 to 3).map { _ =>
      val s = System.nanoTime(); files.foreach(b => Hashing.sha256Hex(b)); (System.nanoTime() - s) / 1e9
    }
    val mb = files.map(_.length.toLong).sum / 1e6
    val ops = new graft.core.Ops(r.spark, h0.fs)
    val df = ops.scan(t0).limit(20000)
    val rows = df.collect()
    val enc = KeyCodec.rowEncoder(df.schema, meta0.keyCols)
    val encS = (1 to 3).map { _ =>
      val s = System.nanoTime(); rows.foreach(enc); (System.nanoTime() - s) / 1e9
    }
    Map(
      "planner.sweep_ms" -> Run.median(sweepMs),
      "planner.chunks" -> nChunks.toDouble,
      "canonical.sha256_mb_s" -> mb / Run.median(shaS),
      "canonical.key_encode_krows_s" -> rows.length / 1000.0 / Run.median(encS))
  }
}

/** Machine state at the start and end of a run, so a run polluted by
  * other load shows in its output. */
object Env {
  final case class Snap(load1: Double, steal: Long)
  def capture(): Snap = Snap(load1, steal)
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), "UTF-8")) catch { case _: Exception => None }
  def load1: Double = read("/proc/loadavg").map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)
  /** Cumulative steal jiffies over all cpus (/proc/stat, 8th value). */
  def steal: Long = read("/proc/stat").map(_.linesIterator.next().trim.split("\\s+")(8).toLong).getOrElse(-1L)
  def jvmGcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
  def json(cpus: Int, master: String, seed: Long, a: Snap, b: Snap): String =
    s"""{"cpus":$cpus,"nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""master":"$master","seed":$seed,"load1_start":${a.load1},"load1_end":${b.load1},""" +
      s""""steal_jiffies":${if (a.steal < 0 || b.steal < 0) -1 else b.steal - a.steal}}"""
}
