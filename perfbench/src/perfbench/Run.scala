package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.core.{Catalog, FsStore, FsUtil, GraftStore, Ops}
import graft.sql.SqlSession

/** A store as the benchmark holds it: the backend on disk, and the
  * handle given to the engine — the backend itself with tracing off, a
  * [[TimedStore]] around it with tracing on. */
final class StoreHandle(val fs: FsStore, val dir: Path, tracer: Tracer) {
  val timed: TimedStore = new TimedStore(fs, tracer)
  def engine(traced: Boolean): GraftStore = if (traced) timed else fs
  def bytesOnDisk: Long = Run.dirBytes(dir)
}

/** One correctness check: passes when the value the run produced equals
  * the expected one. */
final case class Check(name: String, expected: String, actual: String) {
  def ok: Boolean = expected == actual
}

/** One measured operation of the timed loop, made of one or more calls. */
final case class OpRec(kind: String, ms: Double, calls: Seq[(String, Span)],
    traced: Boolean, tag: String = "")

/** Per-run harness: the Spark session, the seed, the tracer, the stores
  * created in this run (all deleted at the end) and the records of the
  * timed loop. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val tmp: Path,
    val fixedOps: Option[Int], val wrongExpected: Boolean) {
  val runId = f"$workload-$seed-${System.currentTimeMillis()}%x"
  val tracer = new Tracer(runId, trace)
  if (trace) spark.sparkContext.addSparkListener(tracer.listener)
  private val stores = ArrayBuffer.empty[Path]
  private var storeSeq = 0
  /** Calls made by the op being timed, when the loop is timing one. */
  private var opCalls: Option[ArrayBuffer[(String, Span)]] = None
  /** Whether the calls of the current op are traced. */
  var tracedOps = false
  val ops = ArrayBuffer.empty[OpRec]
  val checks = ArrayBuffer.empty[Check]
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var failedOps = 0
  /** Rows returned by SELECTs of traced ops. */
  var rowsReturned = 0L
  /** Memo hits and misses per op tag. */
  val memoByTag = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
  def memo(tag: String, hits: Long, misses: Long): Unit = {
    val (h, m) = memoByTag.getOrElse(tag, (0L, 0L))
    memoByTag(tag) = (h + hits, m + misses)
  }

  def newStore(name: String): StoreHandle = {
    storeSeq += 1
    val dir = tmp.resolve(f"store-$storeSeq%02d-$name")
    Files.createDirectories(dir)
    stores += dir
    new StoreHandle(new FsStore(dir.toString), dir, tracer)
  }
  def dropStore(h: StoreHandle): Unit = { FsUtil.deleteRecursively(h.dir); stores -= h.dir; () }
  def dropAllStores(): Unit = { stores.toList.foreach(FsUtil.deleteRecursively); stores.clear() }

  def engine(h: StoreHandle, target: Long): (Ops, Catalog, SqlSession) = {
    val st = h.engine(tracedOps)
    val o = new Ops(spark, st, target)
    val c = new Catalog(st)
    (o, c, new SqlSession(spark, o, c))
  }

  /** One call into the engine, timed, and tagged for job attribution
    * when traced. */
  def call[A](kind: String)(body: => A): A = {
    val (a, span) = tracer.call(kind, spark.sparkContext)(body)
    opCalls.foreach(_ += (kind -> span))
    a
  }

  /** One SQL statement, recorded as call kind `sql.<kind>`; a SELECT is
    * forced by collecting its rows. */
  def sql(s: SqlSession, kind: String, text: String): Seq[org.apache.spark.sql.Row] =
    call(s"sql.$kind") {
      s.execute(text) match {
        case Left(df) =>
          val rows = df.collect().toSeq
          if (opCalls.isDefined && tracedOps) rowsReturned += rows.length
          rows
        case Right(_) => Nil
      }
    }

  /** Time one operation of the loop. */
  def op(kind: String, tag: String = "")(body: => Unit): OpRec = {
    val buf = ArrayBuffer.empty[(String, Span)]
    opCalls = Some(buf)
    val t0 = System.nanoTime()
    try body finally opCalls = None
    val r = OpRec(kind, (System.nanoTime() - t0) / 1e6, buf.toSeq, tracedOps, tag)
    ops += r
    r
  }

  def check(name: String, expected: String, actual: String): Unit = {
    val c = Check(name, if (wrongExpected) expected + "~" else expected, actual)
    if (!c.ok) Console.err.println(s"[perfbench] check failed: $name " +
      s"expected=${c.expected} actual=${c.actual}")
    checks += c
    ()
  }

  /** Closed loop: one op at a time until the run's seconds are used (or
    * exactly `fixedOps` ops). `step(i)` runs op number i. */
  def loop(seconds: Double, count: Option[Int])(step: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    def more = count match {
      case Some(n) => i < n
      case None => (System.nanoTime() - t0) / 1e9 < seconds
    }
    while (more) { step(nextOp()); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }
  private var opIndex = 0
  /** Op numbers continue across loops, so a traced run's untraced and
    * traced loops issue the same op sequence as one longer loop. */
  def nextOp(): Int = { opIndex += 1; opIndex - 1 }

  private val born = System.nanoTime()
  /** Progress line on stderr. */
  def phase(msg: String): Unit =
    Console.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $msg")

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
  }
}

object Run {
  /** Random numbers for op i of a stream: the seeds of nearby ops are
    * mixed first, since java.util.Random's first outputs for nearby
    * seeds are nearly equal. */
  def rng(seed: Long, stream: Long, i: Int): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed * stream + i).nextLong())

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of the usual tail percentiles that still has at least
    * ten samples beyond it, with its name; None with fewer than 20. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.length * (100 - p) / 100.0 >= 10)
      .map(p => p -> pct(xs, p))

  /** Rows as sorted strings — an order-insensitive result fingerprint. */
  def fingerprint(rows: Seq[org.apache.spark.sql.Row]): String = {
    val lines = rows.map(_.toSeq.map {
      case d: Double => f"$d%.6f"
      case v => String.valueOf(v)
    }.mkString("|")).sorted
    s"${lines.length}:" + graft.core.Hashing.sha256Hex(
      lines.mkString("\n").getBytes("UTF-8")).take(16)
  }
}
