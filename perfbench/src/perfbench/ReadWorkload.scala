package perfbench

import scala.collection.mutable.ArrayBuffer
import graft.core.{Catalog, Ops, TableRef}
import graft.sql.SqlSession

/** `read`: SQL SELECTs over a store built in set-up: lineitem and orders
  * bulk-loaded through the library API (`Ops.fromDataFrame` +
  * `Catalog.put`), plus one materialized view. Ops cycle through a fixed
  * mix of eight: five primary-key point lookups, one short key-range
  * aggregate, one COUNT/MIN/MAX the chunk metadata can answer, and one
  * full-scan analytic query (alternately a q1-style GROUP BY and an
  * orders-lineitem join). Keys and query parameters are uniform and
  * seeded. A seeded sample of results is compared with the same SQL run
  * by plain Spark over the source parquet. */
final class ReadWorkload(nOrders: Long, chunkRows: Long) extends Workload {
  import ReadWorkload._
  private var src: Data.Source = _
  private var store: StoreHandle = _
  private var eng: (Ops, Catalog, SqlSession) = _
  private val sampled = ArrayBuffer.empty[(String, String)]
  private val loads = ArrayBuffer.empty[Double]
  private val sampledKinds = scala.collection.mutable.Set.empty[String]

  def prepare(r: Run): Unit =
    src = Data.write(r.spark, r.seed, nOrders, r.tmp.resolve("src").toString)

  def setup(r: Run): Unit = {
    if (store != null) r.dropStore(store)
    store = r.newStore("read")
    eng = r.engine(store, chunkRows)
    val (o, c, sess) = eng
    val (_, loadS) = r.timed {
      Seq(("lineitem", src.lineitemPath, Seq("l_orderkey", "l_linenumber")),
        ("orders", src.ordersPath, Seq("o_orderkey"))).foreach { case (t, path, keys) =>
        val ref = r.call("ops.fromDataFrame")(o.fromDataFrame(r.spark.read.parquet(path), keys))
        r.call("catalog.put")(c.put(t, ref))
      }
    }
    loads += loadS
    r.sql(sess, "create_mv", s"CREATE MATERIALIZED VIEW v_order_qty AS $ViewSql")
  }

  def warmup(r: Run): Unit =
    (0 until 16).foreach(i => r.sql(eng._3, kindOf(i), query(r.seed, src, 1000000 + i)))

  def retrace(r: Run): Unit = eng = r.engine(store, chunkRows)

  def step(r: Run, i: Int): Unit = {
    val kind = kindOf(i)
    val q = query(r.seed, src, i)
    var rows: Seq[org.apache.spark.sql.Row] = Nil
    r.op(kind) { rows = r.sql(eng._3, kind, q) }
    // the sample: the first query of each kind, then a seeded 15%
    val rnd = Run.rng(r.seed, 7919L, i)
    val first = !sampledKinds.contains(kind)
    if (first || rnd.nextDouble() < SampleRate && sampled.length < MaxSamples) {
      sampled += (q -> Run.fingerprint(rows))
      sampledKinds += kind
    }
    ()
  }

  def finish(r: Run): Unit = {
    // plain Spark over the source parquet, under the same names
    r.spark.read.parquet(src.lineitemPath).createOrReplaceTempView("lineitem")
    r.spark.read.parquet(src.ordersPath).createOrReplaceTempView("orders")
    r.spark.sql(ViewSql).createOrReplaceTempView("v_order_qty")
    sampled.zipWithIndex.foreach { case ((q, got), k) =>
      r.check(s"read.sample$k", Run.fingerprint(r.spark.sql(q).collect().toSeq), got)
    }
    val ops = r.ops.filterNot(_.traced).toSeq
    def p(kind: String, pc: Double) = Run.pct(ops.filter(_.kind == kind).map(_.ms), pc)
    r.detail("point_p50_ms") = (p("select_point", 50), "ms")
    Run.tail(ops.filter(_.kind == "select_point").map(_.ms)).foreach { case (pc, v) =>
      r.detail(s"point_p${pc}_ms") = (v, "ms")
    }
    r.detail("range_p50_ms") = (p("select_range", 50), "ms")
    r.detail("meta_p50_ms") = (p("select_meta", 50), "ms")
    r.detail("scan_p50_s") = (p("select_scan", 50) / 1000, "s")
    r.notes("tables") = new Catalog(store.fs).root.toSeq.sortBy(_._1).map { case (t, e) => s"$t=${e.tableHash}" }.mkString(",")
    r.detail("load_rows_per_s") = ((src.lineitems + src.orders) / Run.median(loads.toSeq), "1/s")
    ()
  }

  def probeTables: Seq[(StoreHandle, TableRef)] = {
    val c = new Catalog(store.fs)
    Seq("lineitem", "orders").flatMap(t => c.get(t).map(store -> _))
  }
  def mainStore: StoreHandle = store
}

object ReadWorkload {
  val SampleRate = 0.15
  val MaxSamples = 12
  val ViewSql = "SELECT l_orderkey AS o_orderkey, SUM(l_quantity) AS qty, " +
    "COUNT(*) AS n FROM lineitem GROUP BY o_orderkey"

  // five point lookups in eight: the median op is a point lookup, away
  // from the edge between two query types
  private val Mix = Array("select_point", "select_range", "select_point", "select_meta",
    "select_point", "select_scan", "select_point", "select_point")
  def kindOf(i: Int): String = Mix(i % Mix.length)

  /** SQL of op i: a pure function of (seed, i). */
  def query(seed: Long, s: Data.Source, i: Int): String = {
    val rnd = Run.rng(seed, 1000003L, i)
    def key() = (rnd.nextDouble() * s.orders).toLong * Data.KeyStep
    kindOf(i) match {
      case "select_point" =>
        if (rnd.nextBoolean()) s"SELECT * FROM lineitem WHERE l_orderkey = ${key()} AND l_linenumber = 1"
        else s"SELECT * FROM orders WHERE o_orderkey = ${key()}"
      case "select_range" =>
        val lo = key()
        "SELECT COUNT(*) AS n, SUM(l_quantity) AS q, SUM(l_price_c) AS p FROM lineitem " +
          s"WHERE l_orderkey >= $lo AND l_orderkey < ${lo + 200 * Data.KeyStep}"
      case "select_meta" =>
        Seq("SELECT COUNT(*) AS n, MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi FROM lineitem",
          "SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM orders",
          "SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM v_order_qty")(
          (i / Mix.length) % 3)
      case _ =>
        val day = 8000 + rnd.nextInt(2520)
        if ((i / Mix.length) % 2 == 0)
          "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS q, SUM(l_price_c) AS p, " +
            "SUM(l_price_c * (100 - l_discount)) AS dp, COUNT(*) AS n FROM lineitem " +
            s"WHERE l_shipdate <= $day GROUP BY l_returnflag, l_linestatus"
        else
          "SELECT o_status, COUNT(*) AS n, SUM(l_quantity) AS q FROM orders " +
            s"JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderdate < $day GROUP BY o_status"
    }
  }
}
