package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sql.GraftSql

/** A clustered small-delta batch refreshes with zero Spark jobs: every
  * byte-admitted refresh route — the key-preserving WHERE view, the
  * re-keying SUM/COUNT and AVG fold-ins and the keyed join — reads its
  * chunks on the driver and folds there, and the result hash-equals a
  * cold rebuild and the job routes. The four views are the perfbench
  * `refresh` workload's. */
class ZeroJobRefreshSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The Spark job paths only (no driver patch, no driver materialize). */
  private val JobRoutes = Routes(driverPatch = false, driverMaterialize = false)

  private def newOps(routes: Routes): (Ops, Catalog) = {
    val store = new FsStore(FsUtil.tempStoreDir("graft-zerojob-"))
    (new Ops(spark, store, 64, routes = routes), new Catalog(store))
  }

  private def run(ops: Ops, cat: Catalog, stmts: Seq[String]): Unit =
    stmts.foreach(GraftSql.execute(spark, ops, cat, _))

  private def withJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private val base = Seq(
    "CREATE TABLE lineitem PRIMARY KEY (l_orderkey, l_linenumber) AS " +
      "SELECT (id div 4) * 10 AS l_orderkey, CAST(id % 4 AS INT) AS l_linenumber, " +
      "id % 50 + 1 AS l_quantity, id * 7 % 10000 AS l_price_c, " +
      "IF(id % 3 = 0, 'F', 'O') AS l_linestatus FROM range(0, 4000)",
    "CREATE TABLE orders (o_orderkey bigint PRIMARY KEY, " +
      "o_custkey bigint NOT NULL, o_status text NOT NULL, o_price_c bigint NOT NULL)",
    "INSERT INTO orders SELECT id * 10 AS o_orderkey, id % 97 AS o_custkey, " +
      "IF(id % 2 = 0, 'O', 'F') AS o_status, id * 13 % 100000 AS o_price_c " +
      "FROM range(0, 1000)")

  private val views = Seq(
    "v_open" -> ("SELECT l_orderkey, l_linenumber, l_quantity, l_price_c " +
      "FROM lineitem WHERE l_linestatus = 'O'"),
    "v_order_qty" -> ("SELECT l_orderkey AS o_orderkey, SUM(l_quantity) AS qty, " +
      "COUNT(*) AS n FROM lineitem GROUP BY o_orderkey"),
    "v_cust_avg" -> ("SELECT o_custkey % 20 AS cg, AVG(o_price_c) AS mean_c, " +
      "COUNT(*) AS n FROM orders GROUP BY cg"),
    "v_order_join" -> "SELECT * FROM orders INNER JOIN v_order_qty USING (o_orderkey)")
  private val createViews =
    views.map { case (v, q) => s"CREATE MATERIALIZED VIEW $v AS $q" }

  // clustered batches: one contiguous key range per statement
  private val insertBatch = Seq(
    "INSERT INTO lineitem VALUES (5000, 9, 3, 100, 'O'), " +
      "(5000, 10, 4, 200, 'F'), (5010, 9, 5, 300, 'O')",
    "INSERT INTO orders VALUES (5001, 3, 'O', 1234), (5011, 4, 'F', 999)")
  private val updateBatch = Seq(
    "UPDATE lineitem SET l_quantity = l_quantity + 1 " +
      "WHERE l_orderkey >= 2000 AND l_orderkey < 2040",
    "DELETE FROM orders WHERE o_orderkey >= 3000 AND o_orderkey < 3030")

  private def hashes(cat: Catalog): Map[String, String] =
    cat.root.map { case (n, e) => n -> e.tableHash }

  Seq("INSERT" -> insertBatch, "UPDATE" -> updateBatch).foreach {
    case (name, batch) =>
      test(s"a clustered $name batch runs REFRESH ALL with zero Spark jobs, hash-equal to a rebuild and to the job routes") {
        val (ops, cat) = newOps(Routes.Default)
        run(ops, cat, base ++ createViews ++ batch)
        val (_, jobs) = withJobs(GraftSql.execute(spark, ops, cat, "REFRESH ALL"))
        assert(jobs == 0, s"the clustered $name refresh launched $jobs Spark jobs")

        val (cold, coldCat) = newOps(Routes.Default)
        run(cold, coldCat, base ++ batch ++ createViews)
        assert(hashes(cat) == hashes(coldCat),
          "the refresh must hash-equal a from-scratch build")

        val (jobOps, jobCat) = newOps(JobRoutes)
        run(jobOps, jobCat, base ++ createViews ++ batch :+ "REFRESH ALL")
        assert(hashes(cat) == hashes(jobCat),
          "the refresh must hash-equal the job routes' refresh")
      }
  }
}
