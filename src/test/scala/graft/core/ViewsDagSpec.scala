package graft.core

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sql.GraftSql

/** REFRESH over the view dependency DAG: independent views refresh
  * concurrently, dependents start once their sources finish, and the
  * whole statement commits in one catalog root. */
class ViewsDagSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newOps(): (Ops, Catalog) = {
    val store = new FsStore(FsUtil.tempStoreDir("graft-dag-"))
    (new Ops(spark, store, 64), new Catalog(store))
  }

  private def runAll(ops: Ops, cat: Catalog, stmts: Seq[String]): Unit =
    stmts.foreach(GraftSql.execute(spark, ops, cat, _))

  private val base = Seq(
    "CREATE TABLE li (lk bigint PRIMARY KEY, ok bigint NOT NULL, q bigint NOT NULL)",
    "INSERT INTO li SELECT id AS lk, id % 300 AS ok, id % 17 AS q FROM range(0, 3000)",
    "CREATE TABLE ord (ok bigint PRIMARY KEY, cust bigint NOT NULL, price bigint NOT NULL)",
    "INSERT INTO ord SELECT id AS ok, id % 23 AS cust, id * 3 AS price FROM range(0, 300)")

  // two independent views (v_qty, v_cheap), a join over one of them
  // (v_join) and an aggregate over the join (v_top)
  private val views = Seq(
    "v_qty" -> "SELECT ok, SUM(q) AS qty, COUNT(*) AS n FROM li GROUP BY ok",
    "v_cheap" -> "SELECT ok, cust, price FROM ord WHERE price < 600",
    "v_join" -> "SELECT * FROM ord INNER JOIN v_qty USING (ok)",
    "v_top" -> "SELECT cust, SUM(qty) AS tq, COUNT(*) AS n FROM v_join GROUP BY cust")

  private val dml = Seq(
    "INSERT INTO li VALUES (5000, 7, 3), (5001, 299, 4)",
    "UPDATE li SET q = q + 1 WHERE lk >= 100 AND lk < 140",
    "DELETE FROM ord WHERE ok >= 50 AND ok < 53",
    "INSERT INTO ord VALUES (1000, 5, 10)")

  private def createViews(ops: Ops, cat: Catalog): Unit =
    runAll(ops, cat, views.map { case (v, q) => s"CREATE MATERIALIZED VIEW $v AS $q" })

  private def hashes(cat: Catalog): Map[String, String] =
    cat.root.map { case (n, e) => n -> e.tableHash }

  test("REFRESH ALL over a diamond and a chain hash-equals a cold rebuild, in one root") {
    val (ops, cat) = newOps()
    runAll(ops, cat, base)
    createViews(ops, cat)
    runAll(ops, cat, dml)
    val before = cat.log(1000)
    GraftSql.execute(spark, ops, cat, "REFRESH ALL")
    val after = cat.log(1000)
    assert(after.length == before.length + 1, "REFRESH ALL must mint exactly one root")
    assert(after.tail == before)

    val (ops2, cat2) = newOps()
    runAll(ops2, cat2, base ++ dml)
    createViews(ops2, cat2)
    val (got, want) = (hashes(cat), hashes(cat2))
    assert(got.keySet == want.keySet)
    got.foreach { case (n, h) => assert(h == want(n), s"$n differs from the cold rebuild") }

    // a no-op refresh mints no root
    GraftSql.execute(spark, ops, cat, "REFRESH ALL")
    assert(cat.log(1000) == after)
  }

  test("REFRESH MATERIALIZED VIEW refreshes the view's ancestors in one root") {
    val (ops, cat) = newOps()
    runAll(ops, cat, base)
    createViews(ops, cat)
    val cheap = cat.get("v_cheap")
    GraftSql.execute(spark, ops, cat, "INSERT INTO li VALUES (6000, 11, 9)")
    val before = cat.log(1000)
    GraftSql.execute(spark, ops, cat, "REFRESH MATERIALIZED VIEW v_top")
    assert(cat.log(1000).length == before.length + 1)
    assert(cat.get("v_cheap") == cheap, "a view outside v_top's ancestry was refreshed")

    val (ops2, cat2) = newOps()
    runAll(ops2, cat2, base :+ "INSERT INTO li VALUES (6000, 11, 9)")
    createViews(ops2, cat2)
    Seq("v_qty", "v_join", "v_top").foreach { v =>
      assert(cat.get(v) == cat2.get(v), s"$v differs from the cold rebuild")
    }
  }

  test("a failing view fails the statement with its own error, mints no root, leaves no worker") {
    // `calm` is still in flight when `boom` fails: its new row sleeps
    spark.udf.register("views_dag_slow",
      (v: Long) => { if (v < 0) Thread.sleep(3000); v })
    val (ops, cat) = newOps()
    runAll(ops, cat, Seq(
      "CREATE TABLE t1 (k bigint PRIMARY KEY, v bigint NOT NULL)",
      "INSERT INTO t1 SELECT id AS k, id AS v FROM range(0, 500)",
      "CREATE TABLE t2 (k bigint PRIMARY KEY, v bigint NOT NULL)",
      "INSERT INTO t2 SELECT id AS k, id AS v FROM range(0, 500)",
      "CREATE MATERIALIZED VIEW boom AS SELECT k, " +
        "CASE WHEN v > 1000 THEN raise_error('dag-refresh-boom') ELSE v END AS w FROM t1",
      "CREATE MATERIALIZED VIEW calm AS SELECT k, views_dag_slow(v) AS w FROM t2",
      "INSERT INTO t1 VALUES (5000, 5000)",
      "INSERT INTO t2 VALUES (5000, -1)"))
    val rootBefore = ops.store.currentRootHash
    val rootsBefore = ops.store.listRoots.toSet
    val err = intercept[Throwable](GraftSql.execute(spark, ops, cat, "REFRESH ALL"))
    assert(!err.isInstanceOf[java.util.concurrent.ExecutionException] &&
      !err.isInstanceOf[java.util.concurrent.CompletionException],
      s"the original error must surface unwrapped: $err")
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => String.valueOf(e.getMessage).contains("dag-refresh-boom")), err)
    assert(ops.store.currentRootHash == rootBefore)
    assert(ops.store.listRoots.toSet == rootsBefore, "a failed refresh minted a root")
    // in-flight views were waited for: at most a moment for the last
    // worker to exit after its pool terminated, never `calm`'s sleep
    val workers = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-view-refresh-"))
    workers.foreach(_.join(500))
    assert(workers.forall(!_.isAlive), s"refresh workers still running: $workers")
  }

  test("every job REFRESH ALL launches carries the caller's local properties") {
    val (ops, cat) = newOps()
    runAll(ops, cat, base)
    createViews(ops, cat)
    runAll(ops, cat, Seq(
      "INSERT INTO li SELECT id AS lk, id % 300 AS ok, 1 AS q FROM range(10000, 11000)",
      "UPDATE ord SET price = price + 1 WHERE ok < 200"))
    val sc = spark.sparkContext
    val tag = "dag-" + java.util.UUID.randomUUID
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.caller"))))
    }
    // distributed routes only, so the refresh launches Spark jobs
    val distributed = new Ops(spark, ops.store, ops.chunkTargetRows,
      routes = Routes(driverMaxBytes = 1))
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.caller", tag)
    try {
      GraftSql.execute(spark, distributed, cat, "REFRESH ALL")
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    } finally {
      sc.setLocalProperty("graft.test.caller", null)
      sc.removeSparkListener(listener)
    }
    val tags = seen.asScala.toSeq
    assert(tags.nonEmpty, "the refresh launched no Spark job")
    assert(tags.forall(_.contains(tag)), s"jobs without the caller's property: $tags")
  }
}
