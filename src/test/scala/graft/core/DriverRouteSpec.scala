package graft.core

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sql.GraftSql

/** Driver-route admission: the single-threaded zero-job/fused driver
  * routes run only under the static row and byte caps
  * ([[Routes.driverMaxBytes]]). When the caps decline, route choice
  * flips to the distributed path and results stay hash-identical. */
class DriverRouteSpec extends AnyFunSuite {
  import DriverRouteSpec.runFlow
  private lazy val spark = TestSpark.spark

  /** `runFlow` plus the Spark jobs it launched. */
  private def flowWithJobs(routes: Routes): (String, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val h = runFlow(spark, routes)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      (h, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a byte budget of 1 flips every driver route to the distributed path, hashes unchanged") {
    val (driver, driverJobs) = flowWithJobs(Routes.Default)
    val (distributed, distributedJobs) =
      flowWithJobs(Routes(driverMaxBytes = 1L))
    assert(distributed == driver,
      "byte-declined driver routes changed the result hash")
    assert(distributedJobs > driverJobs,
      s"byte budget 1 ran no extra Spark jobs ($distributedJobs vs $driverJobs)")
  }

  test("readRangeDriver row set equals the rangeFilter scan on composite keys and prefix bounds") {
    import spark.implicits._
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-range-drv-"))
    val ops = new Ops(spark, store, 64)
    // composite (a, b) key; values span several chunks at target 64
    val df = (0L until 500L).map(i => (i % 20, i / 20, i * 3))
      .toDF("a", "b", "v")
    val ref = ops.fromDataFrame(df, Seq("a", "b"))
    val cases: Seq[(Option[Bound], Option[Bound])] = Seq(
      (None, None),
      (Some(Bound(Seq(5L), inclusive = true)), None),
      (None, Some(Bound(Seq(12L), inclusive = false))),
      (Some(Bound(Seq(3L), inclusive = false)),
        Some(Bound(Seq(9L), inclusive = true))),
      // full tuple bounds, mixed inclusivity
      (Some(Bound(Seq(4L, 10L), inclusive = true)),
        Some(Bound(Seq(4L, 20L), inclusive = false))),
      // prefix lower + tuple upper
      (Some(Bound(Seq(7L), inclusive = true)),
        Some(Bound(Seq(8L, 3L), inclusive = true))),
      // empty range
      (Some(Bound(Seq(19L, 99L), inclusive = false)), None))
    cases.foreach { case (lo, hi) =>
      val scan = ops.scan(ops.rangeFilter(ref, lo, hi))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val drv = ops.readRangeDriver(ref, lo, hi)
        .getOrElse(fail(s"driver range read declined for ($lo, $hi)"))
        .map(_.toSeq).sortBy(_.toString)
      assert(drv == scan, s"row sets differ for bounds ($lo, $hi)")
    }
  }

  test("byte-admitted collect: interpreted and codegen modes hash-identically") {
    // the width-scaled interpreted-vs-codegen crossover (round 14) picks
    // a PLAN EXECUTION MODE, never a result: the same bulk flow
    // materialized entirely interpreted (threshold = MaxValue) and
    // entirely codegen (threshold = 0) must produce the same table hash
    val interp =
      runFlow(spark, Routes(interpretedCollectMaxBytes = Long.MaxValue))
    val codegen = runFlow(spark, Routes(interpretedCollectMaxBytes = 0L))
    assert(interp === codegen,
      "interpreted vs codegen byte-admitted collects diverged")
  }
}

object DriverRouteSpec {
  /** A DML flow that exercises every cap-gated route: range UPDATE
    * (per-chunk transform / delta patch), range DELETE (splice), point
    * DML (driver patch), INSERT…SELECT (delta patch). Returns the final
    * table hash. */
  def runFlow(spark: org.apache.spark.sql.SparkSession,
      routes: Routes): String = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-route-gov-"))
    val ops = new Ops(spark, store, 64, routes = routes)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE t (k bigint PRIMARY KEY, g bigint NOT NULL, v bigint)")
    run("INSERT INTO t SELECT id AS k, id % 7 AS g, id * 3 AS v FROM range(0, 4000)")
    run("UPDATE t SET v = v + 1 WHERE k >= 500 AND k < 2500")
    run("DELETE FROM t WHERE k >= 1000 AND k < 1400")
    run("UPDATE t SET v = v * 2 WHERE k IN (3, 77, 3999)")
    run("INSERT INTO t SELECT k + 10000, g, v FROM t WHERE k % 16 = 0")
    run("DELETE FROM t WHERE g = 5 AND v % 3 = 0")
    cat.root("t").tableHash
  }
}
