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

  test("rangeFilter on a DOUBLE key: signed-zero bounds select the same rows and hash on the driver and job routes") {
    import spark.implicits._
    // -0.0 and 0.0 are two keys (their key bytes differ, -0.0 first):
    // every bound is one key-bytes test, on every route and in
    // readRangeDriver, never a typed comparison that equates them
    val jobRoutes = Routes(driverPatch = false, driverMaterialize = false)
    def build(routes: Routes): (Ops, TableRef) = {
      val ops = new Ops(spark, new FsStore(
        graft.core.FsUtil.tempStoreDir("graft-range-zero-")), 2, routes = routes)
      val ks = Seq(-9.0, -5.5, -3.0, -2.0, -1.0, -0.5, 0.0, 0.25, 1.0, 2.0,
        3.5, 5.0, 7.0, 9.0)
      val base = ops.fromDataFrame(ks.zipWithIndex
        .map { case (k, i) => (k, i.toLong) }.toDF("k", "v"), Seq("k"))
      (ops, ops.patchTable(base, Seq(org.apache.spark.sql.Row(-0.0, 99L)), Nil))
    }
    val (drvOps, drvRef) = build(Routes.Default)
    val (jobOps, jobRef) = build(jobRoutes)
    assert(drvRef == jobRef, "the routes built different base tables")
    assert(drvOps.rowCount(drvRef) == 15L, "-0.0 and 0.0 must be two keys")
    def bits(rows: Seq[org.apache.spark.sql.Row]): Seq[Long] =
      rows.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).sorted
    val negZero = java.lang.Double.doubleToRawLongBits(-0.0)
    val posZero = java.lang.Double.doubleToRawLongBits(0.0)
    // (lower, upper) -> (holds -0.0, holds 0.0)
    val cases: Seq[((Option[Bound], Option[Bound]), (Boolean, Boolean))] = Seq(
      (Some(Bound(Seq(-0.0), inclusive = false)), None) -> (false, true),
      (None, Some(Bound(Seq(-0.0), inclusive = true))) -> (true, false),
      (Some(Bound(Seq(0.0), inclusive = true)), None) -> (false, true),
      (None, Some(Bound(Seq(0.0), inclusive = false))) -> (true, false))
    cases.foreach { case ((lo, hi), (neg, pos)) =>
      val d = drvOps.rangeFilter(drvRef, lo, hi)
      val j = jobOps.rangeFilter(jobRef, lo, hi)
      val got = bits(drvOps.scan(d).collect().toSeq)
      assert(got == bits(jobOps.scan(j).collect().toSeq),
        s"driver and job routes selected different rows for ($lo, $hi)")
      assert(d == j, s"driver and job routes hash differently for ($lo, $hi)")
      assert((got.contains(negZero), got.contains(posZero)) == ((neg, pos)),
        s"($lo, $hi) selected the wrong zero")
      assert(bits(drvOps.readRangeDriver(drvRef, lo, hi).getOrElse(
        fail(s"driver range read declined for ($lo, $hi)"))) == got,
        s"readRangeDriver disagrees with rangeFilter for ($lo, $hi)")
    }
  }

  test("byte-admitted collect: interpreted and codegen modes hash-identically") {
    // the width-scaled interpreted-vs-codegen crossover (round 14) picks
    // a PLAN EXECUTION MODE, never a result: the same byte-admitted
    // collect — a keyed ingest fold over mixed types, with its key
    // bytes — through the interpreted and the codegen engine clone must
    // return the same rows, byte for byte
    import org.apache.spark.sql.functions._
    val ops = new Ops(spark, new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-collect-modes-")), 64)
    val src = spark.range(0, 4000).select(
      (col("id") % 700).as("k"),
      when(col("id") % 11 === 0, lit(-0.0)).when(col("id") % 13 === 0,
        lit(Double.NaN)).otherwise(col("id") / 7.0).as("d"),
      (col("id") * 3).cast("decimal(12,2)").as("m"),
      when(col("id") % 5 === 0, lit(null)).otherwise(
        concat(lit("s"), col("id"))).as("s"),
      col("id").as("v"))
    val folded = src.groupBy("k").agg(sum("v").as("v"), max("m").as("m"),
      min("d").as("d"), max("s").as("s"), count(lit(1)).as("n"))
    val kb = Canonical.withKeyBytes(folded, Seq("k"))
    val enc = KeyCodec.rowEncoder(kb.schema, kb.schema.fieldNames.toSeq)
    def rows(interpreted: Boolean): Seq[String] = {
      val (_, bound) = Canonical.onEngine(ops.engine, kb, smallShuffle = true,
        interpretedOk = interpreted)
      bound.collect().toSeq.map(r => Hashing.hex(enc(r))).sorted
    }
    val interp = rows(interpreted = true)
    assert(interp.length == 700)
    assert(interp == rows(interpreted = false),
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
