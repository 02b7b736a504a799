package graft.core

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Round-7 verdict #1: engine materializations used to flip
  * `spark.sql.adaptive.enabled` on the SHARED session — a concurrent
  * query on another thread silently ran with AQE off, and interleaved
  * restores could leave a stale value behind. Engine conf now lives on
  * session CLONES (GraftBridge.engineSession), built once per Ops and
  * configuration ([[EngineSessions]]) and never mutated afterwards, and
  * the frame is transplanted onto one; this spec drives a
  * materialization on one thread while another thread continuously
  * asserts the user session's conf is untouched — and that the result
  * is the same table. It also pins that the clones are reused across
  * statements and rebuilt when the user conf changes, and that the
  * driver-side fold of local frames ([[org.apache.spark.sql.LocalFold]],
  * which plans on no clone) follows a user conf change too. */
class EngineConfIsolationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def df(n: Int) = spark.createDataFrame(
    spark.sparkContext.parallelize((1 to n).map(i =>
      Row(i.toLong, i.toLong * 7)), 4), schema)

  test("user session never observes engine conf during materializations") {
    val key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, "true")
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-econf-"))
    val ops = new Ops(spark, store, 256)

    val stop = new AtomicBoolean(false)
    val observedFlip = new AtomicReference[String](null)
    val watcher = new Thread(() => {
      while (!stop.get()) {
        val v = spark.conf.get(key)
        if (v != "true") observedFlip.compareAndSet(null, v)
        // a plain concurrent query on the user session keeps planning
        // (would pick up the user conf if the engine were leaking)
        Thread.`yield`()
      }
    })
    watcher.start()
    try {
      // several materialization shapes back to back: the big job path
      // (rowBound unknown → persist + sample + write), the small/driver
      // path (upsert of a handful of rows), and a re-key transform
      // (grouped minis + merge) — every withEngineConf-era site fires
      val t1 = ops.fromDataFrame(df(20000), Seq("k"))
      val t2 = ops.upsert(t1,
        ops.fromDataFrame(df(64), Seq("k")))
      val x2 = ColTransform("x2_econf_v1", Seq("k"),
        Seq(org.apache.spark.sql.functions.col("k"),
          (org.apache.spark.sql.functions.col("v") * 2).as("v")),
        preservesKeys = true)
      val t3 = ops.transform(t2, x2, FoldSpec.FoldLast)
      assert(ops.scan(t3).count() == 20000)
    } finally {
      stop.set(true)
      watcher.join(5000)
    }
    assert(observedFlip.get() == null,
      s"user session observed engine conf: $key=${observedFlip.get()}")
    assert(spark.conf.get(key) == "true")
  }

  test("engine clone result is byte-identical to the reference build") {
    // same input through two fresh stores — content addressing makes
    // equality a table-hash comparison; the transplant must not change
    // a single chunk byte
    def build(): String = {
      val store = new FsStore(
        graft.core.FsUtil.tempStoreDir("graft-econf-h-"))
      val ops = new Ops(spark, store, 128)
      ops.fromDataFrame(df(5000), Seq("k")).hash
    }
    assert(build() == build())
  }

  test("one Ops reuses its engine clones and follows a user conf change") {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    val ops = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-econf-ansi-")), 64)
    val cat = new Catalog(ops.store)
    def run(sql: String) = graft.sql.GraftSql.execute(spark, ops, cat, sql)
    def clone() = ops.engine(smallShuffle = true, interpretedOk = true)
    def overflow(e: Throwable): Boolean = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).exists(c => Option(c.getMessage)
        .exists(_.contains("ARITHMETIC_OVERFLOW")))
    try {
      spark.conf.set(key, "false")
      run("CREATE TABLE ov (k bigint PRIMARY KEY, g bigint, v bigint)")
      run(s"INSERT INTO ov VALUES (1, 1, ${Long.MaxValue}), (2, 1, 1), (3, 2, 5)")
      // a driver-admitted SUM view: the overflow wraps with ANSI off
      run("CREATE MATERIALIZED VIEW ov_a AS SELECT g, SUM(v) AS s FROM ov GROUP BY g")
      val sums = ops.scan(cat.get("ov_a").get).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sums == Map(1L -> Long.MinValue, 2L -> 5L))
      val c0 = clone()
      run("INSERT INTO ov VALUES (4, 2, 7)")
      assert(clone() eq c0, "an unchanged user conf rebuilt the clone")
      assert(c0.conf.get(key) == "false")
      // the same statement shape on the same Ops follows the new value
      spark.conf.set(key, "true")
      val e = intercept[Throwable](run(
        "CREATE MATERIALIZED VIEW ov_b AS SELECT g, SUM(v) AS s FROM ov GROUP BY g"))
      assert(overflow(e), s"wanted the ANSI overflow error, got: $e")
      assert(!(clone() eq c0))
      assert(clone().conf.get(key) == "true")
      assert(c0.conf.get(key) == "false", "a built clone was mutated")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a user conf change (ANSI, session time zone) reaches LocalFold on the next statement") {
    val keys = Seq("spark.sql.ansi.enabled", "spark.sql.session.timeZone")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    val ops = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-econf-fold-")), 64)
    val ts = StructType(Seq(StructField("t", TimestampType),
      StructField("v", LongType)))
    val at = java.sql.Timestamp.from(java.time.Instant.parse("2021-06-01T12:00:00Z"))
    // one statement: an hour-of-day SUM over driver-resident rows whose
    // sum overflows a long
    def statement(): (Array[Row], Int) = {
      import scala.jdk.CollectionConverters._
      val df = spark.createDataFrame(
        Seq(Row(at, Long.MaxValue), Row(at, 1L)).asJava, ts)
        .groupBy(org.apache.spark.sql.functions.hour(
          org.apache.spark.sql.functions.col("t")).as("h"))
        .agg(org.apache.spark.sql.functions.sum("v").as("s"))
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val out = ops.collectDriverBounded(df)
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
        (out, jobs.get)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    try {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "UTC")
      val (utc, j1) = statement()
      assert(utc.map(r => r.getInt(0) -> r.getLong(1)).toSeq ==
        Seq(12 -> Long.MinValue))
      assert(j1 == 0, s"the driver fold launched $j1 Spark jobs")
      spark.conf.set(keys(1), "America/Los_Angeles")
      val (la, j2) = statement()
      assert(la.map(r => r.getInt(0) -> r.getLong(1)).toSeq ==
        Seq(5 -> Long.MinValue))
      assert(j2 == 0, s"the driver fold launched $j2 Spark jobs")
      spark.conf.set(keys(0), "true")
      val e = intercept[Throwable](statement())
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(c =>
        Option(c.getMessage).exists(_.contains("ARITHMETIC_OVERFLOW"))),
        s"wanted the ANSI overflow error, got: $e")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
