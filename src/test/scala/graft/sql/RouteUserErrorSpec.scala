package graft.sql

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core._

/** A user error raised inside a driver route — a null key, a NOT NULL
  * violation, an ANSI arithmetic overflow on a route that runs the job
  * path's own plan — is the statement's answer, not a route failure: it
  * must propagate from the route that raised it, unwrapped from the task
  * failure that carried it, without a "fell back" warning and without
  * re-running the input on the job route (whose sample and write jobs
  * would only raise the same error again). An overflow that only an
  * incremental route's own order of additions meets is a route failure:
  * the statement falls back and gets the exact answer. */
class RouteUserErrorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `body`'s outcome, the labels of the Spark jobs it launched, and
    * what it printed to stderr. */
  private def observed[T](body: => T): (Either[Throwable, T], Seq[String], String) = {
    val sc = spark.sparkContext
    val group = "user-error-" + System.nanoTime()
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(p => p.getProperty("spark.jobGroup.id") == group)
          .foreach(p => labels.add(
            String.valueOf(p.getProperty("spark.job.description"))))
    }
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    sc.addSparkListener(l)
    sc.setJobGroup(group, "user errors")
    System.setErr(new java.io.PrintStream(err, true))
    try {
      val out = try Right(body) catch { case e: Exception => Left(e) }
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      (out, labels.asScala.toSeq, err.toString)
    } finally {
      System.setErr(stderr)
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(_.getClass.getName).toSeq

  private def assertNoFallback(what: String, labels: Seq[String],
      err: String): Unit = {
    assert(!labels.exists(l => l.startsWith("graft:sample") ||
      l.startsWith("graft:write")),
      s"$what re-ran on the job route: ${labels.mkString(", ")}")
    assert(!err.contains("fell back"), s"$what logged a fallback: $err")
  }

  test("a null key raises its own error from the collect route, without falling back") {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    val ops = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-usererr-")), 64)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a", 1L), Row(null, 2L)), 2),
      schema)
    // a caller-known row bound admits the one-collect driver route
    val (out, labels, err) = observed(ops.fromDataFrameBounded(df, Seq("k"),
      FoldSpec.FoldLast, rowBound = Some(2L), byteBound = None))
    out match {
      case Left(e: IllegalArgumentException) =>
        assert(e.getMessage.contains("null key in key column"))
      case other => fail(s"wanted the unwrapped null-key error, got: " +
        s"${other.left.toOption.map(causes)} after jobs ${labels.mkString(", ")}")
    }
    assertNoFallback("null-key load", labels, err)
  }

  test("a NOT NULL violation raises its own error from the point and range DML routes, without falling back") {
    val ops = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-usererr2-")), 64)
    val cat = new Catalog(ops.store)
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE t (k bigint PRIMARY KEY, v text NOT NULL, o text)")
    run("INSERT INTO t SELECT id AS k, CAST(id AS string) AS v, " +
      "NULL AS o FROM range(0, 200)")
    val before = cat.get("t").get
    Seq("INSERT INTO t VALUES (500, NULL, 'x')",
        "UPDATE t SET v = NULL WHERE k = 7",
        "UPDATE t SET v = NULL WHERE k >= 10 AND k < 20").foreach { sql =>
      val (out, labels, err) = observed(run(sql))
      out match {
        case Left(e: org.apache.spark.SparkThrowable) =>
          assert(e.getCondition == "USER_RAISED_EXCEPTION", s"$sql: $e")
          assert(e.asInstanceOf[Throwable].getMessage
            .contains("NOT NULL violation"), s"$sql: $e")
        case other => fail(s"$sql: wanted the NOT NULL error, got: " +
          s"${other.left.toOption.map(causes)} after jobs ${labels.mkString(", ")}")
      }
      assertNoFallback(sql, labels, err)
    }
    assert(cat.get("t").get == before, "a failed statement changed the table")
  }

  test("an ANSI SUM overflow through a zero-job fold raises its own error, without falling back") {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    def overflow(e: Throwable): Boolean = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).exists {
        case s: org.apache.spark.SparkThrowable =>
          s.getCondition == "ARITHMETIC_OVERFLOW"
        case _ => false
      }
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val rows = Seq(Row("a", Long.MaxValue), Row("a", 1L), Row("b", 1L))
    val ops = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-usererr3-")), 64)
    try {
      spark.conf.set(key, "true")
      // driver-resident rows folded by SUM: the zero-job fold meets the
      // overflow and declines, and the collect route raises it
      import scala.jdk.CollectionConverters._
      val df = spark.createDataFrame(rows.asJava, schema)
      val (out, labels, err) = observed(ops.fromDataFrameBounded(df,
        Seq("k"), FoldSpec.FoldSum, rowBound = Some(3L), byteBound = None))
      out match {
        case Left(e) if overflow(e) =>
          assert(e.isInstanceOf[org.apache.spark.SparkThrowable],
            s"the overflow came wrapped: ${causes(e)}")
        case other => fail(s"wanted the overflow error, got: " +
          s"${other.left.toOption.map(causes)} after jobs ${labels.mkString(", ")}")
      }
      assertNoFallback("overflowing SUM load", labels, err)
      assert(labels.length <= 1,
        s"more than the one raising collect ran: ${labels.mkString(", ")}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("an ANSI overflow that only an incremental fold-in's order meets is no user error: REFRESH equals the rebuild") {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    def newOps() = {
      val ops = new Ops(spark,
        new FsStore(graft.core.FsUtil.tempStoreDir("graft-usererr4-")), 64)
      (ops, new Catalog(ops.store))
    }
    def run(ops: Ops, cat: Catalog, stmts: Seq[String]): Unit =
      stmts.foreach(GraftSql.execute(spark, ops, cat, _))
    val base = Seq(
      "CREATE TABLE t (id bigint PRIMARY KEY, k bigint NOT NULL, v bigint NOT NULL)",
      s"INSERT INTO t VALUES (1, 1, ${Long.MaxValue}), (2, 2, 5)")
    val view = "CREATE MATERIALIZED VIEW mv AS " +
      "SELECT k, SUM(v) AS s, COUNT(*) AS n FROM t GROUP BY k"
    val update = "UPDATE t SET v = 1 WHERE id = 1"
    try {
      spark.conf.set(key, "true")
      // the driver fold-in adds the inserted 1 to the previous partial
      // MaxValue before the retracted -MaxValue: it overflows where the
      // answer, 1, does not, so it must fall back, not raise
      val (ops, cat) = newOps()
      run(ops, cat, base ++ Seq(view, update))
      val (out, labels, _) = observed(run(ops, cat, Seq("REFRESH ALL")))
      assert(out.isRight, s"REFRESH raised ${out.left.toOption.map(causes)}" +
        s" after jobs ${labels.mkString(", ")}")
      val (cold, coldCat) = newOps()
      run(cold, coldCat, base ++ Seq(update, view))
      val sums = ops.scan(cat.get("mv").get).collect()
        .map(r => r.getAs[Long]("k") ->
          (r.getAs[Long]("s"), r.getAs[Long]("n"))).toMap
      assert(sums == Map(1L -> (1L, 1L), 2L -> (5L, 1L)))
      assert(cat.get("mv").get.hash == coldCat.get("mv").get.hash,
        "the refresh must hash-equal a from-scratch build")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
