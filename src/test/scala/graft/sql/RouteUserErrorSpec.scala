package graft.sql

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core._

/** A user error raised inside a driver route — a null key, a NOT NULL
  * violation — is the statement's answer, not a route failure: it must
  * propagate from the route that raised it, unwrapped from the task
  * failure that carried it, without a "fell back" warning and without
  * re-running the input on the job route (whose sample and write jobs
  * would only raise the same error again). */
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
}
