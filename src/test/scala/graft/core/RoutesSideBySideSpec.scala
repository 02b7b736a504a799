package graft.core

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sql.SqlSession

/** Two [[Routes]] configurations side by side in one JVM: each `Ops`
  * computes with its own routes, so a driver-off `Ops` running
  * concurrently with a default one neither sees nor changes the other's
  * route choice. Jobs are attributed to a side through a Spark local
  * property set on that side's thread. */
class RoutesSideBySideSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every driver route off: the Spark job paths only. */
  private val DriverOff = Routes(pointDml = false, driverPatch = false,
    driverMaterialize = false, driverMaxBytes = 1L)

  private val SideKey = "graft.test.routes-side"

  /** Runs `body` with a listener counting the jobs per value of
    * [[SideKey]]; returns its result and the counts. */
  private def jobsBySide[T](body: => T): (T, Map[String, Int]) = {
    val sc = spark.sparkContext
    val counts = new ConcurrentHashMap[String, AtomicInteger]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val side = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SideKey))).getOrElse("none")
        counts.computeIfAbsent(side, _ => new AtomicInteger).incrementAndGet()
        ()
      }
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      (r, counts.asScala.map { case (k, v) => k -> v.get }.toMap)
    } finally sc.removeSparkListener(l)
  }

  /** `body` on the calling thread with its jobs tagged `side`. */
  private def asSide[T](s: SparkSession, side: String)(body: => T): T = {
    val sc = s.sparkContext
    sc.setLocalProperty(SideKey, side)
    try body finally sc.setLocalProperty(SideKey, null)
  }

  test("default and driver-off Ops run the DML flow concurrently: equal hashes, the driver-off side runs more jobs") {
    // one session per side: GraftSql registers each table as a temp
    // view of its session, and both flows name their table `t`
    val sides = Seq("default" -> Routes.Default, "off" -> DriverOff)
      .map { case (n, r) => (n, r, spark.newSession()) }
    val pool = Executors.newFixedThreadPool(2)
    val (hashes, jobs) = try jobsBySide {
      sides.map { case (name, routes, s) =>
        name -> pool.submit(() =>
          asSide(s, name)(DriverRouteSpec.runFlow(s, routes)))
      }.map { case (name, f) => name -> f.get(10, TimeUnit.MINUTES) }.toMap
    } finally pool.shutdown()
    assert(hashes("default") == hashes("off"),
      s"routes changed the result hash: $hashes")
    val (defJobs, offJobs) =
      (jobs.getOrElse("default", 0), jobs.getOrElse("off", 0))
    assert(offJobs > defJobs,
      s"the driver-off side ran no extra Spark jobs ($offJobs vs $defJobs)")
  }

  test("a transaction inherits its session's routes: BEGIN … COMMIT on a driver-off session runs its DML on the job routes") {
    def txnRun(name: String, routes: Routes): (String, Int) = {
      val s = spark.newSession()
      val store = new FsStore(FsUtil.tempStoreDir("graft-routes-txn-"))
      val cat = new Catalog(store)
      val sess = new SqlSession(s, new Ops(s, store, 64, routes = routes), cat)
      sess.execute(
        "CREATE TABLE t (k bigint PRIMARY KEY, g bigint NOT NULL, v bigint)")
      sess.execute(
        "INSERT INTO t SELECT id, id % 7, id * 3 FROM range(0, 2000)")
      sess.execute("BEGIN")
      val (_, jobs) = jobsBySide(asSide(s, name) {
        sess.execute("INSERT INTO t VALUES (5000, 1, 1), (17, 2, 2)")
        sess.execute("UPDATE t SET v = v + 1 WHERE k = 300")
        sess.execute("DELETE FROM t WHERE k IN (4, 900)")
      })
      sess.execute("COMMIT")
      (cat.root("t").tableHash, jobs.getOrElse(name, 0))
    }
    val (defHash, defJobs) = txnRun("default", Routes.Default)
    val (offHash, offJobs) = txnRun("off", DriverOff)
    assert(defHash == offHash, "routes changed the committed hash")
    assert(offJobs > defJobs,
      s"the transaction's DML ignored the session's driver-off routes " +
        s"($offJobs vs $defJobs jobs)")
  }
}
