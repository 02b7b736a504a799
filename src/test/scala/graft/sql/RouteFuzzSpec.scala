package graft.sql

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core._

/** Seeded-random DML programs replayed under every internal route
  * configuration — the generative extension of the fixed route-matrix
  * capstone in SqlAndSourcesSpec. Round 9 added three new route forks
  * (INSERT…SELECT / range-UPDATE delta patches, the zero-job local
  * per-chunk transform), and a route divergence shows up as a hash or
  * row mismatch here long before a driver query would catch it. The
  * generator is DETERMINISTIC (fixed seed), so a failure reproduces. */
class RouteFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newOps(routes: Routes = Routes.Default): (Ops, Catalog) = {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-fuzz-"))
    (new Ops(spark, store, 64, routes = routes), new Catalog(store))
  }

  /** ~45 statements over t(k PK, g NOT NULL, v nullable, d float8
    * nullable): point and range and non-key DML, self-referencing
    * inserts with collisions, IN-lists, NULL values through every route
    * — interleaved with MATERIALIZED VIEW refreshes over invertible and
    * non-invertible (MIN/MAX) aggregates, so the inter-refresh delta shape (append-only / mixed /
    * delete-heavy) randomly drives the fold-in, RETRACTION, mini, and
    * rebuild refresh routes (round 12) — and with sign flips and NaNs
    * in `d`, which a secondary index on `d` keys on: -0.0 and 0.0 are
    * different values to the canonical encoding, so every index
    * refresh route must tell them apart. The fp statements draw from
    * their own random stream. */
  private def program(seed: Long): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val fpRng = new scala.util.Random(seed + 1)
    def k() = rng.nextInt(3000)
    def fk() = fpRng.nextInt(3000)
    val out = Seq.newBuilder[String]
    out += "INSERT INTO t SELECT id AS k, id % 11 AS g, CASE WHEN id % 7 = 0 THEN NULL ELSE id * 2 END AS v, CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id % 5 AS double) - 2.0 END AS d FROM range(0, 1200)"
    // SUM(k): key-column contribution (non-null by keyCols — admits
    // retraction); COUNT(*): the liveness column; COUNT(v): a
    // CASE-lowered invertible member over the NULLABLE column
    out += "CREATE MATERIALIZED VIEW mv AS SELECT g, SUM(k) AS sk, COUNT(*) AS n, COUNT(v) AS nv FROM t GROUP BY g"
    // a FILTERED sibling: the retraction's contribution projection must
    // apply the rowFilter before diffing (a deleted row the filter
    // drops retracts nothing)
    out += "CREATE MATERIALIZED VIEW mvw AS SELECT g, SUM(k) AS sk, COUNT(*) AS n FROM t WHERE v IS NOT NULL AND k % 3 != 1 GROUP BY g"
    // NON-invertible members (MIN/MAX): appends fold in (an append has
    // nothing to retract), deletes and updates take the mini path
    out += "CREATE MATERIALIZED VIEW mvm AS SELECT g, MIN(k) AS mn, MAX(k) AS mx, COUNT(*) AS n FROM t GROUP BY g"
    out += "CREATE INDEX t_d ON t (d)"
    (1 to 36).foreach { i =>
      if (i % 4 == 0) out += (fpRng.nextInt(3) match {
        case 0 =>
          val a = fk(); val b = a + 1 + fpRng.nextInt(400)
          s"UPDATE t SET d = -d WHERE k >= $a AND k < $b"
        case 1 => s"UPDATE t SET d = CAST('NaN' AS double) WHERE k = ${fk()}"
        case _ => s"UPDATE t SET d = -d WHERE g = ${fpRng.nextInt(11)}"
      })
      out += (rng.nextInt(10) match {
        case 0 =>
          val rows = (0 to rng.nextInt(2)).map(_ =>
            s"(${k()}, ${rng.nextInt(11)}, ${rng.nextInt(100)}, ${
              Seq("NULL", "0.0", "1.5")(fpRng.nextInt(3))})")
          s"INSERT INTO t VALUES ${rows.mkString(", ")}"
        case 1 =>
          val (m, r, off) = (2 + rng.nextInt(30), rng.nextInt(2), 3000 + rng.nextInt(5000))
          s"INSERT INTO t SELECT k + $off, g, v, d FROM t WHERE k % $m = $r"
        case 2 =>
          val a = k(); val b = a + 1 + rng.nextInt(400)
          s"UPDATE t SET v = coalesce(v, 0) + ${rng.nextInt(9)} WHERE k >= $a AND k < $b"
        case 3 =>
          s"UPDATE t SET v = ${rng.nextInt(50)} WHERE k = ${k()}"
        case 4 =>
          val ks = (0 to rng.nextInt(4)).map(_ => k()).distinct
          s"UPDATE t SET v = v * 2 WHERE k IN (${ks.mkString(", ")})"
        case 5 =>
          s"UPDATE t SET v = coalesce(v, -1) WHERE g = ${rng.nextInt(11)} AND v IS NULL"
        case 6 =>
          val a = k(); val b = a + 1 + rng.nextInt(200)
          s"DELETE FROM t WHERE k >= $a AND k < $b"
        case 7 =>
          if (rng.nextBoolean()) s"DELETE FROM t WHERE k = ${k()}"
          else s"DELETE FROM t WHERE g = ${rng.nextInt(11)} AND v % 5 = ${rng.nextInt(5)}"
        case _ =>
          "REFRESH ALL"
      })
    }
    out += "REFRESH ALL"
    out.result()
  }

  /** Final (table hash, rows, view and index hashes). A row's `d` is
    * its IEEE bits (or null), so -0.0 and 0.0 compare apart and NaN
    * equals itself. */
  private def runProgram(stmts: Seq[String], routes: Routes)
      : (String, Seq[(Long, Long, Any, Any)], String) = {
    val (ops, cat) = newOps(routes)
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE t (k bigint PRIMARY KEY, g bigint NOT NULL, v bigint, d float8)")
    stmts.foreach(GraftSql.execute(spark, ops, cat, _))
    val rows = ops.scan(TableRef(cat.root("t").tableHash)).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null
        else java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(_._1).toSeq
    (cat.root("t").tableHash, rows, viewHashes(cat))
  }

  private def viewHashes(cat: Catalog): String =
    Seq("mv", "mvw", "mvm", "t_d").map(n => cat.get(n).get.hash)
      .mkString(":")

  test("seeded DML programs hash-converge across every route config") {
    Seq(11L, 23L).foreach { seed =>
      val stmts = program(seed)
      // (pointDml, driverPatch, driverMaterialize, byte-budget-1): the
      // byte-budget-1 config keeps every route flag
      // ON but declines every byte-admitted driver route, so DML takes
      // the job paths and refreshes exercise the DISTRIBUTED fold-in
      // (appends through the region merge, deletes through
      // mergeRetract) across the whole seeded program
      val configs = Seq(
        (true, true, true, false), (true, false, true, false),
        (false, true, true, false), (true, true, false, false),
        (true, true, true, true))
      val results = configs.map {
        case (viaPatch, driverPatch, driverMat, bytes1) =>
        val routes = Routes(pointDml = viaPatch, driverPatch = driverPatch,
          driverMaterialize = driverMat,
          driverMaxBytes = if (bytes1) 1L else Routes.Default.driverMaxBytes)
        val merged0 = Ops.mergedFoldIns.get()
        val r = runProgram(stmts, routes)
        if (bytes1) {
          assert(Ops.mergedFoldIns.get() > merged0,
            s"seed $seed: byte-budget-1 config never merged a " +
              "fold-in delta")
        }
        r
      }
      assert(results.map(_._2).distinct.length == 1,
        s"seed $seed: routes disagree on rows")
      assert(results.map(_._1).distinct.length == 1,
        s"seed $seed: routes disagree on hash: ${results.map(_._1.take(12))}")
      assert(results.map(_._3).distinct.length == 1,
        s"seed $seed: refresh routes disagree on a VIEW or INDEX hash: ${
          results.map(_._3)}")
      // and the canonical rebuild of the final rows
      val (ops2, cat2) = newOps()
      import spark.implicits._
      results.head._2.map { case (a, b, c, d) =>
        (a, b, Option(c).map(_.asInstanceOf[Long]),
          Option(d).map(x => java.lang.Double.longBitsToDouble(
            x.asInstanceOf[Long]))) }
        .toDF("k", "g", "v", "d").createOrReplaceTempView("fuzz_final")
      GraftSql.execute(spark, ops2, cat2,
        "CREATE TABLE t PRIMARY KEY (k) AS SELECT * FROM fuzz_final")
      assert(cat2.root("t").tableHash == results.head._1,
        s"seed $seed: final state is not canonical")
      // the refreshed view must equal the from-scratch aggregate of the
      // final table — every fold-in/retraction along the way was exact
      GraftSql.execute(spark, ops2, cat2,
        "CREATE MATERIALIZED VIEW mv AS SELECT g, SUM(k) AS sk, " +
          "COUNT(*) AS n, COUNT(v) AS nv FROM t GROUP BY g")
      GraftSql.execute(spark, ops2, cat2,
        "CREATE MATERIALIZED VIEW mvw AS SELECT g, SUM(k) AS sk, " +
          "COUNT(*) AS n FROM t WHERE v IS NOT NULL AND k % 3 != 1 GROUP BY g")
      GraftSql.execute(spark, ops2, cat2,
        "CREATE MATERIALIZED VIEW mvm AS SELECT g, MIN(k) AS mn, " +
          "MAX(k) AS mx, COUNT(*) AS n FROM t GROUP BY g")
      GraftSql.execute(spark, ops2, cat2, "CREATE INDEX t_d ON t (d)")
      assert(viewHashes(cat2) == results.head._3,
        s"seed $seed: incrementally-refreshed views or index are not canonical")
    }
  }
}
