package graft.sql

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core._

/** SQL DDL fixtures from FIXTURES.md §5 + name-matched CSV parse from
  * FIXTURES.md §3. */
class SqlAndSourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newOps(routes: Routes = Routes.Default): (Ops, Catalog) = {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-sql-"))
    (new Ops(spark, store, 64, routes = routes), new Catalog(store))
  }

  test("CREATE TABLE: PK/NOT NULL/type names (SQL/Schema.hs fixtures)") {
    val ct = GraftSql.parseCreateTable(
      """CREATE TABLE t
        |  ( id bigint PRIMARY KEY NOT NULL
        |  , name text NOT NULL
        |  , score real
        |  , payload bytes
        |  , small smallint NOT NULL
        |  );""".stripMargin)
    assert(ct.name == "t")
    assert(ct.keyCols == Seq("id"))
    assert(ct.schema == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("score", FloatType, nullable = true),
      StructField("payload", BinaryType, nullable = true),
      StructField("small", ShortType, nullable = false))))
  }

  test("CREATE TABLE rejections: DEFAULT, table constraints, bad types") {
    def bad(sql: String): Unit =
      assertThrows[GraftSql.SqlException](GraftSql.parseCreateTable(sql))
    bad("CREATE TABLE t (id bigint PRIMARY KEY, x int DEFAULT 3)")
    bad("CREATE TABLE t (id bigint, PRIMARY KEY (id))")
    bad("CREATE TABLE t (id uuid PRIMARY KEY)")
    bad("DROP TABLE t")
    bad("CREATE TABLE t (id bigint)") // no PK
    // malformed type names must not prefix-match decimal/numeric and
    // leak the residue into constraint parsing (ADVICE r3 #3)
    bad("CREATE TABLE t (id bigint PRIMARY KEY, x decimalish)")
    bad("CREATE TABLE t (id bigint PRIMARY KEY, x numericfoo)")
  }

  test("execute: DDL creates empty catalog table; SELECT runs over catalog") {
    val (ops, cat) = newOps()
    val Right(_) = GraftSql.execute(spark, ops, cat,
      "CREATE TABLE kv (k text PRIMARY KEY, v bigint NOT NULL)"): @unchecked
    assert(cat.get("kv").isDefined)
    assert(ops.scan(cat.get("kv").get).count() == 0)
    // upsert some data through ops, then SQL over it
    import spark.implicits._
    val ref = ops.fromDataFrame(
      Seq(("a", 1L), ("b", 2L), ("c", 30L)).toDF("k", "v"), Seq("k"))
    cat.put("kv", ops.upsert(cat.get("kv").get, ref))
    val Left(df) = GraftSql.execute(spark, ops, cat,
      "SELECT k, v FROM kv WHERE v >= 2 ORDER BY k"): @unchecked
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("b", 2L), ("c", 30L)))
  }

  test("INSERT INTO upserts through the memoized merge; last write wins per PK") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE kv (k text PRIMARY KEY, v bigint NOT NULL)")
    val Right(_) = GraftSql.execute(spark, ops, cat,
      "INSERT INTO kv SELECT * FROM VALUES ('a', 1), ('b', 2) AS t(k, v)"): @unchecked
    // overwrite 'b', add 'c'; positional alignment + cast (ints -> bigint)
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO kv VALUES ('b', 20), ('c', 3)")
    val got = ops.scanOrdered(cat.get("kv").get).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 1L), ("b", 20L), ("c", 3L)))
    // by-name alignment is case-insensitive like Spark's resolver: V/K
    // aliases in reversed order still land in the right columns
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO kv SELECT * FROM VALUES (99, 'd') AS t(V, K)")
    val afterCase = ops.scanOrdered(cat.get("kv").get).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(afterCase("d") == 99L, "case-insensitive by-name alignment")
    // arity mismatch rejected
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "INSERT INTO kv VALUES ('x')"))
    // unknown table rejected
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "INSERT INTO nope VALUES ('x', 1)"))
  }

  test("DELETE FROM: key ranges take deleteRange; other predicates rebuild; no-op mints no root") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE kv (k bigint PRIMARY KEY, v bigint NOT NULL)")
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO kv SELECT id AS k, id * 10 AS v FROM range(0, 100)")
    def keys(): Seq[Long] = ops.scanOrdered(cat.get("kv").get)
      .collect().map(_.getLong(0)).toSeq

    // leading-key range → incremental deleteRange, memoized range ops
    ops.store.stats.reset()
    GraftSql.execute(spark, ops, cat, "DELETE FROM kv WHERE k >= 20 AND k < 30")
    assert(keys() == ((0L until 20L) ++ (30L until 100L)))
    assert(ops.store.stats.snapshot("memoMisses") > 0, "range path not used")

    // BETWEEN (inclusive both ends) and equality forms
    GraftSql.execute(spark, ops, cat, "DELETE FROM kv WHERE k BETWEEN 90 AND 94")
    assert(!keys().exists(k => k >= 90 && k <= 94))
    GraftSql.execute(spark, ops, cat, "DELETE FROM kv WHERE k = 0")
    assert(!keys().contains(0L))

    // non-key predicate → filter-and-rebuild, still correct
    GraftSql.execute(spark, ops, cat, "DELETE FROM kv WHERE v % 20 = 10")
    assert(keys().forall(k => (k * 10) % 20 != 10))

    // no-op delete: result identical ⇒ no new catalog root
    val rootBefore = ops.store.currentRootHash
    GraftSql.execute(spark, ops, cat, "DELETE FROM kv WHERE k >= 5000")
    assert(ops.store.currentRootHash == rootBefore, "no-op delete minted a root")

    // unknown table rejected
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "DELETE FROM nope WHERE k = 1"))
  }

  test("UPDATE: key ranges rewrite only the range; key/general predicates rebuild; no-op mints no root") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE kv (k bigint PRIMARY KEY, v bigint NOT NULL)")
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO kv SELECT id AS k, id * 10 AS v FROM range(0, 100)")
    def rows(): Map[Long, Long] = ops.scanOrdered(cat.get("kv").get)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // leading-key range → incremental path (range scan + upsert merge)
    GraftSql.execute(spark, ops, cat,
      "UPDATE kv SET v = v + 1 WHERE k >= 20 AND k < 30")
    assert(rows() == (0L until 100L).map(k =>
      k -> (if (k >= 20 && k < 30) k * 10 + 1 else k * 10)).toMap)

    // range result must hash-equal the same update done as a rebuild
    val (ops2, cat2) = newOps()
    GraftSql.execute(spark, ops2, cat2,
      "CREATE TABLE kv (k bigint PRIMARY KEY, v bigint NOT NULL)")
    GraftSql.execute(spark, ops2, cat2,
      """INSERT INTO kv SELECT id AS k,
        |  CASE WHEN id >= 20 AND id < 30 THEN id*10 + 1 ELSE id*10 END AS v
        |FROM range(0, 100)""".stripMargin)
    assert(cat.get("kv").get.hash == cat2.get("kv").get.hash,
      "incremental UPDATE result differs from from-scratch build")

    // equality form, multiple assignments
    GraftSql.execute(spark, ops, cat, "UPDATE kv SET v = 0 WHERE k = 50")
    assert(rows()(50L) == 0L)

    // non-key predicate → rebuild, still correct
    GraftSql.execute(spark, ops, cat, "UPDATE kv SET v = -1 WHERE v % 20 = 10")
    assert(rows().forall { case (_, v) => v % 20 != 10 || v == -1 })

    // key-column assignment → rebuild (re-key)
    GraftSql.execute(spark, ops, cat, "UPDATE kv SET k = k + 1000 WHERE k < 2")
    val ks = rows().keySet
    assert(!ks.contains(0L) && !ks.contains(1L) &&
      ks.contains(1000L) && ks.contains(1001L))

    // no-op update (empty range): no new catalog root
    val rootBefore = ops.store.currentRootHash
    GraftSql.execute(spark, ops, cat, "UPDATE kv SET v = 9 WHERE k >= 5000")
    assert(ops.store.currentRootHash == rootBefore, "no-op update minted a root")

    // unknown column / unknown table rejected
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "UPDATE kv SET nope = 1 WHERE k = 1"))
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "UPDATE nope SET v = 1 WHERE k = 1"))
  }

  test("non-key DML: zone maps pass untouched chunks through; sharing survives") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE m (k bigint PRIMARY KEY, v bigint NOT NULL, s text)")
    // v correlates with k, so per-chunk v-ranges are tight and selective
    run("INSERT INTO m SELECT id AS k, id AS v, " +
      "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS s FROM range(0, 2000)")
    def chunksOf(): Seq[graft.core.ChunkMeta] =
      ops.meta(graft.core.TableRef(cat.root("m").tableHash)).chunks
    val before = chunksOf()
    assert(before.length > 20, s"fixture spans ${before.length} chunks")

    // selective DELETE on a VALUE column: chunks whose stats exclude the
    // range pass through VERBATIM — object identity preserved, only the
    // overlapping chunks rewrite
    ops.store.stats.reset()
    run("DELETE FROM m WHERE v >= 100 AND v < 140")
    val afterDel = chunksOf()
    val beforeSet = before.map(_.hash).toSet
    val sharedDel = afterDel.count(c => beforeSet(c.hash))
    assert(sharedDel >= afterDel.length - 4,
      s"delete must share untouched chunks ($sharedDel of ${afterDel.length})")
    val delSaves = ops.store.stats.snapshot("chunkSaves")
    assert(delSaves <= 6, s"selective delete wrote $delSaves chunks")
    assert(ops.scanOrdered(cat.get("m").get).collect().map(_.getLong(0)).toSeq
      == ((0L until 100L) ++ (140L until 2000L)))

    // selective UPDATE: same passthrough economics
    ops.store.stats.reset()
    run("UPDATE m SET s = 'big' WHERE v >= 1900")
    val afterUpd = chunksOf()
    val delSet = afterDel.map(_.hash).toSet
    val sharedUpd = afterUpd.count(c => delSet(c.hash))
    assert(sharedUpd >= afterUpd.length - 4,
      s"update must share untouched chunks ($sharedUpd of ${afterUpd.length})")
    assert(ops.store.stats.snapshot("chunkSaves") <= 6)
    val smap = ops.scanOrdered(cat.get("m").get).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(smap(1950L) == "big" && smap(1899L) == "odd" && smap(400L) == "even")

    // DML matching NOTHING is a pure passthrough: no content change, no root
    val rootBefore = ops.store.currentRootHash
    run("DELETE FROM m WHERE v > 99999999")
    run("UPDATE m SET s = 'x' WHERE v < -5")
    assert(ops.store.currentRootHash == rootBefore,
      "no-match non-key DML minted a root")

    // OR predicates prune too (ZoneMaps recursion)
    ops.store.stats.reset()
    run("DELETE FROM m WHERE v < 10 OR v >= 1990")
    assert(ops.store.stats.snapshot("chunkSaves") <= 6)
    val left = ops.scanOrdered(cat.get("m").get).collect().map(_.getLong(0))
    assert(!left.exists(k => k < 10 || k >= 1990) && left.length > 1800)
  }

  test("JSON export -> import round-trips a table bit-exactly (fields by NAME)") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE kv (k bigint PRIMARY KEY, v bigint NOT NULL)")
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO kv SELECT id AS k, id * 10 AS v FROM range(0, 50)")
    val schema = cat.schemaOf("kv").get

    // export shape (what Cli export-json prints), field order REVERSED
    // to prove by-name matching
    val dir = Files.createTempDirectory("graft-json-src-")
    val lines = (0 until 50).map(i => s"""{"v":${i * 10},"k":$i}""")
    Files.write(dir.resolve("part0.json"),
      String.join("\n", lines: _*).getBytes)

    val imported = ops.fromDataFrame(
      graft.sources.Json.readNameMatched(spark, dir.toString, schema), Seq("k"))
    assert(imported.hash == cat.get("kv").get.hash,
      "JSON round trip must reproduce the identical table hash")

    // missing required field rejected
    val bad = Files.createTempDirectory("graft-json-bad-")
    Files.write(bad.resolve("part0.json"), """{"k":1}""".getBytes)
    assertThrows[IllegalArgumentException](
      graft.sources.Json.readNameMatched(spark, bad.toString, schema))
  }

  test("INNER and LEFT JOIN materialized views: presence-marked stage + O(delta) post-filter") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE f (k bigint PRIMARY KEY, v bigint NOT NULL)")
    run("INSERT INTO f SELECT id AS k, id * 10 AS v FROM range(0, 2000)")
    run("CREATE TABLE d (k bigint PRIMARY KEY, label text)")
    // row 5 is PRESENT with a NULL label — an inner join must keep it
    // (presence markers, not a value-null heuristic)
    run("INSERT INTO d VALUES (0, 'zero'), (1, 'one'), (5, NULL)")

    run("CREATE MATERIALIZED VIEW ij AS SELECT * FROM f INNER JOIN d USING (k)")
    val Left(ijDf) = run("SELECT k, v, label FROM ij ORDER BY k"): @unchecked
    assert(ijDf.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.getString(2)))).toSeq ==
      Seq((0L, 0L, Some("zero")), (1L, 10L, Some("one")), (5L, 50L, None)))
    // the presence markers are internal — the visible view doesn't show them
    assert(ops.meta(cat.get("ij").get).schema.fieldNames.toSeq ==
      Seq("k", "v", "label"))

    run("CREATE MATERIALIZED VIEW lj AS SELECT * FROM f LEFT JOIN d USING (k)")
    val Left(ljDf) = run(
      "SELECT k, label FROM lj WHERE k <= 2 ORDER BY k"): @unchecked
    assert(ljDf.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((0L, Some("zero")), (1L, Some("one")), (2L, None)))
    assert(ops.scan(cat.get("lj").get).count() == 2000)

    // O(delta) refresh: a 1-row delta to the dim side rewrites only the
    // touched chunks of the join stage + post stage, not the view
    val viewChunks = ops.meta(cat.get("lj").get).chunks.length
    assert(viewChunks > 20, s"need many chunks, got $viewChunks")
    run("INSERT INTO d VALUES (7, 'seven')")
    ops.store.stats.reset()
    run("REFRESH MATERIALIZED VIEW lj")
    val saves = ops.store.stats.snapshot("chunkSaves")
    assert(saves <= 12,
      s"join view refresh after a point delta wrote $saves chunks of $viewChunks")
    val Left(l7) = run("SELECT label FROM lj WHERE k = 7"): @unchecked
    assert(l7.collect().head.getString(0) == "seven")

    // DROP removes the view AND its internal join stage in one root
    val inner = SqlViews.innerJoinName("ij")
    assert(cat.root.contains(inner), "inner join stage must be cataloged")
    run("DROP MATERIALIZED VIEW ij")
    assert(cat.get("ij").isEmpty && !cat.root.contains(inner) &&
      !cat.viewDefs.contains("ij"))

    // definition persists: a fresh catalog redeclares and refreshes it
    val cat2 = new Catalog(ops.store)
    assert(cat2.viewDefs.contains("lj"))
    GraftSql.execute(spark, ops, cat2, "REFRESH MATERIALIZED VIEW lj")

    // FULL ... WHERE tail lowers with the same post stage
    run("CREATE MATERIALIZED VIEW fw AS SELECT * FROM f FULL OUTER JOIN d USING (k) WHERE k < 3")
    assert(ops.scan(cat.get("fw").get).count() == 3)

    // USING must name the key columns
    assertThrows[GraftSql.SqlException](run(
      "CREATE MATERIALIZED VIEW bad AS SELECT * FROM f INNER JOIN d USING (v)"))
  }

  /** Round-6 route-convergence capstone: one DML statement program
    * executed through every internal route combination — VALUES via the
    * point patch vs the merge, patches on the driver vs as Spark
    * jobs — must end at the IDENTICAL table hash, which must also equal
    * a CTAS rebuild of the final rows (content addressing is
    * unconditional, whatever path computed the state). */
  test("statement capstone: identical hashes across internal DML routes") {
    val program = Seq(
      "INSERT INTO t SELECT id AS k, id % 13 AS g, id * 3 AS v FROM range(0, 1500)",
      "INSERT INTO t VALUES (2000, 1, 17), (2001, 2, 18), (40, 0, -1)",
      "DELETE FROM t WHERE k = 700",
      "DELETE FROM t WHERE k IN (10, 11, 2000)",
      "UPDATE t SET v = v + 5 WHERE k >= 300 AND k < 400",
      // full-range rewrite: the round-9 delta-patch route takes even an
      // every-run delta when byte-admitted — must hash-converge with
      // the legacy collect+merge chain
      "UPDATE t SET v = v - 1 WHERE k >= 0",
      "DELETE FROM t WHERE g = 7 AND v % 2 = 1",
      "INSERT INTO t VALUES (2100, 3, 99)",
      "UPDATE t SET v = v * 2 + g WHERE k = 500",
      "UPDATE t SET v = 1 WHERE k IN (600, 601)",
      "UPDATE t SET v = -7 WHERE k = 999999999",
      "DELETE FROM t WHERE k >= 1200 AND k < 1300",
      "UPDATE t SET v = 0 WHERE g = 11")
    def runProgram(routes: Routes): (String, Seq[(Long, Long, Long)]) = {
      val (ops, cat) = newOps(routes)
      GraftSql.execute(spark, ops, cat,
        "CREATE TABLE t (k bigint PRIMARY KEY, g bigint NOT NULL, v bigint NOT NULL)")
      program.foreach(GraftSql.execute(spark, ops, cat, _))
      val rows = ops.scan(TableRef(cat.root("t").tableHash)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      (cat.root("t").tableHash, rows)
    }
    val routes = Seq((true, true), (true, false), (false, true), (false, false))
    val results = routes.map { case (viaPatch, driver) =>
      runProgram(Routes(pointDml = viaPatch, driverPatch = driver))
    }
    assert(results.map(_._2).distinct.length == 1, "routes disagree on rows")
    assert(results.map(_._1).distinct.length == 1,
      s"routes disagree on hash: ${results.map(_._1.take(12))}")
    // and the canonical rebuild of the same rows
    val (ops2, cat2) = newOps()
    import spark.implicits._
    results.head._2.toDF("k", "g", "v").createOrReplaceTempView("cap_final")
    GraftSql.execute(spark, ops2, cat2,
      "CREATE TABLE t PRIMARY KEY (k) AS SELECT * FROM cap_final")
    assert(cat2.root("t").tableHash == results.head._1,
      "final state is not canonical")
  }

  test("aggregate-over-join materialized view: three-stage chain, O(delta) refresh") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE fa (k bigint PRIMARY KEY, grp bigint NOT NULL, x bigint NOT NULL)")
    run("INSERT INTO fa SELECT id AS k, id % 40 AS grp, id * 3 AS x FROM range(0, 4000)")
    run("CREATE TABLE da (k bigint PRIMARY KEY, y bigint)")
    run("INSERT INTO da SELECT id AS k, id * 7 AS y FROM range(0, 4000, 2)")

    run("CREATE MATERIALIZED VIEW gsum AS " +
      "SELECT grp, SUM(x) AS sx, SUM(y) AS sy, COUNT(*) AS n " +
      "FROM fa INNER JOIN da USING (k) WHERE x % 5 != 4 GROUP BY grp HAVING n >= 2")

    // reference semantics computed directly
    def expect(): Map[Long, (Long, Long, Long)] =
      (0L until 4000L).filter(_ % 2 == 0).map(k => (k % 40, k * 3, k * 7))
        .filter(_._2 % 5 != 4)
        .groupBy(_._1).view.mapValues(g =>
          (g.map(_._2).sum, g.map(_._3).sum, g.size.toLong))
        .toMap.filter(_._2._3 >= 2)
    def got(): Map[Long, (Long, Long, Long)] = {
      val Left(df) = run("SELECT grp, sx, sy, n FROM gsum ORDER BY grp"): @unchecked
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    }
    assert(got() == expect())

    // the chain owns BOTH internal stages
    assert(cat.root.contains(SqlViews.innerJoinName("gsum")))
    assert(cat.root.contains(SqlViews.innerAggName("gsum")))

    // O(delta): a point delta to the dim side refreshes the whole chain
    // with bounded chunk writes
    val stageChunks = ops.meta(
      cat.get(SqlViews.innerJoinName("gsum")).get).chunks.length
    assert(stageChunks > 20, s"need many stage chunks, got $stageChunks")
    run("INSERT INTO da VALUES (1, 777)")
    ops.store.stats.reset()
    run("REFRESH ALL")
    val saves = ops.store.stats.snapshot("chunkSaves")
    assert(saves <= 16,
      s"chain refresh after a point delta wrote $saves chunks of $stageChunks")
    // the new (k=1, y=777) row joins in (x=3, 3 % 5 != 4): grp 1 gains it
    val base = expect()
    val withDelta = base.updatedWith(1L)(_.map {
      case (sx, sy, n) => (sx + 3, sy + 777, n + 1) })
    assert(got() == withDelta)

    // DROP removes the view and BOTH stages
    run("DROP MATERIALIZED VIEW gsum")
    assert(cat.get("gsum").isEmpty &&
      !cat.root.contains(SqlViews.innerJoinName("gsum")) &&
      !cat.root.contains(SqlViews.innerAggName("gsum")))
  }

  test("DELETE-refresh: retraction (SUM/COUNT/HIST) hash-equals from-scratch; KMV declines safely") {
    // end-to-end SQL pin of the delete-aware retraction route (VERDICT
    // r11 #2): the NOT NULL flags come from the DDL (what admits SUM),
    // the DELETE kills one whole group and thins others, and the
    // refreshed view must hash-equal a from-scratch CREATE over the
    // final table state in a FRESH store. A KMV_DISTINCT view is NOT
    // invertible — its delete-refresh must decline the route (counter
    // unchanged) and still converge through the exact general paths.
    def finalHash(prePopulate: Boolean): (String, Long) = {
      val (ops, cat) = newOps()
      def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
      run("CREATE TABLE rt (k bigint PRIMARY KEY, g bigint NOT NULL, " +
        "v bigint NOT NULL)")
      if (prePopulate) {
        run("INSERT INTO rt SELECT id, id % 97, id * 3 FROM range(0, 20000)")
        run("CREATE MATERIALIZED VIEW rtv AS SELECT g, SUM(v) AS sv, " +
          "COUNT(*) AS n, HIST_QUANTILE(v div 1000, 0.5) AS med " +
          "FROM rt GROUP BY g")
        // kill group 7 outright (every k ≡ 7 mod 97), thin group 11
        run("DELETE FROM rt WHERE k % 97 = 7")
        run("DELETE FROM rt WHERE k % 97 = 11 AND k % 2 = 0")
        // sink-agnostic assert: the retraction CONTRACT is "a fold-in
        // ran" — splice or merge is the row/byte caps' call, pinned by
        // the byte-budget test below
        val r0 = graft.core.Ops.splicedFoldIns.get() +
          graft.core.Ops.mergedFoldIns.get()
        run("REFRESH MATERIALIZED VIEW rtv")
        assert(graft.core.Ops.splicedFoldIns.get() +
          graft.core.Ops.mergedFoldIns.get() > r0,
          "SQL DELETE-refresh did not take a retraction route")
      } else {
        run("INSERT INTO rt SELECT id, id % 97, id * 3 FROM range(0, 20000) " +
          "WHERE NOT (id % 97 = 7) AND NOT (id % 97 = 11 AND id % 2 = 0)")
        run("CREATE MATERIALIZED VIEW rtv AS SELECT g, SUM(v) AS sv, " +
          "COUNT(*) AS n, HIST_QUANTILE(v div 1000, 0.5) AS med " +
          "FROM rt GROUP BY g")
      }
      val Left(df) = run("SELECT g, sv, n, med FROM rtv ORDER BY g"): @unchecked
      val rows = df.count()
      (cat.root(SqlViews.innerAggName("rtv")).tableHash, rows)
    }
    val (hIncr, nIncr) = finalHash(prePopulate = true)
    val (hScratch, nScratch) = finalHash(prePopulate = false)
    assert(nIncr == nScratch && nIncr == 96L,
      s"group 7 must die: $nIncr vs $nScratch")
    assert(hIncr == hScratch,
      "retraction refresh must hash-equal the from-scratch aggregate stage")

    // KMV is not invertible: deletes decline to the exact paths
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE rk (k bigint PRIMARY KEY, g bigint NOT NULL, " +
      "v bigint NOT NULL)")
    run("INSERT INTO rk SELECT id, id % 7, id % 300 FROM range(0, 8000)")
    run("CREATE MATERIALIZED VIEW rkv AS SELECT g, KMV_DISTINCT(v) AS d, " +
      "COUNT(*) AS n FROM rk GROUP BY g")
    run("DELETE FROM rk WHERE v >= 200")
    val r0 = graft.core.Ops.splicedFoldIns.get() +
      graft.core.Ops.mergedFoldIns.get()
    run("REFRESH MATERIALIZED VIEW rkv")
    assert(graft.core.Ops.splicedFoldIns.get() +
      graft.core.Ops.mergedFoldIns.get() == r0,
      "a KMV view must decline the retraction fold-in")
    val Left(df) = run("SELECT g, d, n FROM rkv ORDER BY g"): @unchecked
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exact branch below k=256: d is the true distinct count of v < 400
    // per group; n is the remaining row count
    got.foreach { case (g, d, n) =>
      val vs = (0L until 8000L).filter(_ % 7 == g).map(_ % 300).filter(_ < 200)
      assert(d == vs.distinct.size.toLong && n == vs.size.toLong,
        s"KMV view wrong after delete-refresh for g=$g: ($d, $n)")
    }

    // COUNT(x) over a DDL-NOT-NULL column lowers to the literal-1
    // contribution, so a view WITHOUT COUNT(*) still carries a
    // liveness column and retracts
    val (ops3, cat3) = newOps()
    def run3(sql: String) = GraftSql.execute(spark, ops3, cat3, sql)
    run3("CREATE TABLE rc (k bigint PRIMARY KEY, g bigint NOT NULL, " +
      "v bigint NOT NULL)")
    run3("INSERT INTO rc SELECT id, id % 5, id FROM range(0, 6000)")
    run3("CREATE MATERIALIZED VIEW rcv AS SELECT g, SUM(v) AS sv, " +
      "COUNT(v) AS n FROM rc GROUP BY g")
    run3("DELETE FROM rc WHERE k % 10 = 2")
    val rc0 = graft.core.Ops.splicedFoldIns.get() +
      graft.core.Ops.mergedFoldIns.get()
    run3("REFRESH MATERIALIZED VIEW rcv")
    assert(graft.core.Ops.splicedFoldIns.get() +
      graft.core.Ops.mergedFoldIns.get() > rc0,
      "COUNT(not-null col) must act as the liveness column")
    val Left(df3) = run3("SELECT g, sv, n FROM rcv ORDER BY g"): @unchecked
    val want3 = (0L until 6000L).filterNot(_ % 10 == 2).groupBy(_ % 5)
      .view.mapValues(ks => (ks.sum, ks.size.toLong)).toMap
    assert(df3.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap == want3)
  }

  test("DELETE-refresh over the driver byte budget reroutes to the DISTRIBUTED retraction") {
    // a byte budget of 1 keeps the fold-in off the driver: its plan
    // runs as jobs over scanned chunks and the delta cannot splice, so
    // it merges in as a table — not silently falling to a rebuild — and
    // the view must stay exact, group death included.
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE gd (k bigint PRIMARY KEY, g bigint NOT NULL, " +
      "v bigint NOT NULL)")
    run("INSERT INTO gd SELECT id, id % 37, id * 5 FROM range(0, 20000)")
    run("CREATE MATERIALIZED VIEW gdv AS SELECT g, SUM(v) AS sv, " +
      "COUNT(*) AS n FROM gd GROUP BY g")
    run("DELETE FROM gd WHERE k % 37 = 3")           // kill group 3
    run("DELETE FROM gd WHERE k % 37 = 5 AND k % 2 = 0") // thin group 5
    val spliced0 = graft.core.Ops.splicedFoldIns.get()
    val merged0 = graft.core.Ops.mergedFoldIns.get()
    GraftSql.execute(spark, new Ops(spark, ops.store, ops.chunkTargetRows,
      routes = Routes(driverMaxBytes = 1L)), cat,
      "REFRESH MATERIALIZED VIEW gdv")
    assert(graft.core.Ops.mergedFoldIns.get() > merged0,
      "a byte-declined DELETE-refresh must merge its fold-in delta")
    assert(graft.core.Ops.splicedFoldIns.get() == spliced0,
      "a byte-declined DELETE-refresh must not also splice")
    val Left(df) = run("SELECT g, sv, n FROM gdv ORDER BY g"): @unchecked
    val want = (0L until 20000L)
      .filterNot(k => k % 37 == 3 || (k % 37 == 5 && k % 2 == 0))
      .groupBy(_ % 37)
      .view.mapValues(ks => (ks.map(_ * 5).sum, ks.size.toLong)).toMap
    val got = df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(3L), "fully-deleted group must die")
    assert(got == want)
  }

  test("binary columns render as lowercase hex in text exports and round-trip through import") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE bt (k bigint PRIMARY KEY, b bytes)")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("b", BinaryType)))
    val rows = (0L until 20L).map(i =>
      Row(i, Array.tabulate[Byte](8)(j => (i * 16 + j).toByte)))
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    cat.put("bt", ops.upsert(cat.get("bt").get, ops.fromDataFrame(src, Seq("k"))))
    val origHash = cat.get("bt").get.hash

    // COPY TO json renders hex (Table/Bytes.hs:16-28 parity)
    val dir = graft.core.FsUtil.tempStoreDir("graft-hex-")
    GraftSql.execute(spark, ops, cat, s"COPY bt TO '$dir' (FORMAT json)")
    val line = spark.read.text(dir).collect().map(_.getString(0))
      .find(_.contains("\"k\":1")).get
    assert(line.contains("\"b\":\"1011121314151617\""),
      s"expected lowercase hex rendering, got: $line")

    // and the by-name JSON reader parses it back to the identical table
    val schema2 = cat.schemaOf("bt").get
    val imported = ops.fromDataFrame(
      graft.sources.Json.readNameMatched(spark, dir, schema2), Seq("k"))
    assert(imported.hash == origHash,
      "hex export -> import must reproduce the identical table hash")

    // CSV round-trips too
    val dirC = graft.core.FsUtil.tempStoreDir("graft-hexc-")
    GraftSql.execute(spark, ops, cat, s"COPY bt TO '$dirC' (FORMAT csv)")
    val importedC = ops.fromDataFrame(
      graft.sources.Csv.readNameMatched(spark, dirC, schema2), Seq("k"))
    assert(importedC.hash == origHash)
  }

  test("composite-key DML: equality prefix + range plans as one tuple-prefix range") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE kv2 (k1 bigint PRIMARY KEY, k2 bigint PRIMARY KEY, v bigint NOT NULL)")
    GraftSql.execute(spark, ops, cat,
      """INSERT INTO kv2 SELECT id div 10 AS k1, id % 10 AS k2, id AS v
        |FROM range(0, 100)""".stripMargin)
    def rows(): Set[(Long, Long, Long)] = ops.scanOrdered(cat.get("kv2").get)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // the fast path recognizes the composite shapes exactly
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(cat.root("kv2").schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(GraftSql.parseKeyRange(spark, schema, Seq("k1", "k2"),
      "k1 = 3 AND k2 >= 4 AND k2 < 8").isDefined)
    assert(GraftSql.parseKeyRange(spark, schema, Seq("k1", "k2"),
      "k1 = 3 AND k2 BETWEEN 4 AND 7").isDefined)
    assert(GraftSql.parseKeyRange(spark, schema, Seq("k1", "k2"),
      "k1 = 3 AND k2 = 4").isDefined)
    // NOT clean ranges: range without its leading equality, a deeper
    // leftover, duplicate bounds, value columns
    assert(GraftSql.parseKeyRange(spark, schema, Seq("k1", "k2"),
      "k2 >= 4").isEmpty)
    assert(GraftSql.parseKeyRange(spark, schema, Seq("k1", "k2"),
      "k1 >= 3 AND k2 >= 4").isEmpty)
    assert(GraftSql.parseKeyRange(spark, schema, Seq("k1", "k2"),
      "k1 = 3 AND k1 = 4").isEmpty)
    assert(GraftSql.parseKeyRange(spark, schema, Seq("k1", "k2"),
      "k1 = 3 AND v = 1").isEmpty)

    // DELETE a (k1, k2-range) slice incrementally
    GraftSql.execute(spark, ops, cat,
      "DELETE FROM kv2 WHERE k1 = 3 AND k2 >= 4 AND k2 < 8")
    assert(rows() == (0L until 100L)
      .filterNot(i => i / 10 == 3 && i % 10 >= 4 && i % 10 < 8)
      .map(i => (i / 10, i % 10, i)).toSet)

    // UPDATE a (k1, k2-BETWEEN) slice incrementally
    GraftSql.execute(spark, ops, cat,
      "UPDATE kv2 SET v = v + 1000 WHERE k1 = 5 AND k2 BETWEEN 2 AND 4")
    assert(rows().filter(_._1 == 5L) == (50L until 60L)
      .map(i => (5L, i % 10, if (i % 10 >= 2 && i % 10 <= 4) i + 1000 else i))
      .toSet)

    // whole-tenant delete: bare equality prefix drops every extending key
    GraftSql.execute(spark, ops, cat, "DELETE FROM kv2 WHERE k1 = 7")
    assert(!rows().exists(_._1 == 7L) && rows().size == 86)
  }

  test("one-sided composite range under an equality prefix stays inside the prefix") {
    // ADVICE r4 high: `k1 = a AND k2 >= b` must cap the open side at the
    // prefix — an unbounded hi would delete every tuple above (a, b),
    // k1 > a included
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE kv2 (k1 bigint PRIMARY KEY, k2 bigint PRIMARY KEY, v bigint NOT NULL)")
    GraftSql.execute(spark, ops, cat,
      """INSERT INTO kv2 SELECT id div 10 AS k1, id % 10 AS k2, id AS v
        |FROM range(0, 100)""".stripMargin)
    def rows(): Set[(Long, Long, Long)] = ops.scanOrdered(cat.get("kv2").get)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // lower-only: k1 = 3 AND k2 >= 4 deletes exactly (3,4)..(3,9)
    GraftSql.execute(spark, ops, cat,
      "DELETE FROM kv2 WHERE k1 = 3 AND k2 >= 4")
    assert(rows() == (0L until 100L)
      .filterNot(i => i / 10 == 3 && i % 10 >= 4)
      .map(i => (i / 10, i % 10, i)).toSet,
      "rows outside the k1 = 3 prefix must survive a one-sided lower range")

    // upper-only: k1 = 6 AND k2 < 3 deletes exactly (6,0)..(6,2)
    GraftSql.execute(spark, ops, cat,
      "DELETE FROM kv2 WHERE k1 = 6 AND k2 < 3")
    assert(rows() == (0L until 100L)
      .filterNot(i => i / 10 == 3 && i % 10 >= 4)
      .filterNot(i => i / 10 == 6 && i % 10 < 3)
      .map(i => (i / 10, i % 10, i)).toSet,
      "rows outside the k1 = 6 prefix must survive a one-sided upper range")

    // UPDATE via the fast path likewise touches only the prefix slice
    GraftSql.execute(spark, ops, cat,
      "UPDATE kv2 SET v = v + 1000 WHERE k1 = 5 AND k2 >= 8")
    assert(rows().filter(_._1 != 5L) == (0L until 100L)
      .filterNot(i => i / 10 == 3 && i % 10 >= 4)
      .filterNot(i => i / 10 == 6 && i % 10 < 3)
      .filterNot(i => i / 10 == 5)
      .map(i => (i / 10, i % 10, i)).toSet,
      "UPDATE with a one-sided composite range must not rewrite other prefixes")
    assert(rows().filter(_._1 == 5L) == (50L until 60L)
      .map(i => (5L, i % 10, if (i % 10 >= 8) i + 1000 else i)).toSet)
  }

  test("string literals containing ' where '/' and ' parse (quote-aware splits)") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE s (k bigint PRIMARY KEY, name text)")
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO s VALUES (1, 'one'), (2, 'two'), (3, 'three')")
    // SET literal containing " where " must not be split as a WHERE
    GraftSql.execute(spark, ops, cat,
      "UPDATE s SET name = 'a where b' WHERE k = 2")
    val got = ops.scanOrdered(cat.get("s").get).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "one"), (2L, "a where b"), (3L, "three")))
    // WHERE literal containing " and " must not be split as a conjunct
    GraftSql.execute(spark, ops, cat,
      "DELETE FROM s WHERE name = 'a where b' AND k = 2")
    assert(ops.scanOrdered(cat.get("s").get).count() == 2)
    // and a SET literal containing a comma survives the SET-list split
    GraftSql.execute(spark, ops, cat,
      "UPDATE s SET name = 'x, y' WHERE k = 1")
    assert(ops.scanOrdered(cat.get("s").get).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x, y"), (3L, "three")))
  }

  test("SQL materialized views: CREATE / REFRESH ALL / DROP, O(delta) refresh, persistence") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE fact (k bigint PRIMARY KEY, grp bigint NOT NULL, v bigint NOT NULL)")
    run("INSERT INTO fact SELECT id AS k, id % 10 AS grp, id AS v FROM range(0, 2000)")

    // transform view (key-preserving) and a chained aggregate OVER it
    run("CREATE MATERIALIZED VIEW doubled AS SELECT k, grp, v * 2 AS v2 FROM fact")
    run("CREATE MATERIALIZED VIEW bygrp AS " +
      "SELECT grp, SUM(v2) AS total, COUNT(*) AS n FROM doubled GROUP BY grp")
    val Left(df) = run("SELECT * FROM bygrp ORDER BY grp"): @unchecked
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = (0L until 2000L).groupBy(_ % 10).toSeq.sortBy(_._1)
      .map { case (g, ids) => (g, ids.map(_ * 2).sum, ids.size.toLong) }
    assert(got.toSeq == want)

    // REFRESH with unchanged sources: whole-op memo hits, ZERO chunk writes
    ops.store.stats.reset()
    run("REFRESH ALL")
    assert(ops.store.stats.chunkSaves.get == 0,
      "no-change refresh must not write chunks")
    assert(ops.store.stats.memoHits.get > 0, "refresh must ride the memo")

    // a 1-row DML delta refreshes O(delta): only the touched chunk
    // region of the transform view rewrites, not the table
    run("INSERT INTO fact VALUES (2000, 0, 2000)")
    val viewChunks = ops.meta(cat.get("doubled").get).chunks.length
    assert(viewChunks >= 20, s"fixture should span many chunks: $viewChunks")
    ops.store.stats.reset()
    run("REFRESH MATERIALIZED VIEW doubled")
    val saves = ops.store.stats.chunkSaves.get
    assert(saves > 0 && saves <= 4,
      s"1-row delta refresh wrote $saves chunks of $viewChunks (not O(delta))")

    // refreshed view content hash-equals an independent from-scratch build
    run("REFRESH ALL")
    val refreshed = cat.root("doubled").tableHash
    val expect = {
      import spark.implicits._
      val rows = (0L until 2001L).map(i => (i, i % 10, i * 2))
      ops.fromDataFrame(rows.toDF("k", "grp", "v2"), Seq("k"))
    }
    assert(refreshed == expect.hash,
      "incremental view refresh must hash-equal the from-scratch table")

    // definitions persist in the ROOT: a brand-new catalog over the same
    // store sees them, and REFRESH works from the persisted SQL alone
    val cat2 = new Catalog(ops.store)
    assert(cat2.viewDefs.keySet == Set("doubled", "bygrp"))
    GraftSql.execute(spark, ops, cat2, "REFRESH ALL")

    // join view via SQL over identically-keyed tables
    run("CREATE TABLE dim (k bigint PRIMARY KEY, label text)")
    run("INSERT INTO dim VALUES (0, 'zero'), (1, 'one')")
    run("CREATE MATERIALIZED VIEW joined AS SELECT * FROM fact FULL OUTER JOIN dim USING (k)")
    val Left(j) = run(
      "SELECT k, label FROM joined WHERE k <= 1 ORDER BY k"): @unchecked
    assert(j.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "zero"), (1L, "one")))
    assert(ops.scan(cat.get("joined").get).count() == 2001)

    // DROP MATERIALIZED VIEW removes the def and the table in one root
    run("DROP MATERIALIZED VIEW joined")
    assert(cat.get("joined").isEmpty && !cat.viewDefs.contains("joined"))

    // rejections: dropped key column; HAVING over aggregate CALLS must
    // name the alias instead (the post-filter speaks the agg view's cols)
    assertThrows[GraftSql.SqlException](run(
      "CREATE MATERIALIZED VIEW nk AS SELECT grp, v FROM fact"))
    val having = intercept[GraftSql.SqlException](run(
      "CREATE MATERIALIZED VIEW h AS " +
        "SELECT grp, SUM(v) AS s FROM fact GROUP BY grp HAVING SUM(v) > 5"))
    assert(having.getMessage.contains("HAVING"))

    // EXPLAIN passes through to Spark SQL over the catalog tables
    val Left(ex) = run("EXPLAIN SELECT * FROM fact WHERE k = 3"): @unchecked
    assert(ex.collect().map(_.getString(0)).mkString.nonEmpty)
  }

  test("mixed-fold aggregate views (SUM+COUNT+MIN+MAX) refresh incrementally via FoldByColumn") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE fact (k bigint PRIMARY KEY, v bigint NOT NULL)")
    run("INSERT INTO fact SELECT id AS k, (id * 37) % 1000 AS v FROM range(0, 2000)")

    run("CREATE MATERIALIZED VIEW spread AS " +
      "SELECT k % 10 AS g, SUM(v) AS total, COUNT(*) AS n, " +
      "MIN(v) AS lo, MAX(v) AS hi FROM fact GROUP BY g")
    def snapshot(): Map[Long, (Long, Long, Long, Long)] =
      ops.scanOrdered(cat.get("spread").get).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
    def model(rows: Seq[(Long, Long)]): Map[Long, (Long, Long, Long, Long)] =
      rows.groupBy(_._1 % 10).map { case (g, rs) =>
        val vs = rs.map(_._2)
        g -> ((vs.sum, vs.size.toLong, vs.min, vs.max))
      }
    val base = (0L until 2000L).map(i => (i, (i * 37) % 1000))
    assert(snapshot() == model(base))

    // a 1-row delta refreshes O(delta) — the mixed fold is combinable
    // member-wise, so it rides the per-chunk-mini + region-merge path
    run("INSERT INTO fact VALUES (2000, 5000)")
    ops.store.stats.reset()
    run("REFRESH ALL")
    val saves = ops.store.stats.chunkSaves.get
    assert(saves > 0 && saves <= 6,
      s"mixed-fold 1-row delta refresh wrote $saves chunks (not O(delta))")
    val afterDelta = base :+ (2000L, 5000L)
    assert(snapshot() == model(afterDelta))

    // incremental result hash-equals an independent from-scratch build
    val expect = {
      import spark.implicits._
      val rows = model(afterDelta).toSeq.sortBy(_._1)
        .map { case (g, (t, n, lo, hi)) => (g, t, n, lo, hi) }
      ops.fromDataFrame(rows.toDF("g", "total", "n", "lo", "hi"), Seq("g"))
    }
    assert(cat.root("spread").tableHash == expect.hash,
      "mixed-fold incremental refresh must hash-equal from-scratch")
  }

  test("KMV_DISTINCT materialized views: mergeable sketch stage, O(delta) refresh, exact estimator") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE ev (k bigint PRIMARY KEY, u bigint NOT NULL)")
    run("INSERT INTO ev SELECT id AS k, (id * 13) % 700 AS u FROM range(0, 3000)")
    run("CREATE MATERIALIZED VIEW seg AS " +
      "SELECT k % 3 AS g, KMV_DISTINCT(u) AS du, COUNT(*) AS n FROM ev GROUP BY g")

    // the estimator replicated driver-side: same md5-derived 52-bit
    // hashes, same integer arithmetic
    def hash52(v: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(v.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(13), 16)
    }
    def est(vals: Iterable[Long]): Long = {
      val hs = vals.toSet[Long].map(hash52).toSeq.sorted
      if (hs.size < 256) hs.size.toLong else (255L * (1L << 52)) / hs(255)
    }
    def model(rows: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
      rows.groupBy(_._1 % 3).map { case (g, rs) =>
        g -> ((est(rs.map(_._2)), rs.size.toLong)) }
    def snapshot(): Map[Long, (Long, Long)] =
      ops.scanOrdered(cat.get("seg").get).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val base = (0L until 3000L).map(i => (i, (i * 13) % 700))
    // ~700 distinct per group >> k=256: the ESTIMATE branch is live
    assert(snapshot() == model(base))

    // 1-row delta with a NOVEL value: the sketch itself must move, and
    // the refresh stays O(delta) (the sketch fold is combinable)
    run("INSERT INTO ev VALUES (3000, 999983)")
    ops.store.stats.reset()
    run("REFRESH ALL")
    val saves = ops.store.stats.chunkSaves.get
    assert(saves > 0 && saves <= 8,
      s"sketch-view 1-row delta refresh wrote $saves chunks (not O(delta))")
    val afterDelta = base :+ (3000L, 999983L)
    assert(snapshot() == model(afterDelta))

    // incremental result hash-equals an independent from-scratch build
    val expect = {
      import spark.implicits._
      val rows = model(afterDelta).toSeq.sortBy(_._1)
        .map { case (g, (du, n)) => (g, du, n) }
      ops.fromDataFrame(rows.toDF("g", "du", "n"), Seq("g"))
    }
    assert(cat.root("seg").tableHash == expect.hash,
      "sketch-view incremental refresh must hash-equal from-scratch")

    // exact branch: a small-cardinality view reports exact counts
    run("CREATE TABLE ev2 (k bigint PRIMARY KEY, u bigint NOT NULL)")
    run("INSERT INTO ev2 SELECT id AS k, id % 40 AS u FROM range(0, 500)")
    run("CREATE MATERIALIZED VIEW seg2 AS " +
      "SELECT k % 2 AS g, KMV_DISTINCT(u) AS du FROM ev2 GROUP BY g")
    // even k => even residues mod 40 (20 of them); odd k => the 20 odd
    val exact = ops.scanOrdered(cat.get("seg2").get).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == Map(0L -> 20L, 1L -> 20L),
      s"below-k sketch must be exact: $exact")

    // DROP must clean the internal sketch-array stage with the view
    val stage = SqlViews.innerAggName("seg2")
    assert(cat.root.contains(stage), s"missing inner stage $stage")
    run("DROP MATERIALIZED VIEW seg2")
    assert(!cat.root.contains("seg2") && !cat.root.contains(stage),
      "DROP leaked the sketch view's aggregate stage")

    // KMV over a JOIN view (the join-agg lowering shares the chain)
    run("CREATE TABLE dim (k bigint PRIMARY KEY, grp bigint NOT NULL)")
    run("INSERT INTO dim SELECT id AS k, id % 4 AS grp FROM range(0, 3000)")
    run("CREATE MATERIALIZED VIEW jseg AS " +
      "SELECT grp AS g, KMV_DISTINCT(u) AS du FROM ev INNER JOIN dim " +
      "USING (k) GROUP BY g")
    val jm = (0L until 3000L).map(i => (i % 4, (i * 13) % 700))
      .groupBy(_._1).map { case (g, rs) => g -> est(rs.map(_._2)) }
    val js = ops.scanOrdered(cat.get("jseg").get).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(js == jm, s"join-sketch estimates: $js vs $jm")
  }

  test("HIST_QUANTILE materialized views: mergeable bin sketch, O(delta) refresh, NULL semantics") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE hv (k bigint PRIMARY KEY, v bigint NOT NULL)")
    // skewed values: quantiles must not fall on symmetric bins
    run("INSERT INTO hv SELECT id AS k, (id * id) % 97 AS v FROM range(0, 3000)")
    run("CREATE MATERIALIZED VIEW hq AS " +
      "SELECT k % 3 AS g, HIST_QUANTILE(v, 0.5) AS med, " +
      "HIST_QUANTILE(v, 0.9) AS p90, COUNT(*) AS n FROM hv GROUP BY g")

    // the estimator replicated driver-side: smallest bin whose
    // cumulative count crosses rank ceil(n*num/den) — over sorted
    // values (bins ARE values here) that is element ceil(n*num/den)-1
    def q(vals: Seq[Long], num: Long, den: Long): Long = {
      val sorted = vals.sorted
      val rank = (vals.size.toLong * num + den - 1) / den // ceil
      sorted((rank - 1).toInt)
    }
    def model(rows: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
      rows.groupBy(_._1 % 3).map { case (g, rs) =>
        val vs = rs.map(_._2)
        g -> ((q(vs, 5, 10), q(vs, 9, 10), rs.size.toLong)) }
    def snapshot(): Map[Long, (Long, Long, Long)] =
      ops.scanOrdered(cat.get("hq").get).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    val base = (0L until 3000L).map(i => (i, (i * i) % 97))
    assert(snapshot() == model(base))

    // 1-row delta in a NEW bin: the histograms must move and the
    // refresh stays O(delta) (the bin-sketch fold is combinable)
    run("INSERT INTO hv VALUES (3000, 996)")
    ops.store.stats.reset()
    run("REFRESH ALL")
    val saves = ops.store.stats.chunkSaves.get
    assert(saves > 0 && saves <= 8,
      s"hist-view 1-row delta refresh wrote $saves chunks (not O(delta))")
    val afterDelta = base :+ (3000L, 996L)
    assert(snapshot() == model(afterDelta))

    // incremental result hash-equals an independent from-scratch build
    val expect = {
      import spark.implicits._
      val rows = model(afterDelta).toSeq.sortBy(_._1)
        .map { case (g, (med, p90, n)) => (g, med, p90, n) }
      ops.fromDataFrame(rows.toDF("g", "med", "p90", "n"), Seq("g"))
    }
    assert(cat.root("hq").tableHash == expect.hash,
      "hist-view incremental refresh must hash-equal from-scratch")

    // NULL semantics: NULL bins are excluded (like COUNT(col)); an
    // all-NULL group's quantile is NULL
    run("CREATE TABLE hn (k bigint PRIMARY KEY, v bigint)")
    run("INSERT INTO hn VALUES (0, 10), (1, NULL), (2, 30), (3, NULL)")
    run("CREATE MATERIALIZED VIEW hnq AS " +
      "SELECT k % 2 AS g, HIST_QUANTILE(v, 0.5) AS med FROM hn GROUP BY g")
    val nulls = ops.scanOrdered(cat.get("hnq").get).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(nulls == Map(0L -> Some(10L), 1L -> None),
      s"NULL semantics broken: $nulls")

    // DROP must clean the internal sketch stage with the view
    val stage = SqlViews.innerAggName("hnq")
    assert(cat.root.contains(stage), s"missing inner stage $stage")
    run("DROP MATERIALIZED VIEW hnq")
    assert(!cat.root.contains("hnq") && !cat.root.contains(stage),
      "DROP leaked the hist view's sketch stage")

    // p must be a literal in (0, 1]
    intercept[GraftSql.SqlException] {
      run("CREATE MATERIALIZED VIEW bad AS " +
        "SELECT k % 2 AS g, HIST_QUANTILE(v, 0) AS x FROM hv GROUP BY g")
    }

    // HIST_QUANTILE over a JOIN view (the join-agg lowering shares the
    // derived-call chain)
    run("CREATE TABLE hd (k bigint PRIMARY KEY, grp bigint NOT NULL)")
    run("INSERT INTO hd SELECT id AS k, id % 4 AS grp FROM range(0, 3000)")
    run("CREATE MATERIALIZED VIEW jhq AS " +
      "SELECT grp AS g, HIST_QUANTILE(v, 0.5) AS med FROM hv INNER JOIN hd " +
      "USING (k) GROUP BY g")
    val jm = (0L until 3000L).map(i => (i % 4, (i * i) % 97))
      .groupBy(_._1).map { case (g, rs) => g -> q(rs.map(_._2), 5, 10) }
    val jq = ops.scanOrdered(cat.get("jhq").get).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jq == jm, s"join-hist medians: $jq vs $jm")
  }

  test("filtered and computed-key materialized views (WHERE + GROUP BY alias)") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE fact (k bigint PRIMARY KEY, v bigint NOT NULL)")
    run("INSERT INTO fact SELECT id AS k, id AS v FROM range(0, 2000)")

    // filtered projection view: WHERE drives the transform's rowFilter
    run("CREATE MATERIALIZED VIEW evens AS SELECT k, v * 2 AS v2 FROM fact WHERE v % 2 = 0")
    assert(ops.scanOrdered(cat.get("evens").get).count() == 1000)

    // computed group key + WHERE on an aggregate view
    run("CREATE MATERIALIZED VIEW bybucket AS " +
      "SELECT k % 7 AS bucket, SUM(v) AS total, COUNT(*) AS n " +
      "FROM fact WHERE v >= 1000 GROUP BY bucket")
    val got = ops.scanOrdered(cat.get("bybucket").get).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (1000L until 2000L).groupBy(_ % 7)
      .map { case (b, vs) => (b, vs.sum, vs.size.toLong) }.toSet
    assert(got == want)

    // a delta entirely OUTSIDE the filter refreshes to the same content
    // via the memoized empty sub-results (no content change, no new root)
    run("INSERT INTO fact VALUES (2000, 1)") // odd value, < 1000 bucket n/a
    val evensBefore = cat.root("evens").tableHash
    run("REFRESH ALL")
    assert(ops.scanOrdered(cat.get("evens").get).count() == 1000,
      "filtered-out delta must not change the view")
    // a delta INSIDE the filter lands after refresh
    run("INSERT INTO fact VALUES (2002, 2002)")
    run("REFRESH ALL")
    assert(ops.scanOrdered(cat.get("evens").get).count() == 1001)
    assert(ops.scanOrdered(cat.get("bybucket").get).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
      .apply(2002L % 7) == want.find(_._1 == 2002L % 7).get._2 + 2002L)
    assert(evensBefore != cat.root("evens").tableHash)
  }

  test("HAVING materialized views: two-stage chain, single refresh, drop cleans both") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE fact (k bigint PRIMARY KEY, v bigint NOT NULL)")
    run("INSERT INTO fact SELECT id AS k, id % 100 AS v FROM range(0, 2000)")

    // bucket b: total = 200*b + 9000, n = 200 ⇒ HAVING total >= 9600
    // keeps buckets 3..9
    run("CREATE MATERIALIZED VIEW big AS " +
      "SELECT v % 10 AS bucket, SUM(v) AS total, COUNT(*) AS n " +
      "FROM fact GROUP BY bucket HAVING total >= 9600")
    def snap(): Seq[(Long, Long, Long)] = {
      val Left(d) = run(
        "SELECT bucket, total, n FROM big ORDER BY bucket"): @unchecked
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    assert(snap() == (3L to 9L).map(b => (b, 200 * b + 9000, 200L)))
    // the internal aggregate stage is a real catalog table holding ALL
    // buckets; only the visible view has a persisted definition
    assert(cat.get("big__agg").isDefined)
    assert(ops.scanOrdered(cat.get("big__agg").get).count() == 10)
    assert(cat.viewDefs.keySet == Set("big"))

    // a delta pushing bucket 2 over the threshold lands through a
    // SINGLE-view refresh (the chain refreshes its source first)
    run("INSERT INTO fact SELECT 10000 + id AS k, 22 AS v FROM range(0, 300)")
    run("REFRESH MATERIALIZED VIEW big")
    assert(snap() == ((2L, 9400L + 22L * 300, 500L) +:
      (3L to 9L).map(b => (b, 200 * b + 9000, 200L))))

    // definitions persist: a fresh catalog rebuilds the chain from the
    // ONE persisted SQL and refreshes to the same content
    val cat2 = new Catalog(ops.store)
    assert(cat2.viewDefs.keySet == Set("big"))
    GraftSql.execute(spark, ops, cat2, "REFRESH ALL")
    assert(cat2.root("big").tableHash == cat.root("big").tableHash)

    // aggregate calls in HAVING are rejected toward the alias form
    val bad = intercept[GraftSql.SqlException](run(
      "CREATE MATERIALIZED VIEW b2 AS SELECT v % 10 AS g, SUM(v) AS s " +
        "FROM fact GROUP BY g HAVING COUNT(*) > 3"))
    assert(bad.getMessage.contains("alias"))

    // DROP removes the view, its internal stage, and the def in ONE root
    run("DROP MATERIALIZED VIEW big")
    assert(cat.get("big").isEmpty && cat.get("big__agg").isEmpty &&
      !cat.viewDefs.contains("big"))
  }

  test("AVG materialized views: exact sum/cnt stage + derived division, HAVING on avg") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE fact (k bigint PRIMARY KEY, v bigint NOT NULL)")
    run("INSERT INTO fact SELECT id AS k, id % 7 AS v FROM range(0, 700)")

    // avg(v) per bucket b over v = k % 7, bucket = k % 4: exact ints in
    // the inner stage, ONE double division in the post stage
    run("CREATE MATERIALIZED VIEW avgs AS " +
      "SELECT k % 4 AS bucket, AVG(v) AS mean_v, COUNT(*) AS n " +
      "FROM fact GROUP BY bucket")
    def snap(view: String): Map[Long, (Double, Long)] = {
      val Left(d) = run(
        s"SELECT bucket, mean_v, n FROM $view ORDER BY bucket"): @unchecked
      d.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    }
    // oracle: per-bucket mean over 0..699 of (k % 7) grouped by k % 4
    def oracle(n: Int): Map[Long, (Double, Long)] =
      (0L until n).groupBy(_ % 4).map { case (b, ks) =>
        b -> (ks.map(_ % 7).sum.toDouble / ks.length, ks.length.toLong) }
    assert(snap("avgs") == oracle(700))
    // the inner stage is a real table holding the exact pair columns
    assert(cat.get("avgs__agg").isDefined)
    val innerCols = ops.scanOrdered(cat.get("avgs__agg").get).columns.toSeq
    assert(innerCols == Seq("bucket", "mean_v__sum", "mean_v__cnt", "n"))

    // incremental refresh after a delta: still exact
    run("INSERT INTO fact SELECT 1000 + id AS k, 6 AS v FROM range(0, 100)")
    run("REFRESH MATERIALIZED VIEW avgs")
    val after = snap("avgs")
    val base = (0L until 700L).groupBy(_ % 4)
    val delta = (1000L until 1100L).groupBy(_ % 4)
    val want = base.map { case (b, ks) =>
      val dn = delta.getOrElse(b, Seq.empty).length
      b -> ((ks.map(_ % 7).sum + 6L * dn).toDouble / (ks.length + dn),
        (ks.length + dn).toLong)
    }
    assert(after == want)

    // HAVING may reference the avg alias (rewritten onto the pair)
    run("CREATE MATERIALIZED VIEW hi_avg AS " +
      "SELECT k % 4 AS bucket, AVG(v) AS mean_v, COUNT(*) AS n " +
      "FROM fact GROUP BY bucket HAVING mean_v > " + want(0)._1)
    assert(snap("hi_avg").keySet == want.filter(_._2._1 > want(0)._1).keySet)

    // persisted definition rebuilds the chain; DROP cleans both stages
    val cat2 = new Catalog(ops.store)
    GraftSql.execute(spark, ops, cat2, "REFRESH MATERIALIZED VIEW avgs")
    assert(cat2.root("avgs").tableHash == cat.root("avgs").tableHash)
    run("DROP MATERIALIZED VIEW avgs")
    assert(cat.get("avgs").isEmpty && cat.get("avgs__agg").isEmpty)
  }

  test("ALTER TABLE ADD/DROP/RENAME COLUMN: per-chunk rewrite, memoized replay") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE t (k bigint PRIMARY KEY, v bigint NOT NULL)")
    run("INSERT INTO t SELECT id AS k, id * 3 AS v FROM range(0, 2000)")

    // ADD: nullable column appended; existing rows read back NULL
    run("ALTER TABLE t ADD COLUMN note text")
    val Left(d1) = run("SELECT k, v, note FROM t WHERE k = 7"): @unchecked
    assert(d1.collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSeq ==
      Seq((7L, 21L, true)))
    // the new column is writable (INSERT aligns by name)
    run("INSERT INTO t SELECT 9999 AS k, 1 AS v, 'hello' AS note")
    val Left(d2) = run("SELECT note FROM t WHERE k = 9999"): @unchecked
    assert(d2.collect().head.getString(0) == "hello")

    // RENAME: value and KEY columns both rename; content + order survive
    run("ALTER TABLE t RENAME COLUMN v TO val")
    run("ALTER TABLE t RENAME COLUMN k TO id")
    val Left(d3) = run("SELECT id, val FROM t WHERE id = 7"): @unchecked
    assert(d3.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 21L)))
    assert(cat.root("t").keyCols == Seq("id"))

    // DROP: value column removed; key columns are protected
    run("ALTER TABLE t DROP COLUMN note")
    assert(cat.schemaOf("t").get.fieldNames.toSeq == Seq("id", "val"))
    assertThrows[GraftSql.SqlException](run("ALTER TABLE t DROP COLUMN id"))
    assertThrows[GraftSql.SqlException](run("ALTER TABLE t ADD COLUMN x bigint NOT NULL"))
    assertThrows[GraftSql.SqlException](run("ALTER TABLE t ADD COLUMN val text"))

    // a REPLAYED alter over unchanged content is a whole-op memo hit:
    // drop the column again after restoring the pre-drop version
    val Left(vs) = run("SHOW VERSIONS"): @unchecked
    val preDrop = vs.collect().map(_.getString(0)).apply(1) // version before DROP
    run(s"RESTORE TABLE t VERSION AS OF '$preDrop'")
    ops.store.stats.reset()
    run("ALTER TABLE t DROP COLUMN note")
    assert(ops.store.stats.chunkSaves.get == 0,
      "replayed ALTER must be a memo hit, not a rewrite")
    assert(ops.store.stats.memoHits.get > 0)
    // count preserved through the whole evolution
    val Left(n) = run("SELECT COUNT(*) AS n FROM t"): @unchecked
    assert(n.collect().head.getLong(0) == 2001L)

    // rename is METADATA-ONLY: the renamed version shares chunk OBJECTS
    // with pre-rename versions, and positional field ids keep BOTH
    // namings readable — an old version still answers under k/v while
    // the current one answers under id/val
    val Left(vsAll) = run("SHOW VERSIONS"): @unchecked
    val hashes = vsAll.collect().map(_.getString(0))
    val head = hashes.head
    val preRename = hashes.find(h => cat.rootAt(h).get("t").exists { e =>
      e.keyCols == Seq("k") &&
        org.apache.spark.sql.types.DataType.fromJson(e.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.contains("v")
    }).get
    run(s"CHECKOUT '$preRename'")
    val Left(old) = run("SELECT k, v FROM t WHERE k = 7"): @unchecked
    assert(old.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((7L, 21L)), "pre-rename version must read under its own names")
    run(s"CHECKOUT '$head'")
    val Left(cur) = run("SELECT id, val FROM t WHERE id = 7"): @unchecked
    assert(cur.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((7L, 21L)))
  }

  test("DML after RENAME: one merge region reads mixed-name chunk files by field id") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE t (k bigint PRIMARY KEY, a bigint NOT NULL, s text)")
    run("INSERT INTO t SELECT id AS k, id * 2 AS a, concat('x', id) AS s FROM range(0, 3000)")
    run("ALTER TABLE t RENAME COLUMN a TO amount")

    // the delta's chunks are written under the NEW names; the base's
    // under the OLD — the merge's region job reads BOTH file eras with
    // one requested schema and must match columns by field id
    run("INSERT INTO t SELECT id AS k, id AS amount, concat('y', id) AS s " +
      "FROM range(1500, 1600)")
    val Left(df) = run(
      "SELECT k, amount, s FROM t WHERE k IN (10, 1550) ORDER BY k"): @unchecked
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((10L, 20L, "x10"), (1550L, 1550L, "y1550")))

    // UPDATE through a key range after rename: reads old-named chunks,
    // writes new-named ones, upserts back — values must survive intact
    run("UPDATE t SET amount = amount + 1 WHERE k >= 100 AND k < 110")
    val Left(u) = run(
      "SELECT sum(amount) AS sa, count(*) AS n FROM t WHERE k >= 100 AND k < 110"): @unchecked
    assert(u.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq(((100L until 110L).map(_ * 2 + 1).sum, 10L)))

    // whole-table scan still exact: no column silently nulled anywhere
    val Left(all) = run(
      "SELECT count(*) AS n, sum(amount) AS sa, count(s) AS ns FROM t"): @unchecked
    val expSum = (0L until 3000L).map(_ * 2).sum + (1500L until 1600L).map(i => i - i * 2).sum + 10
    assert(all.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((3000L, expSum, 3000L)))
  }

  test("SQL time travel: SHOW VERSIONS, RESTORE TABLE ... VERSION AS OF, CHECKOUT") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    def right(sql: String): String =
      (run(sql): @unchecked) match { case Right(h) => h }

    run("CREATE TABLE t (k bigint PRIMARY KEY, v bigint NOT NULL)")
    val v1 = right("INSERT INTO t VALUES (1, 10), (2, 20)")
    val v2 = right("UPDATE t SET v = 99 WHERE k = 2")
    assert(v1 != v2)

    // SHOW VERSIONS lists the chain newest-first with table names
    val Left(versions) = run("SHOW VERSIONS"): @unchecked
    val vs = versions.collect().map(r => (r.getString(0), r.getString(2)))
    assert(vs.take(2).map(_._1).toSeq == Seq(v2, v1))
    assert(vs.forall(_._2.contains("t")))

    // RESTORE brings the old content back as a NEW version (history kept)
    def content(): Set[(Long, Long)] = {
      val Left(df) = run("SELECT k, v FROM t"): @unchecked
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(content() == Set((1L, 10L), (2L, 99L)))
    val v3 = right(s"RESTORE TABLE t VERSION AS OF '$v1'")
    assert(content() == Set((1L, 10L), (2L, 20L)))
    assert(v3 != v1 && v3 != v2, "restore must mint a new root")
    val Left(afterRestore) = run("SHOW VERSIONS"): @unchecked
    assert(afterRestore.collect().map(_.getString(0)).take(3).toSeq ==
      Seq(v3, v2, v1), "restore must preserve the history chain")

    // CHECKOUT moves the whole pointer; the abandoned chain stays valid
    right(s"CHECKOUT '$v2'")
    assert(content() == Set((1L, 10L), (2L, 99L)))
    right(s"CHECKOUT '$v3'")
    assert(content() == Set((1L, 10L), (2L, 20L)))

    // loud failures: unknown version / table missing at that version
    assertThrows[GraftSql.SqlException](run("RESTORE TABLE t VERSION AS OF 'deadbeef'"))
    assertThrows[GraftSql.SqlException](run(s"RESTORE TABLE nope VERSION AS OF '$v1'"))
    assertThrows[GraftSql.SqlException](run("CHECKOUT 'deadbeef'"))
  }

  test("positional INSERT binds to the DECLARED column order, not canonical keys-first") {
    val (ops, cat) = newOps()
    // declared order (v, k): canonical keys-first order is (k, v) — both
    // text, so a canonical positional bind would silently swap them
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE sw (v text NOT NULL, k text PRIMARY KEY)")
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO sw SELECT * FROM VALUES ('value1', 'key1') AS t(c1, c2)")
    val got = ops.scanOrdered(cat.get("sw").get).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("key1", "value1")),
      s"positional bind must follow CREATE TABLE declaration order; got $got")
  }

  test("INSERT with explicit column list aligns, NULL-fills, and rejects bad lists") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE cl (k text PRIMARY KEY, a bigint NOT NULL, b text)")
    // reversed list binds by position within the list
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO cl (b, a, k) VALUES ('bee', 7, 'x')")
    // partial list: nullable b omitted → NULL
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO cl (k, a) VALUES ('y', 8)")
    val got = ops.scanOrdered(cat.get("cl").get).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(got == Seq(("x", 7L, Some("bee")), ("y", 8L, None)))
    // omitting a key column is an error (value columns are nullable in
    // the canonical schema — Canonical.normalizeSchema — so only keys
    // are mandatory)
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "INSERT INTO cl (a, b) VALUES (9, 'oops')"))
    // unknown column in the list is an error
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "INSERT INTO cl (k, a, nope) VALUES ('z', 1, 2)"))
    // duplicate column in the list is an error
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "INSERT INTO cl (k, a, a) VALUES ('z', 1, 2)"))
  }

  test("decimal primary key: CREATE TABLE round-trips, inserts, sorts numerically") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE px (price decimal(12,2) PRIMARY KEY, name text)")
    assert(cat.schemaOf("px").get.apply("price").dataType == DecimalType(12, 2))
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO px VALUES (10.50, 'c'), (-3.25, 'a'), (2.00, 'b'), (100, 'd')")
    val got = ops.scanOrdered(cat.get("px").get).collect()
      .map(r => (r.getDecimal(0).toPlainString, r.getString(1))).toSeq
    assert(got == Seq(("-3.25", "a"), ("2.00", "b"), ("10.50", "c"), ("100.00", "d")),
      s"decimal PK must sort numerically: $got")
    // upsert on the decimal key
    GraftSql.execute(spark, ops, cat, "INSERT INTO px VALUES (2.00, 'B2')")
    val after = ops.scanOrdered(cat.get("px").get).collect()
      .map(r => (r.getDecimal(0).toPlainString, r.getString(1))).toSeq
    assert(after.contains(("2.00", "B2")) && after.length == 4)
    // bare numeric + rejection of silly precision
    GraftSql.execute(spark, ops, cat, "CREATE TABLE n0 (id numeric PRIMARY KEY)")
    assert(cat.schemaOf("n0").get.apply("id").dataType == DecimalType(10, 0))
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "CREATE TABLE bad (id decimal(99,2) PRIMARY KEY)"))
  }

  test("CREATE TABLE ... PRIMARY KEY (...) AS SELECT and DROP TABLE") {
    val (ops, cat) = newOps()
    GraftSql.execute(spark, ops, cat,
      "CREATE TABLE src (k text PRIMARY KEY, v bigint NOT NULL)")
    GraftSql.execute(spark, ops, cat,
      "INSERT INTO src VALUES ('a', 1), ('b', 2), ('c', 3)")
    val Right(_) = GraftSql.execute(spark, ops, cat,
      "CREATE TABLE big PRIMARY KEY (k) AS SELECT k, v * 10 AS v FROM src WHERE v >= 2"): @unchecked
    val got = ops.scanOrdered(cat.get("big").get).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("b", 20L), ("c", 30L)))
    // PK column must exist in the query output
    assertThrows[GraftSql.SqlException](GraftSql.execute(spark, ops, cat,
      "CREATE TABLE bad PRIMARY KEY (nope) AS SELECT k, v FROM src"))
    GraftSql.execute(spark, ops, cat, "DROP TABLE big")
    assert(cat.get("big").isEmpty)
    assert(cat.get("src").isDefined)
  }

  test("statement splitting respects quoted semicolons; scripts run in order") {
    assert(GraftSql.splitStatements(
      "CREATE TABLE a (k text PRIMARY KEY); INSERT INTO a VALUES ('x;y', 1);") ==
      Seq("CREATE TABLE a (k text PRIMARY KEY)",
        "INSERT INTO a VALUES ('x;y', 1)"))
    // backslash-escaped quote inside a literal must not end the literal
    assert(GraftSql.splitStatements("""SELECT 'don\'t; stop'; SELECT 2""") ==
      Seq("""SELECT 'don\'t; stop'""", "SELECT 2"))
    // -- comments are stripped to end of line, including any ';' in them
    assert(GraftSql.splitStatements("SELECT 1 -- note; not a split\n; SELECT 2") ==
      Seq("SELECT 1", "SELECT 2"))
    // backtick identifiers may contain ';' and '--' (no backslash escapes)
    assert(GraftSql.splitStatements("SELECT `a;b` FROM t; SELECT `x--y\\` FROM u") ==
      Seq("SELECT `a;b` FROM t", "SELECT `x--y\\` FROM u"))
    val (ops, cat) = newOps()
    GraftSql.splitStatements(
      """CREATE TABLE s (k text PRIMARY KEY, v bigint NOT NULL);
        |INSERT INTO s VALUES ('a;b', 1), ('c', 2);""".stripMargin)
      .foreach(GraftSql.execute(spark, ops, cat, _))
    val got = ops.scanOrdered(cat.get("s").get).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a;b", 1L), ("c", 2L)))
    // metadata-only COUNT(*)
    assert(new graft.core.Ops(spark, ops.store, 64)
      .rowCount(cat.get("s").get) == 2L)
  }

  test("CLI sql replays -f script files and -c scripts through ONE session") {
    // reference parity (messdb-tool.hs:164-196): a DDL+DML+SELECT
    // script FILE replays end-to-end; -c and -f mix in order; the
    // transaction opened in the file COMMITs in a later -c argument
    // (one SqlSession spans every statement); queries print JSON lines
    val storeDir = graft.core.FsUtil.tempStoreDir("graft-clisql-")
    val script = Files.createTempFile("graft-script-", ".sql")
    Files.writeString(script,
      """-- a replayed DDL+DML script
        |CREATE TABLE t (k bigint PRIMARY KEY, v text NOT NULL);
        |INSERT INTO t VALUES (2, 'b'), (1, 'a');
        |BEGIN;
        |UPDATE t SET v = 'z' WHERE k = 1;
        |""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.Cli.run(TestSpark.spark, List(storeDir, "sql",
        "-f", script.toString,
        "-c", "COMMIT; SELECT k, v FROM t ORDER BY k;"))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    val json = lines.filter(_.startsWith("{"))
    assert(json == Seq("""{"k":1,"v":"z"}""", """{"k":2,"v":"b"}"""))
    // the committed state persisted to the store (a fresh catalog sees it)
    val (ops2, cat2) = (new Ops(TestSpark.spark, new FsStore(storeDir), 64),
      new Catalog(new FsStore(storeDir)))
    assert(ops2.scanOrdered(cat2.get("t").get).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "z"), (2L, "b")))
  }

  test("CSV import matches columns by name under shuffled header (Row.hs:117-124)") {
    val (ops, _) = newOps()
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("c", FloatType)))
    val dir = Files.createTempDirectory("graft-csv-")
    // shuffled header b,d,a,c with extra column d (ignored by name-match)
    Files.writeString(dir.resolve("data.csv"),
      "b,d,a,c\nhello,junk,1,1.5\nworld,junk,2,2.5\n")
    val df = graft.sources.Csv.readNameMatched(spark,
      dir.resolve("data.csv").toString, schema)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    val rows = df.orderBy("a").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getString(1)).toSeq == Seq("hello", "world"))
    assert(rows.map(_.getFloat(2)).toSeq == Seq(1.5f, 2.5f))
    // missing required column fails loudly
    Files.writeString(dir.resolve("bad.csv"), "a,b\n1,x\n")
    assertThrows[IllegalArgumentException] {
      graft.sources.Csv.readNameMatched(spark, dir.resolve("bad.csv").toString, schema)
    }
  }

  test("MERGE INTO: update/delete/insert with conditions, first-match-wins") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE tg (k bigint PRIMARY KEY, v bigint NOT NULL, s text)")
    run("INSERT INTO tg SELECT id, id * 10, 'old' FROM range(0, 10)")
    // matched keys 3..9 (8,9 hit the DELETE condition; 3 hits the
    // targeted UPDATE; 4..7 the general one); novel keys 10..12 (12
    // filtered out by the NOT MATCHED condition)
    run("""MERGE INTO tg AS t USING (
        SELECT id AS sk, id * 100 AS sv FROM range(3, 13)
      ) AS s ON t.k = s.sk
      WHEN MATCHED AND s.sv >= 800 THEN DELETE
      WHEN MATCHED AND t.v = 30 THEN UPDATE SET v = t.v + s.sv, s = 'thirty'
      WHEN MATCHED THEN UPDATE SET v = s.sv
      WHEN NOT MATCHED AND s.sv <= 1100 THEN INSERT (k, v, s) VALUES (s.sk, s.sv, 'new')""")
    val rows = ops.scanOrdered(cat.get("tg").get).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq(
      (0L, 0L, "old"), (1L, 10L, "old"), (2L, 20L, "old"),
      (3L, 330L, "thirty"),
      (4L, 400L, "old"), (5L, 500L, "old"), (6L, 600L, "old"), (7L, 700L, "old"),
      (10L, 1000L, "new"), (11L, 1100L, "new")))
  }

  test("MERGE INTO: envelope splice shares every chunk outside the source key range") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE big (k bigint PRIMARY KEY, v bigint NOT NULL)")
    run("INSERT INTO big SELECT id, id FROM range(0, 2000)")
    def chunksOf() = ops.meta(graft.core.TableRef(cat.root("big").tableHash)).chunks
    val before = chunksOf()
    assert(before.length > 20, s"fixture spans ${before.length} chunks")
    ops.store.stats.reset()
    run("""MERGE INTO big AS t USING (
        SELECT id AS k2, id * 2 AS v2 FROM range(500, 540)
      ) AS s ON t.k = s.k2
      WHEN MATCHED THEN UPDATE SET v = s.v2
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k2, s.v2)""")
    val after = chunksOf()
    val beforeSet = before.map(_.hash).toSet
    val shared = after.count(c => beforeSet(c.hash))
    assert(shared >= after.length - 6,
      s"merge must share chunks outside the envelope ($shared of ${after.length})")
    val saves = ops.store.stats.snapshot("chunkSaves")
    assert(saves <= 12, s"envelope merge wrote $saves chunks")
    val m = ops.scanOrdered(cat.get("big").get).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 2000 && m(510L) == 1020L && m(499L) == 499L && m(540L) == 540L)
  }

  test("MERGE INTO: driver-route splice hash-equals the forced job path") {
    // the splice region now carries its metadata-derived bounds
    // (envelope rows + source rows), so a metadata-sized MERGE rides
    // the one-collect driver materialization — this pins that route's
    // result table hash against the full Spark job path
    def mergedHash(driverMat: Boolean): String = {
      val (ops, cat) = newOps(Routes(driverMaterialize = driverMat))
      def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
      run("CREATE TABLE mr (k bigint PRIMARY KEY, v bigint NOT NULL, s text)")
      run("INSERT INTO mr SELECT id, id * 3, 'base' FROM range(0, 600)")
      run("""MERGE INTO mr AS t USING (
          SELECT id * 2 AS sk, id AS sv FROM range(100, 400)
        ) AS s ON t.k = s.sk
        WHEN MATCHED AND s.sv % 5 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = t.v + s.sv
        WHEN NOT MATCHED AND s.sv % 3 != 1 THEN INSERT (k, v, s) VALUES (s.sk, s.sv, 'new')""")
      cat.root("mr").tableHash
    }
    assert(mergedHash(driverMat = true) == mergedHash(driverMat = false),
      "MERGE driver-route splice diverged from the job path")
  }

  test("MERGE INTO: a byte-gated splice falls back to the job path, hashes unchanged") {
    // the splice's byte bound is MEASURED (envelope chunk bytes +
    // source octet_length sum); shrinking the driver byte budget must
    // push the same MERGE onto the distributed path with an identical
    // result table — the wide-string-source safety the measured bound
    // exists for
    def mergedHash(maxBytes: Long): String = {
      val (ops, cat) = newOps(Routes(driverMaxBytes = maxBytes))
      def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
      run("CREATE TABLE mb (k bigint PRIMARY KEY, v bigint NOT NULL, s text)")
      run("INSERT INTO mb SELECT id, id * 2, repeat('x', 64) FROM range(0, 400)")
      run("""MERGE INTO mb AS t USING (
          SELECT id * 3 AS sk, repeat('y', 64) AS sv FROM range(50, 250)
        ) AS s ON t.k = s.sk
        WHEN MATCHED THEN UPDATE SET s = s.sv
        WHEN NOT MATCHED THEN INSERT (k, v, s) VALUES (s.sk, 0, s.sv)""")
      cat.root("mb").tableHash
    }
    assert(mergedHash(64L << 20) == mergedHash(1L),
      "byte-gated MERGE splice diverged from the driver route")
  }

  test("MERGE INTO: a row-growing expression declines the bounded driver route") {
    // byteBound measures INPUT bytes (envelope + source); an UPDATE SET
    // expression like repeat(t.s, 512) grows output rows far past that
    // measurement, so the splice must NOT trust the bound (a byte-admitted
    // collect could OOM the driver at scale) — the job path runs instead.
    // Observable: no "graft:collect" driver-materialization job fires.
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE mg (k bigint PRIMARY KEY, v bigint NOT NULL, s text)")
    run("INSERT INTO mg SELECT id, id, 'ab' FROM range(0, 300)")
    val collects = new java.util.concurrent.atomic.AtomicInteger
    val group = "merge-grow-" + System.nanoTime()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val g = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        val d = p.flatMap(x => Option(x.getProperty("spark.job.description")))
        if (g.contains(group) && d.contains("graft:collect"))
          collects.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "row-growing merge")
    try run("""MERGE INTO mg AS t USING (
        SELECT id AS sk FROM range(100, 120)
      ) AS s ON t.k = s.sk
      WHEN MATCHED THEN UPDATE SET s = repeat(t.s, 512)""")
    finally spark.sparkContext.clearJobGroup()
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    assert(collects.get == 0,
      "row-growing MERGE must not take the bounded driver collect route")
    val got = ops.scan(TableRef(cat.root("mg").tableHash))
      .where("k = 105").collect()
    assert(got.length == 1 && got(0).getString(2).length == 1024,
      "row-growing MERGE produced wrong rows on the job path")
    // and a bounded sibling (bare column refs) still rides the route:
    // sizeBounded must not over-decline the common shape
    assert(Merge.matches("MERGE INTO x USING y ON 1=1"))
  }

  test("MERGE INTO: INSERT * maps keys through ON; no-op merges mint no root") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE t3 (k bigint PRIMARY KEY, v bigint NOT NULL, s text)")
    run("INSERT INTO t3 SELECT id, id, 'x' FROM range(0, 50)")
    // INSERT *: key k comes from src.kk via the ON mapping, v/s by name
    run("""MERGE INTO t3 AS t USING (
        SELECT id + 100 AS kk, id AS v, 'ins' AS s FROM range(0, 5)
      ) AS src ON t.k = src.kk
      WHEN NOT MATCHED THEN INSERT *""")
    val got = ops.scanOrdered(cat.get("t3").get).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == 55 && got.takeRight(5).toSeq ==
      (0L until 5L).map(i => (i + 100L, i, "ins")))

    // empty source: no root minted
    val root1 = ops.store.currentRootHash
    run("""MERGE INTO t3 AS t USING (
        SELECT id AS kk, id AS v, 'y' AS s FROM range(0, 0)
      ) AS src ON t.k = src.kk
      WHEN MATCHED THEN UPDATE SET v = src.v""")
    assert(ops.store.currentRootHash == root1, "empty-source MERGE minted a root")
    // identity update: content unchanged ⇒ same table hash ⇒ no root
    run("""MERGE INTO t3 AS t USING (
        SELECT id AS kk FROM range(5, 10)
      ) AS src ON t.k = src.kk
      WHEN MATCHED THEN UPDATE SET v = t.v""")
    assert(ops.store.currentRootHash == root1, "identity MERGE minted a root")
  }

  test("MERGE INTO rejections: dup/null keys, partial ON, key assignment, bad clauses") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE r2 (k1 bigint PRIMARY KEY, k2 bigint PRIMARY KEY, v bigint)")
    run("INSERT INTO r2 SELECT id, id, id FROM range(0, 10)")
    def bad(sql: String): Unit = assertThrows[GraftSql.SqlException](run(sql))
    // duplicate source keys: a target row cannot match twice
    bad("""MERGE INTO r2 AS t USING (
        SELECT 1 AS a, 1 AS b, 9 AS v UNION ALL SELECT 1, 1, 8
      ) AS s ON t.k1 = s.a AND t.k2 = s.b
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    // null source key
    bad("""MERGE INTO r2 AS t USING (
        SELECT CAST(NULL AS BIGINT) AS a, 1 AS b, 9 AS v
      ) AS s ON t.k1 = s.a AND t.k2 = s.b
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    // ON must cover the FULL primary key
    bad("""MERGE INTO r2 AS t USING (SELECT 1 AS a, 2 AS v) AS s ON t.k1 = s.a
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    // UPDATE may not assign a key column
    bad("""MERGE INTO r2 AS t USING (SELECT 1 AS a, 1 AS b) AS s
      ON t.k1 = s.a AND t.k2 = s.b
      WHEN MATCHED THEN UPDATE SET k2 = 5""")
    // INSERT must provide every key column
    bad("""MERGE INTO r2 AS t USING (SELECT 99 AS a, 99 AS b) AS s
      ON t.k1 = s.a AND t.k2 = s.b
      WHEN NOT MATCHED THEN INSERT (k1, v) VALUES (s.a, 1)""")
    // action/clause polarity
    bad("""MERGE INTO r2 AS t USING (SELECT 1 AS a, 1 AS b) AS s
      ON t.k1 = s.a AND t.k2 = s.b
      WHEN NOT MATCHED THEN DELETE""")
    bad("""MERGE INTO r2 AS t USING (SELECT 1 AS a, 1 AS b) AS s
      ON t.k1 = s.a AND t.k2 = s.b
      WHEN MATCHED THEN INSERT (k1, k2, v) VALUES (1, 1, 1)""")
    // a CASE WHEN inside an UPDATE expression must not break clause splits
    run("""MERGE INTO r2 AS t USING (SELECT 2 AS a, 2 AS b, 7 AS sv) AS s
      ON t.k1 = s.a AND t.k2 = s.b
      WHEN MATCHED THEN UPDATE SET v = CASE WHEN s.sv > 5 THEN s.sv ELSE t.v END""")
    val v2 = ops.scanOrdered(cat.get("r2").get).collect()
      .find(_.getLong(0) == 2L).get.getLong(2)
    assert(v2 == 7L)
  }

  test("SELECT ... VERSION AS OF reads old versions without moving any pointer") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE kv2 (k bigint PRIMARY KEY, v bigint NOT NULL)")
    run("INSERT INTO kv2 SELECT id, id FROM range(0, 20)")
    val v1root = ops.store.currentRootHash.get
    run("UPDATE kv2 SET v = v + 1000 WHERE k >= 0 AND k < 10")
    run("INSERT INTO kv2 SELECT id, id FROM range(20, 25)")
    val curRoot = ops.store.currentRootHash.get

    val Left(old) = run(
      s"SELECT k, v FROM kv2 VERSION AS OF '$v1root' ORDER BY k"): @unchecked
    assert(old.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 20L).map(i => (i, i)))
    // join the table to its own past: the rewrite leaves `cur` alone
    val Left(joined) = run(
      s"""SELECT cur.k, cur.v - old.v AS dv
         |FROM kv2 cur JOIN kv2 VERSION AS OF '$v1root' old ON cur.k = old.k
         |WHERE cur.v <> old.v ORDER BY cur.k""".stripMargin): @unchecked
    assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 10L).map(i => (i, 1000L)))
    // reads mint nothing and move nothing
    assert(ops.store.currentRootHash.contains(curRoot))
    assertThrows[GraftSql.SqlException](
      run("SELECT * FROM kv2 VERSION AS OF 'deadbeef'"))
  }

  test("SHOW TABLES / DESCRIBE / VACUUM surface the catalog and GC in SQL") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE a1 (k bigint PRIMARY KEY, v text)")
    run("INSERT INTO a1 SELECT id, 'x' FROM range(0, 10)")
    run("CREATE TABLE b2 (k bigint PRIMARY KEY, w bigint NOT NULL)")
    val Left(st) = run("SHOW TABLES"): @unchecked
    assert(st.collect().map(r => (r.getString(0), r.getLong(2))).toMap ==
      Map("a1" -> 10L, "b2" -> 0L))
    val Left(d) = run("DESCRIBE a1"): @unchecked
    assert(d.collect().map(r =>
      (r.getString(0), r.getBoolean(2), r.getBoolean(3))).toSeq ==
      Seq(("k", false, true), ("v", true, false)))
    assertThrows[GraftSql.SqlException](run("DESCRIBE nope"))

    // VACUUM KEEP 1: earlier versions collected, current data intact
    run("UPDATE a1 SET v = 'y' WHERE k >= 0 AND k < 5")
    val Left(g) = run("VACUUM KEEP 1"): @unchecked
    val gr = g.head()
    assert(gr.getLong(0) == 1L, s"kept_roots = ${gr.getLong(0)}")
    assert(gr.getLong(3) >= 2L, s"deleted_roots = ${gr.getLong(3)}")
    assert(ops.scan(cat.get("a1").get).count() == 10)
    assert(ops.scan(cat.get("a1").get).where(org.apache.spark.sql.functions
      .col("v") === "y").count() == 5)
    val Left(v) = run("SHOW VERSIONS"): @unchecked
    assert(v.count() == 1, "history beyond the kept root must be gone")
  }

  test("COPY TO / COPY FROM round-trips a table in all four formats") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE src (id bigint PRIMARY KEY, name text NOT NULL, score bigint)")
    run("INSERT INTO src VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    for (fmt <- Seq("csv", "json", "parquet", "orc")) {
      val dir = Files.createTempDirectory(s"graft-copy-$fmt-").toString + "/out"
      run(s"COPY src TO '$dir' (FORMAT $fmt)")
      run(s"CREATE TABLE dst_$fmt (id bigint PRIMARY KEY, name text NOT NULL, score bigint)")
      run(s"COPY dst_$fmt FROM '$dir' (FORMAT $fmt)")
      val got = ops.scanOrdered(cat.get(s"dst_$fmt").get).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)), fmt)
    }
  }

  test("COPY FROM is a merge-in: overlapping keys upsert, repeated COPY converges") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE t (id bigint PRIMARY KEY, v text NOT NULL)")
    run("INSERT INTO t VALUES (1, 'old'), (2, 'keep')")
    val dir = graft.core.FsUtil.tempStoreDir("graft-copyfrom-") + "/delta"
    run("CREATE TABLE d (id bigint PRIMARY KEY, v text NOT NULL)")
    run("INSERT INTO d VALUES (1, 'new'), (3, 'add')")
    run(s"COPY d TO '$dir' (FORMAT csv)")
    run(s"COPY t FROM '$dir' (FORMAT csv)")
    val h1 = cat.get("t").get
    run(s"COPY t FROM '$dir' (FORMAT csv)") // idempotent merge-in
    assert(cat.get("t").contains(h1), "repeated COPY FROM must converge")
    val got = ops.scanOrdered(cat.get("t").get).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "new"), (2L, "keep"), (3L, "add")))
  }

  test("COPY format defaults from the path extension") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE t (id bigint PRIMARY KEY, v text NOT NULL)")
    run("INSERT INTO t VALUES (7, 'x')")
    val dir = graft.core.FsUtil.tempStoreDir("graft-copyext-") + "/t.csv"
    run(s"COPY t TO '$dir'")
    // header-row CSV landed (the csv writer, not parquet)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".csv")).get
    val lines = scala.io.Source.fromFile(part).getLines().toSeq
    assert(lines.head == "id,v" && lines.contains("7,x"))
  }

  test("NOT NULL enforcement: declared constraints raise at write time on every path") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE t (k bigint PRIMARY KEY, v text NOT NULL, o text)")
    run("INSERT INTO t VALUES (1, 'a', NULL)") // nullable column: fine
    def rejected(sql: String): Boolean =
      try { run(sql); false }
      catch { case e: Throwable =>
        var c: Throwable = e; var hit = false
        while (c != null && !hit) {
          hit = Option(c.getMessage).exists(_.contains("NOT NULL violation"))
          c = c.getCause
        }
        hit
      }
    assert(rejected("INSERT INTO t VALUES (2, NULL, 'x')"), "INSERT null value")
    assert(rejected("INSERT INTO t VALUES (NULL, 'b', 'x')"), "INSERT null key")
    assert(rejected("UPDATE t SET v = NULL WHERE o IS NULL"), "UPDATE transform path")
    assert(rejected("UPDATE t SET v = NULL WHERE k >= 0"), "UPDATE range path")
    assert(rejected(
      "MERGE INTO t AS tgt USING (SELECT 1 AS k, CAST(NULL AS STRING) AS v, 'z' AS o) AS src " +
        "ON tgt.k = src.k WHEN MATCHED THEN UPDATE SET v = src.v"), "MERGE update")
    // a failed statement must leave the table untouched (no partial write)
    assert(ops.scan(cat.get("t").get).count() == 1)
    // the constraint survives re-puts and a fresh catalog over the store
    run("INSERT INTO t VALUES (4, 'd', 'x')")
    val cat2 = new Catalog(ops.store)
    assert(cat2.root("t").notNull == Seq("v"))
    val err = intercept[Exception](
      GraftSql.execute(spark, ops, cat2, "INSERT INTO t VALUES (5, NULL, 'x')"))
    assert(err.toString.contains("NOT NULL") || err.getCause != null)
  }

  test("COPY FROM enforces NOT NULL (csv empty field reads as null)") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    run("CREATE TABLE t (k bigint PRIMARY KEY, v text NOT NULL)")
    val dir = graft.core.FsUtil.tempStoreDir("graft-copynull-")
    Files.writeString(java.nio.file.Paths.get(dir, "in.csv"), "k,v\n1,\n")
    val e = intercept[Exception](run(s"COPY t FROM '$dir/in.csv' (FORMAT csv)"))
    var c: Throwable = e; var hit = false
    while (c != null && !hit) {
      hit = Option(c.getMessage).exists(_.contains("NOT NULL violation")); c = c.getCause
    }
    assert(hit, s"expected NOT NULL violation, got $e")
    assert(ops.scan(cat.get("t").get).count() == 0)
  }

  test("SHOW CREATE TABLE round-trips the declaration") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    val ddl = "CREATE TABLE t (\n  id bigint PRIMARY KEY,\n  name text NOT NULL,\n" +
      "  score real,\n  amt decimal(12,2) NOT NULL\n)"
    run(ddl)
    val Left(df) = run("SHOW CREATE TABLE t"): @unchecked
    val got = df.collect().head.getString(0)
    assert(got == ddl, s"got:\n$got")
    // and the reconstruction is itself valid DDL (parse round-trip)
    val ct = GraftSql.parseCreateTable(got)
    assert(ct.keyCols == Seq("id"))
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("a dropped table or view is not readable through its stale temp view") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    def notFound(sql: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](run(sql))
      assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
    }
    run("CREATE TABLE stale_t (k bigint PRIMARY KEY, v bigint)")
    run("INSERT INTO stale_t VALUES (1, 10), (2, 20)")
    val Left(before) = run("SELECT * FROM stale_t"): @unchecked
    assert(before.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .toSeq == Seq((1L, 10L), (2L, 20L)))
    run("DROP TABLE stale_t")
    notFound("SELECT * FROM stale_t")
    assert(!tempViews().contains("stale_t"))
    // a dropped materialized view
    run("CREATE TABLE stale_b (k bigint PRIMARY KEY, v bigint)")
    run("INSERT INTO stale_b VALUES (1, 10)")
    run("CREATE MATERIALIZED VIEW stale_mv AS SELECT k, v FROM stale_b WHERE v > 0")
    val Left(mv) = run("SELECT * FROM stale_mv"): @unchecked
    assert(mv.count() == 1)
    run("DROP MATERIALIZED VIEW stale_mv")
    notFound("SELECT * FROM stale_mv")
    // a second catalog on the same SparkSession cannot read the first's
    val (ops2, cat2) = newOps()
    val Left(b) = run("SELECT * FROM stale_b"): @unchecked
    assert(b.count() == 1)
    intercept[org.apache.spark.sql.AnalysisException](
      GraftSql.execute(spark, ops2, cat2, "SELECT * FROM stale_b"))
    // a user temp view of a name the catalog lacks is the user's: read,
    // never dropped
    spark.range(3).toDF("k").createOrReplaceTempView("stale_user")
    val Left(u) = run("SELECT * FROM stale_user"): @unchecked
    assert(u.count() == 3)
    assert(tempViews().contains("stale_user"))
    spark.catalog.dropTempView("stale_user")
  }

  test("statements register only the tables they name, each at its current version") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    def one(sql: String): Long = {
      val Left(df) = run(sql): @unchecked
      df.collect().head.getLong(0)
    }
    run("CREATE TABLE ns_src (k bigint PRIMARY KEY, v bigint)")
    run("CREATE TABLE ns_dst (k bigint PRIMARY KEY, v bigint)")
    run("INSERT INTO ns_src VALUES (1, 10)")
    assert(one("SELECT SUM(v) FROM ns_src") == 10L) // registers ns_src
    // an INSERT … VALUES registers no temp view
    val views = tempViews()
    run("INSERT INTO ns_src VALUES (2, 20)")
    assert(tempViews() == views)
    // named only inside a scalar subquery of an INSERT (Spark rejects
    // scalar subqueries inside VALUES, so the row is a SELECT list)
    run("INSERT INTO ns_dst SELECT 1, (SELECT SUM(v) FROM ns_src)")
    assert(one("SELECT v FROM ns_dst WHERE k = 1") == 30L)
    // named only inside a CTE
    run("INSERT INTO ns_src VALUES (3, 30)")
    assert(one("WITH x AS (SELECT v FROM ns_src) SELECT SUM(v) FROM x") == 60L)
    // named only inside a MERGE source
    run("INSERT INTO ns_src VALUES (4, 40)")
    run("""MERGE INTO ns_dst AS t USING (SELECT k, v FROM ns_src) AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(one("SELECT SUM(v) FROM ns_dst") == 100L)
    // a backtick-quoted name
    run("INSERT INTO ns_src VALUES (5, 50)")
    assert(one("SELECT SUM(v) FROM `ns_src`") == 150L)
    // a differently-cased name
    run("INSERT INTO ns_src VALUES (6, 60)")
    assert(one("SELECT SUM(v) FROM NS_Src") == 210L)
    // named only inside a subquery of an UPDATE's SET and a DELETE's
    // WHERE (both take driver or per-chunk routes, not the rebuild)
    run("INSERT INTO ns_src VALUES (7, 70)")
    run("UPDATE ns_dst SET v = (SELECT SUM(v) FROM ns_src) WHERE k = 1")
    assert(one("SELECT v FROM ns_dst WHERE k = 1") == 280L)
    run("INSERT INTO ns_src VALUES (8, 80)")
    run("DELETE FROM ns_dst WHERE v < (SELECT MAX(v) FROM ns_src) - 30")
    assert(one("SELECT COUNT(*) FROM ns_dst") == 1L)
    // the same DELETE text again after the subquery's table changed: it
    // must not be served from a memo keyed by the predicate text
    run("DELETE FROM ns_dst WHERE v < (SELECT MAX(v) FROM ns_src) - 30")
    assert(one("SELECT COUNT(*) FROM ns_dst") == 1L) // 280 ≥ 50: kept
    run("INSERT INTO ns_src VALUES (9, 400)")
    run("DELETE FROM ns_dst WHERE v < (SELECT MAX(v) FROM ns_src) - 30")
    assert(one("SELECT COUNT(*) FROM ns_dst") == 0L)
    // an apostrophe inside a comment opens no string literal
    run("INSERT INTO ns_src VALUES (10, 1)")
    assert(one("SELECT /* it's */ SUM(v) FROM ns_src /* it's */") == 761L)
    run("INSERT INTO ns_src VALUES (11, 1)")
    assert(one("SELECT SUM(v) -- don't\nFROM ns_src -- don't") == 762L)
    // a backslash-escaped quote inside "…" ends no string literal
    run("INSERT INTO ns_dst VALUES (12, 5)")
    run("INSERT INTO ns_src VALUES (12, 1)")
    assert(one("""SELECT COUNT(*) FROM ns_dst WHERE "a\"b" = 'x'
      OR k IN (SELECT k FROM ns_src) OR 'q' = "r\"s"""") == 1L)
    assert(GraftSql.namedIdentifiers(
      "SELECT `a``b`, \"c d\" FROM t WHERE s = 'x \\' y' AND u1 = 2") ==
      Some(Set("SELECT", "a`b", "c d", "FROM", "t", "WHERE", "s", "AND", "u1", "2")))
    assert(GraftSql.namedIdentifiers(
      "SELECT /* it's /* nested */ t0 */ a -- it's \\\n t1\nFROM r'\\' t2") ==
      Some(Set("SELECT", "a", "FROM", "t2")))
    assert(GraftSql.namedIdentifiers("SELECT /*+ BROADCAST(t) */ a") ==
      Some(Set("SELECT", "BROADCAST", "t", "a")))
    // an open quote or comment may hide a name: the caller registers all
    assert(GraftSql.namedIdentifiers("SELECT 'a FROM t").isEmpty)
    assert(GraftSql.namedIdentifiers("SELECT a /* FROM t").isEmpty)
  }

  test("a user's SQL-text temp view over a catalog table reads its current version") {
    val (ops, cat) = newOps()
    def run(sql: String) = GraftSql.execute(spark, ops, cat, sql)
    def one(sql: String): Long = {
      val Left(df) = run(sql): @unchecked
      df.collect().head.getLong(0)
    }
    run("CREATE TABLE uv_t (k bigint PRIMARY KEY, v bigint)")
    run("INSERT INTO uv_t VALUES (1, 10)")
    try {
      run("CREATE OR REPLACE TEMP VIEW uv_a AS SELECT * FROM uv_t")
      // a view over a view, and a global one over both
      spark.sql("CREATE OR REPLACE TEMP VIEW uv_b AS SELECT k, v FROM uv_a")
      spark.sql("CREATE OR REPLACE GLOBAL TEMP VIEW uv_g AS SELECT * FROM uv_b")
      assert(one("SELECT SUM(v) FROM uv_a") == 10L)
      run("INSERT INTO uv_t VALUES (2, 20)")
      assert(one("SELECT SUM(v) FROM uv_a") == 30L)
      run("INSERT INTO uv_t VALUES (3, 30)")
      assert(one("SELECT SUM(v) FROM uv_b") == 60L)
      run("INSERT INTO uv_t VALUES (4, 40)")
      assert(one("SELECT SUM(v) FROM global_temp.uv_g") == 100L)
    } finally {
      spark.catalog.dropTempView("uv_a")
      spark.catalog.dropTempView("uv_b")
      spark.catalog.dropGlobalTempView("uv_g")
    }
  }
}
