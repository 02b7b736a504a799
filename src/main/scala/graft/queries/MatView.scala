package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.core.{Catalog, FsStore, Ops}
import graft.sql.GraftSql
import Q._

/** Driver-visible end-to-end exercise of the SQL materialized-view
  * surface (VERDICT r4 #2): everything flows through `GraftSql.execute`
  * statements against a real store — CTAS from the source parquet,
  * CREATE MATERIALIZED VIEW, a DML delta, REFRESH (incremental, memo-
  * backed), then a SELECT over the refreshed view is returned to the
  * driver and compared against DuckDB computing the same algebra
  * directly. The reference routes all of this through RepoStatement
  * (/root/reference/messdb-repo/src/MessDB/Repo.hs:82); here each step
  * IS a SQL statement. */
object MatView {

  /** Per-customer order totals maintained as a materialized view over a
    * catalog table, refreshed after an upsert delta. Uses a 25% slice of
    * orders to keep the engine materialization proportionate in bench. */
  def sqlMatview(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-mv-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    // source slice as a catalog table (CTAS binds the PK)
    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_src")
    run("CREATE TABLE orders_g PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_src")

    run("CREATE MATERIALIZED VIEW cust_totals AS " +
      "SELECT o_custkey, SUM(price_c) AS total_c, COUNT(*) AS n " +
      "FROM orders_g GROUP BY o_custkey")

    // DML delta: new orders for 1-in-5 keys, then incremental refresh
    run("INSERT INTO orders_g " +
      "SELECT o_orderkey + 100000000, o_custkey, price_c + 100 " +
      "FROM orders_g WHERE o_orderkey % 20 = 0")
    run("REFRESH MATERIALIZED VIEW cust_totals")

    val Left(out) = run(
      "SELECT o_custkey, total_c, n FROM cust_totals ORDER BY o_custkey"): @unchecked
    out
  }

  val sqlMatviewSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 4 = 0),
       |delta AS (
       |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, price_c + 100 AS price_c
       |  FROM base WHERE o_orderkey % 20 = 0),
       |u AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
       |SELECT o_custkey, CAST(SUM(price_c) AS BIGINT) AS total_c, COUNT(*) AS n
       |FROM u GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** The round-5 MV surface in one statement flow: a WHERE-filtered
    * aggregate view with a COMPUTED group key and MIXED fold families
    * (SUM + COUNT + MIN + MAX lower to a per-column composite fold) —
    * define, delta via INSERT…SELECT, incremental REFRESH, read back. */
  def sqlMatviewWhere(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-mvw-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 4 === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"), col("o_orderstatus"))
      .createOrReplaceTempView("orders_w_src")
    run("CREATE TABLE orders_w PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_w_src")

    run("CREATE MATERIALIZED VIEW busy_buckets AS " +
      "SELECT o_custkey % 100 AS bucket, SUM(price_c) AS total_c, COUNT(*) AS n, " +
      "MIN(price_c) AS lo_c, MAX(price_c) AS hi_c " +
      "FROM orders_w WHERE o_orderstatus = 'F' GROUP BY bucket")

    // delta rows land both inside and outside the status filter
    run("INSERT INTO orders_w " +
      "SELECT o_orderkey + 100000000, o_custkey, price_c + 55, o_orderstatus " +
      "FROM orders_w WHERE o_orderkey % 10 = 5")
    run("REFRESH MATERIALIZED VIEW busy_buckets")

    val Left(out) = run(
      "SELECT bucket, total_c, n, lo_c, hi_c FROM busy_buckets ORDER BY bucket"): @unchecked
    out
  }

  val sqlMatviewWhereSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c, o_orderstatus
       |  FROM orders WHERE o_orderkey % 4 = 1),
       |delta AS (
       |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
       |         price_c + 55 AS price_c, o_orderstatus
       |  FROM base WHERE o_orderkey % 10 = 5),
       |u AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
       |SELECT o_custkey % 100 AS bucket, CAST(SUM(price_c) AS BIGINT) AS total_c,
       |       COUNT(*) AS n, MIN(price_c) AS lo_c, MAX(price_c) AS hi_c
       |FROM u WHERE o_orderstatus = 'F' GROUP BY bucket ORDER BY bucket""".stripMargin

  /** The round-5 HAVING/AVG view chain end-to-end: AVG lowers to an
    * exact __sum/__cnt pair in the internal aggregate stage plus ONE
    * final fp division in the key-preserving post stage, and HAVING is
    * the post stage's row filter — define, delta, single REFRESH (the
    * chain refreshes its aggregate stage first), read back. */
  def sqlMatviewAvg(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-mva-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 8 === 2)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_a_src")
    run("CREATE TABLE orders_a PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_a_src")

    run("CREATE MATERIALIZED VIEW cust_avg AS " +
      "SELECT o_custkey % 10 AS bucket, AVG(price_c) AS mean_c, COUNT(*) AS n, " +
      "SUM(price_c) AS total_c FROM orders_a GROUP BY bucket HAVING n >= 5")

    run("INSERT INTO orders_a " +
      "SELECT o_orderkey + 100000000, o_custkey, price_c + 31 " +
      "FROM orders_a WHERE o_orderkey % 16 = 2")
    run("REFRESH MATERIALIZED VIEW cust_avg")

    val Left(out) = run(
      "SELECT bucket, mean_c, n, total_c FROM cust_avg ORDER BY bucket"): @unchecked
    out
  }

  val sqlMatviewAvgSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 8 = 2),
       |delta AS (
       |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, price_c + 31 AS price_c
       |  FROM base WHERE o_orderkey % 16 = 2),
       |u AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
       |SELECT o_custkey % 10 AS bucket, CAST(SUM(price_c) AS DOUBLE)/COUNT(*) AS mean_c,
       |       COUNT(*) AS n, CAST(SUM(price_c) AS BIGINT) AS total_c
       |FROM u GROUP BY bucket HAVING COUNT(*) >= 5 ORDER BY bucket""".stripMargin

  /** The SQL DML surface end-to-end (round-5 zone-map DML): CTAS with a
    * composite PK, a non-key DELETE (key-preserving filtered transform —
    * chunks whose zone maps exclude the predicate pass through verbatim),
    * a leading-key range DELETE (incremental complement-range merge), a
    * non-key UPDATE (CASE-gated per-chunk transform), then an aggregate
    * readback compared against DuckDB replaying the same statements. */
  def sqlDml(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-dml-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    // (l_orderkey, l_linenumber) is NOT unique in the synthetic testdata
    // (nor +l_partkey at sf0.01); +l_suppkey completes the candidate key,
    // so CTAS folds nothing and the DuckDB oracle needs no dedup stage
    Tables(s, dir, "lineitem")
      .where(col("l_orderkey") % 8 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_c"), col("l_returnflag"))
      .createOrReplaceTempView("li_dml_src")
    run("CREATE TABLE li PRIMARY KEY (l_orderkey, l_linenumber, l_partkey, l_suppkey) " +
      "AS SELECT * FROM li_dml_src")

    run("DELETE FROM li WHERE l_returnflag = 'R' AND qty > 40")
    run("DELETE FROM li WHERE l_orderkey >= 160 AND l_orderkey < 1600")
    run("UPDATE li SET price_c = price_c + 7 WHERE l_returnflag = 'A'")

    val Left(out) = run(
      "SELECT l_returnflag, COUNT(*) AS n, SUM(price_c) AS total_c, " +
        "SUM(qty) AS sum_qty FROM li GROUP BY l_returnflag ORDER BY l_returnflag"): @unchecked
    out
  }

  val sqlDmlSql: String =
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |         CAST(round(l_quantity) AS BIGINT) AS qty,
       |         ${centsSql("l_extendedprice")} AS price_c, l_returnflag
       |  FROM lineitem WHERE l_orderkey % 8 = 0),
       |d1 AS (SELECT * FROM base
       |       WHERE NOT coalesce((l_returnflag = 'R' AND qty > 40), false)),
       |d2 AS (SELECT * FROM d1
       |       WHERE NOT coalesce((l_orderkey >= 160 AND l_orderkey < 1600), false)),
       |u1 AS (SELECT l_orderkey, l_linenumber, qty,
       |       CASE WHEN coalesce((l_returnflag = 'A'), false)
       |            THEN price_c + 7 ELSE price_c END AS price_c,
       |       l_returnflag FROM d2)
       |SELECT l_returnflag, COUNT(*) AS n, CAST(SUM(price_c) AS BIGINT) AS total_c,
       |       CAST(SUM(qty) AS BIGINT) AS sum_qty
       |FROM u1 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** `MERGE INTO` end-to-end (round-5): CTAS, then ONE statement carrying
    * all three action families — conditional DELETE, both-sides UPDATE
    * expression, conditional INSERT — executed as the chunk-pruned
    * envelope splice (Merge.scala), then an aggregate readback. The
    * DuckDB oracle replays the standard MERGE semantics as a LEFT-JOIN
    * pair (survivors + inserts). The source mixes matching keys (updates
    * and deletes, drawn from the table itself) with novel keys (inserts,
    * half filtered out by the NOT MATCHED condition). */
  def sqlMerge(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-merge-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 4 === 2)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"), col("o_orderstatus"))
      .createOrReplaceTempView("orders_m_src")
    run("CREATE TABLE ords PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_m_src")

    run("""MERGE INTO ords AS t USING (
      SELECT o_orderkey AS k, price_c AS p FROM ords WHERE o_orderkey % 12 = 2
      UNION ALL
      SELECT o_orderkey + 50000000 AS k, price_c AS p FROM ords WHERE o_orderkey % 20 = 2
    ) AS s ON t.o_orderkey = s.k
    WHEN MATCHED AND s.p > 20000000 THEN DELETE
    WHEN MATCHED THEN UPDATE SET price_c = t.price_c + s.p div 100
    WHEN NOT MATCHED AND s.p % 2 = 0 THEN
      INSERT (o_orderkey, o_custkey, price_c, o_orderstatus) VALUES (s.k, 0, s.p, 'M')""")

    val Left(out) = run(
      "SELECT o_orderstatus, COUNT(*) AS n, SUM(price_c) AS total_c, " +
        "MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k " +
        "FROM ords GROUP BY o_orderstatus ORDER BY o_orderstatus"): @unchecked
    out
  }

  val sqlMergeSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c, o_orderstatus
       |  FROM orders WHERE o_orderkey % 4 = 2),
       |src AS (
       |  SELECT o_orderkey AS k, price_c AS p FROM base WHERE o_orderkey % 12 = 2
       |  UNION ALL
       |  SELECT o_orderkey + 50000000 AS k, price_c AS p FROM base WHERE o_orderkey % 20 = 2),
       |merged AS (
       |  SELECT t.o_orderkey, t.o_custkey,
       |         CASE WHEN s.k IS NOT NULL AND NOT (s.p > 20000000)
       |              THEN t.price_c + s.p // 100 ELSE t.price_c END AS price_c,
       |         t.o_orderstatus
       |  FROM base t LEFT JOIN src s ON t.o_orderkey = s.k
       |  WHERE NOT coalesce(s.p > 20000000, false)
       |  UNION ALL
       |  SELECT s.k AS o_orderkey, 0 AS o_custkey, s.p AS price_c, 'M' AS o_orderstatus
       |  FROM src s LEFT JOIN base t ON t.o_orderkey = s.k
       |  WHERE t.o_orderkey IS NULL AND s.p % 2 = 0)
       |SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(price_c) AS BIGINT) AS total_c,
       |       MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k
       |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Time-travel reads end-to-end (round-5 `VERSION AS OF`): CTAS
    * captures its root hash, DML moves the table forward, then ONE
    * SELECT joins the CURRENT version to the table's own PAST (no
    * RESTORE/CHECKOUT — pointers never move) and classifies every row
    * as added/changed/same. The DuckDB oracle replays the delta
    * algebraically (base vs base+DML). */
  def sqlHistory(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-hist-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 4 === 3)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_h_src")
    val Right(v1) = run(
      "CREATE TABLE hist PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_h_src"): @unchecked

    // leading-key-range UPDATE (incremental fast path) + INSERT delta
    run("UPDATE hist SET price_c = price_c + 9 WHERE o_orderkey >= 400 AND o_orderkey < 2000")
    run("INSERT INTO hist SELECT o_orderkey + 90000000, price_c FROM hist WHERE o_orderkey % 16 = 3")

    val Left(out) = run(
      s"""SELECT CASE WHEN old.o_orderkey IS NULL THEN 'added'
         |            WHEN cur.price_c <> old.price_c THEN 'changed' ELSE 'same' END AS status,
         |       COUNT(*) AS n, SUM(cur.price_c) AS total_c
         |FROM hist cur LEFT JOIN hist VERSION AS OF '$v1' old
         |  ON cur.o_orderkey = old.o_orderkey
         |GROUP BY status ORDER BY status""".stripMargin): @unchecked
    out
  }

  val sqlHistorySql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 4 = 3),
       |upd AS (
       |  SELECT o_orderkey, CASE WHEN o_orderkey >= 400 AND o_orderkey < 2000
       |         THEN price_c + 9 ELSE price_c END AS price_c FROM base),
       |cur AS (
       |  SELECT * FROM upd
       |  UNION ALL
       |  SELECT o_orderkey + 90000000, price_c FROM upd WHERE o_orderkey % 16 = 3)
       |SELECT CASE WHEN old.o_orderkey IS NULL THEN 'added'
       |            WHEN cur.price_c <> old.price_c THEN 'changed' ELSE 'same' END AS status,
       |       COUNT(*) AS n, CAST(SUM(cur.price_c) AS BIGINT) AS total_c
       |FROM cur LEFT JOIN base old ON cur.o_orderkey = old.o_orderkey
       |GROUP BY status ORDER BY status""".stripMargin

  /** CDC apply end-to-end (round-5 StreamCdc): a deterministic I/U/D
    * change log — updates and deletes drawn from the table's own keys,
    * inserts on novel keys including an insert-then-update of the SAME
    * key inside the batch, plus a delete of an absent key (no-op) —
    * applies through [[graft.streaming.StreamCdc.applyBatch]]: last
    * event per key wins, then ONE envelope-spliced MERGE. The DuckDB
    * oracle replays the net effect algebraically (survivors ∪ inserts).
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-cdc-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    val base = Tables(s, dir, "orders")
      .where(col("o_orderkey") % 4 === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"))
    base.createOrReplaceTempView("orders_cdc_src")
    run("CREATE TABLE cdc_mirror PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_cdc_src")

    // ONE scan, not five: each base row explodes into the events its key
    // qualifies for (the former 5-way unionAll re-scanned base per
    // branch — a fifth of this query's task time for the same rows)
    val k = col("o_orderkey")
    def ev(cond: Column, op: String, seq: Long, key: Column, price: Column) =
      struct(cond.as("keep"), lit(op).as("op"), lit(seq).as("seq"),
        key.as("o_orderkey"), col("o_custkey").as("o_custkey"),
        price.cast("long").as("price_c"))
    val changes = base
      .select(explode(filter(array(
        ev(k % 12 === 1, "U", 1L, k, col("price_c") + 7),
        ev(k % 20 === 1, "D", 2L, k, lit(0L)),
        ev(k % 16 === 1, "I", 1L, k + 70000000L, col("price_c") * 2),
        ev(k % 32 === 1, "U", 2L, k + 70000000L, col("price_c") * 2 + 1),
        ev(k % 40 === 1, "D", 1L, k + 80000000L, lit(0L))),
        e => e.getField("keep"))).as("e"))
      .select(col("e.op").as("op"), col("e.seq").as("seq"),
        col("e.o_orderkey").as("o_orderkey"),
        col("e.o_custkey").as("o_custkey"), col("e.price_c").as("price_c"))
    graft.streaming.StreamCdc.applyBatch(s, ops, cat, changes, "cdc_mirror",
      "op", "seq",
      graft.core.FsUtil.tempStoreDir("graft-cdc-q-ckpt-"),
      batchId = 1L)

    val Left(out) = run(
      "SELECT o_custkey % 7 AS g, COUNT(*) AS n, SUM(price_c) AS total_c, " +
        "MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k " +
        "FROM cdc_mirror GROUP BY o_custkey % 7 ORDER BY g"): @unchecked
    out
  }

  val cdcApplySql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 4 = 1),
       |final AS (
       |  SELECT o_orderkey, o_custkey,
       |         CASE WHEN o_orderkey % 12 = 1 THEN price_c + 7 ELSE price_c END AS price_c
       |  FROM base WHERE NOT o_orderkey % 20 = 1
       |  UNION ALL
       |  SELECT o_orderkey + 70000000, o_custkey,
       |         CASE WHEN o_orderkey % 32 = 1 THEN price_c * 2 + 1 ELSE price_c * 2 END
       |  FROM base WHERE o_orderkey % 16 = 1)
       |SELECT o_custkey % 7 AS g, COUNT(*) AS n, CAST(SUM(price_c) AS BIGINT) AS total_c,
       |       MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k
       |FROM final GROUP BY 1 ORDER BY g""".stripMargin

  /** Change-feed end-to-end (round-5 `CHANGES`): CTAS captures v1, then
    * UPDATE + self-INSERT + range DELETE move the table forward, and ONE
    * SELECT aggregates `CHANGES(t, v1)` — the Delta-CDF read side: every
    * row insert/delete/update with BOTH update images, served by reading
    * only chunks the two versions do NOT share. The DuckDB oracle
    * replays the three statements algebraically and tags the same four
    * change classes. */
  def sqlChanges(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-chg-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_chg_src")
    val Right(v1) = run(
      "CREATE TABLE feed PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_chg_src"): @unchecked

    run("UPDATE feed SET price_c = price_c + 11 WHERE o_orderkey >= 1000 AND o_orderkey < 3000")
    run("INSERT INTO feed SELECT o_orderkey + 90000000, price_c FROM feed WHERE o_orderkey % 16 = 0")
    run("DELETE FROM feed WHERE o_orderkey >= 600 AND o_orderkey < 800")

    val Left(out) = run(
      s"""SELECT _change_type, COUNT(*) AS n, SUM(price_c) AS total_c,
         |       MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k
         |FROM CHANGES(feed, '$v1')
         |GROUP BY _change_type ORDER BY _change_type""".stripMargin): @unchecked
    out
  }

  val sqlChangesSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 4 = 0),
       |upd AS (
       |  SELECT o_orderkey, CASE WHEN o_orderkey >= 1000 AND o_orderkey < 3000
       |         THEN price_c + 11 ELSE price_c END AS price_c FROM base),
       |ins AS (
       |  SELECT o_orderkey + 90000000 AS o_orderkey, price_c FROM upd
       |  WHERE o_orderkey % 16 = 0),
       |ch AS (
       |  SELECT 'insert' AS _change_type, o_orderkey, price_c FROM ins
       |  UNION ALL
       |  SELECT 'delete', o_orderkey, price_c FROM base
       |  WHERE o_orderkey >= 600 AND o_orderkey < 800
       |  UNION ALL
       |  SELECT 'update_preimage', o_orderkey, price_c FROM base
       |  WHERE o_orderkey >= 1000 AND o_orderkey < 3000
       |  UNION ALL
       |  SELECT 'update_postimage', o_orderkey, price_c + 11 FROM base
       |  WHERE o_orderkey >= 1000 AND o_orderkey < 3000)
       |SELECT _change_type, COUNT(*) AS n, CAST(SUM(price_c) AS BIGINT) AS total_c,
       |       MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k
       |FROM ch GROUP BY 1 ORDER BY _change_type""".stripMargin

  /** SQL transactions end-to-end (round-5 `BEGIN`/`COMMIT`/`ROLLBACK`,
    * core.Txn): a first transaction stages destructive DML (zero every
    * price, delete half the table) and ROLLBACKs — the oracle proves
    * none of it landed; a second transaction runs UPDATE + DELETE +
    * self-referencing INSERT and COMMITs as ONE squash version. The
    * DuckDB oracle applies exactly the committed statements in order. */
  def sqlTxn(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-txn-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    val sess = new graft.sql.SqlSession(s, ops, cat)
    def run(sql: String) = sess.execute(sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 4 === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_txn_src")
    run("CREATE TABLE txn_t PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_txn_src")

    // transaction 1: staged, then discarded — must leave no trace
    run("BEGIN")
    run("UPDATE txn_t SET price_c = 0 WHERE o_orderkey >= 0")
    run("DELETE FROM txn_t WHERE o_orderkey % 2 = 1")
    run("ROLLBACK")

    // transaction 2: committed as one squash version
    run("BEGIN")
    run("UPDATE txn_t SET price_c = price_c + 13 WHERE o_orderkey % 16 = 1")
    run("DELETE FROM txn_t WHERE o_orderkey % 32 = 9")
    run("INSERT INTO txn_t SELECT o_orderkey + 70000000, o_custkey, price_c " +
      "FROM txn_t WHERE o_orderkey % 24 = 1")
    run("COMMIT")

    val Left(out) = run(
      "SELECT o_custkey % 10 AS g, COUNT(*) AS n, SUM(price_c) AS total_c, " +
        "MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k " +
        "FROM txn_t GROUP BY o_custkey % 10 ORDER BY g"): @unchecked
    out
  }

  val sqlTxnSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 4 = 1),
       |upd AS (
       |  SELECT o_orderkey, o_custkey,
       |         CASE WHEN o_orderkey % 16 = 1 THEN price_c + 13 ELSE price_c END AS price_c
       |  FROM base WHERE NOT (o_orderkey % 32 = 9)),
       |fin AS (
       |  SELECT * FROM upd
       |  UNION ALL
       |  SELECT o_orderkey + 70000000, o_custkey, price_c FROM upd
       |  WHERE o_orderkey % 24 = 1)
       |SELECT o_custkey % 10 AS g, COUNT(*) AS n, CAST(SUM(price_c) AS BIGINT) AS total_c,
       |       MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k
       |FROM fin GROUP BY o_custkey % 10 ORDER BY g""".stripMargin

  /** Round-6 INNER/LEFT JOIN materialized views end-to-end: both lower
    * as a presence-marked full-outer join stage (absent side
    * distinguishable from present-with-NULLs) plus a key-preserving
    * post-filter — so a delta to EITHER side refreshes in O(delta)
    * (pinned in SqlAndSourcesSpec). Deltas land on both sides: new
    * orders without items (kept by LEFT with NULL qty, dropped by
    * INNER) and items for nonexistent orders (dropped by both). */
  def sqlMatviewJoin(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-mvj-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 8 === 3)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_j_src")
    run("CREATE TABLE orders_j PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_j_src")
    Tables(s, dir, "lineitem")
      .where(col("l_orderkey") % 8 === 3)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
      .select(col("l_orderkey").as("o_orderkey"), col("qty"))
      .createOrReplaceTempView("items_j_src")
    run("CREATE TABLE items_j PRIMARY KEY (o_orderkey) AS SELECT * FROM items_j_src")

    run("CREATE MATERIALIZED VIEW oj_inner AS SELECT * FROM orders_j INNER JOIN items_j USING (o_orderkey)")
    run("CREATE MATERIALIZED VIEW oj_left AS SELECT * FROM orders_j LEFT JOIN items_j USING (o_orderkey)")
    run("INSERT INTO orders_j SELECT o_orderkey + 90000000, o_custkey, price_c + 7 " +
      "FROM orders_j WHERE o_orderkey % 40 = 3")
    run("INSERT INTO items_j SELECT o_orderkey + 90000000, qty + 1 " +
      "FROM items_j WHERE o_orderkey % 40 = 19")
    run("REFRESH ALL")

    val Left(out) = run(
      "SELECT 'i' AS side, o_orderkey, o_custkey, price_c, qty " +
        "FROM oj_inner WHERE o_orderkey % 50 = 3 " +
        "UNION ALL " +
        "SELECT 'l' AS side, o_orderkey, o_custkey, price_c, COALESCE(qty, -1) AS qty " +
        "FROM oj_left WHERE o_orderkey % 50 = 3 " +
        "ORDER BY side, o_orderkey"): @unchecked
    out
  }

  val sqlMatviewJoinSql: String =
    s"""WITH lefts0 AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 8 = 3),
       |items0 AS (
       |  SELECT l_orderkey AS o_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS qty
       |  FROM lineitem WHERE l_orderkey % 8 = 3 GROUP BY 1),
       |lefts AS (SELECT * FROM lefts0 UNION ALL
       |  SELECT o_orderkey + 90000000, o_custkey, price_c + 7
       |  FROM lefts0 WHERE o_orderkey % 40 = 3),
       |items AS (SELECT * FROM items0 UNION ALL
       |  SELECT o_orderkey + 90000000, qty + 1
       |  FROM items0 WHERE o_orderkey % 40 = 19)
       |SELECT 'i' AS side, l.o_orderkey, l.o_custkey, l.price_c, i.qty
       |FROM lefts l JOIN items i USING (o_orderkey) WHERE l.o_orderkey % 50 = 3
       |UNION ALL
       |SELECT 'l' AS side, l.o_orderkey, l.o_custkey, l.price_c, COALESCE(i.qty, -1) AS qty
       |FROM lefts l LEFT JOIN items i USING (o_orderkey) WHERE l.o_orderkey % 50 = 3
       |ORDER BY side, o_orderkey""".stripMargin

  /** Round-6 aggregate-over-join materialized view — the workhorse BI
    * shape — end-to-end: `SELECT g, SUM…, COUNT…, … FROM a INNER JOIN b
    * USING (k) WHERE … GROUP BY g HAVING …` lowers to the THREE-stage
    * chain (presence-marked full-outer join stage → mixed-fold
    * aggregate stage with the join-kind predicate folded into its row
    * filter → HAVING post stage), every stage the established
    * incremental kind. Deltas land on both sides (orders without items
    * stay out of the INNER aggregate; keys gaining both sides join in),
    * one REFRESH ALL walks the chain, and the readback is compared to
    * DuckDB replaying the same statements. */
  def sqlMatviewJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-mvja-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 8 === 5)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_ja_src")
    run("CREATE TABLE orders_ja PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_ja_src")
    Tables(s, dir, "lineitem")
      .where(col("l_orderkey") % 8 === 5)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
      .select(col("l_orderkey").as("o_orderkey"), col("qty"))
      .createOrReplaceTempView("items_ja_src")
    run("CREATE TABLE items_ja PRIMARY KEY (o_orderkey) AS SELECT * FROM items_ja_src")

    run("CREATE MATERIALIZED VIEW cust_qty AS " +
      "SELECT o_custkey % 50 AS g, SUM(qty) AS total_qty, COUNT(*) AS n, " +
      "SUM(price_c) AS total_c " +
      "FROM orders_ja INNER JOIN items_ja USING (o_orderkey) " +
      "WHERE price_c > 1000000 GROUP BY g HAVING n >= 2")

    run("INSERT INTO orders_ja SELECT o_orderkey + 90000000, o_custkey, price_c + 3 " +
      "FROM orders_ja WHERE o_orderkey % 40 = 5")
    run("INSERT INTO items_ja SELECT o_orderkey + 90000000, qty + 2 " +
      "FROM items_ja WHERE o_orderkey % 80 = 5")
    run("REFRESH ALL")

    val Left(out) = run(
      "SELECT g, total_qty, n, total_c FROM cust_qty ORDER BY g"): @unchecked
    out
  }

  val sqlMatviewJoinAggSql: String =
    s"""WITH o0 AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 8 = 5),
       |i0 AS (
       |  SELECT l_orderkey AS o_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS qty
       |  FROM lineitem WHERE l_orderkey % 8 = 5 GROUP BY 1),
       |o AS (SELECT * FROM o0 UNION ALL
       |  SELECT o_orderkey + 90000000, o_custkey, price_c + 3
       |  FROM o0 WHERE o_orderkey % 40 = 5),
       |i AS (SELECT * FROM i0 UNION ALL
       |  SELECT o_orderkey + 90000000, qty + 2 FROM i0 WHERE o_orderkey % 80 = 5),
       |j AS (
       |  SELECT o.o_custkey, i.qty, o.price_c
       |  FROM o JOIN i USING (o_orderkey) WHERE o.price_c > 1000000)
       |SELECT o_custkey % 50 AS g, CAST(SUM(qty) AS BIGINT) AS total_qty,
       |       COUNT(*) AS n, CAST(SUM(price_c) AS BIGINT) AS total_c
       |FROM j GROUP BY g HAVING COUNT(*) >= 2 ORDER BY g""".stripMargin

  /** Round-10 INCREMENTAL SKETCH MAINTENANCE end-to-end: a
    * `KMV_DISTINCT` aggregate inside a materialized view — the
    * aggregate stage materializes the MERGEABLE k-minimum-values sketch
    * array per group (a combinable, idempotent, bit-exact fold:
    * k smallest distinct hashes of the union), so the approximate
    * distinct count refreshes O(delta) through the same rekey path as
    * SUM/COUNT; the visible column is the integer estimate, derived in
    * the post stage. At 100 TB this is "maintain approximate
    * distinct-user counts per segment under streaming ingest without
    * re-scanning the fact table" — the mergeable-sketch property
    * sketch libraries ship, as an engine fold. The DuckDB oracle
    * replays the final table state and computes the identical
    * estimator arithmetic. */
  def sqlMatviewSketch(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-mvk-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "lineitem")
      .where(col("l_orderkey") % 8 === 4)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_returnflag"))
      .createOrReplaceTempView("li_sk_src")
    run("CREATE TABLE li_sk PRIMARY KEY (l_orderkey, l_linenumber, l_partkey, l_suppkey) " +
      "AS SELECT * FROM li_sk_src")

    run("CREATE MATERIALIZED VIEW flag_parts AS " +
      "SELECT l_returnflag AS g, KMV_DISTINCT(l_partkey) AS approx_parts, " +
      "COUNT(*) AS n FROM li_sk GROUP BY g")

    // the delta introduces NOVEL part keys (+1e6), so the sketch itself
    // must move, not just the counts
    run("INSERT INTO li_sk " +
      "SELECT l_orderkey + 100000000, l_linenumber, l_partkey + 1000000, " +
      "l_suppkey, l_returnflag FROM li_sk WHERE l_orderkey % 32 = 4")
    run("REFRESH MATERIALIZED VIEW flag_parts")

    val Left(out) = run(
      "SELECT g, approx_parts, n FROM flag_parts ORDER BY g"): @unchecked
    out
  }

  val sqlMatviewSketchSql: String = {
    val k = 256
    val num = (k - 1).toLong * (1L << 52)
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag
       |  FROM lineitem WHERE l_orderkey % 8 = 4),
       |fin AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT l_orderkey + 100000000, l_linenumber, l_partkey + 1000000,
       |         l_suppkey, l_returnflag
       |  FROM base WHERE l_orderkey % 32 = 4),
       |h AS (
       |  SELECT DISTINCT l_returnflag AS g,
       |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13))::BIGINT AS h
       |  FROM fin),
       |r AS (
       |  SELECT g, h,
       |    row_number() OVER (PARTITION BY g ORDER BY h) AS rn,
       |    COUNT(*) OVER (PARTITION BY g) AS nd
       |  FROM h),
       |e AS (
       |  SELECT g,
       |    CAST(CASE WHEN nd < $k THEN nd ELSE $num // h END AS BIGINT) AS approx_parts
       |  FROM r WHERE rn = LEAST(nd, $k)),
       |n AS (SELECT l_returnflag AS g, COUNT(*) AS n FROM fin GROUP BY 1)
       |SELECT e.g, e.approx_parts, n.n
       |FROM e JOIN n USING (g) ORDER BY g""".stripMargin
  }

  /** Incremental approximate QUANTILES (round-11, KMV_DISTINCT's
    * sibling): a materialized view with two `HIST_QUANTILE` aggregates
    * (median + p90 over 1-unit quantity bins) plus COUNT — the mixed
    * fold lowers to a per-column composite, and the mergeable bin-count
    * sketches ride the same O(delta) combinable rekey path. The delta
    * SHIFTS the ingested quantities (+25 units), so the histograms —
    * not just the counts — must move under refresh. */
  def sqlMatviewQuantile(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-mvq-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    // 4-column PK: the synthetic lineitem is NOT unique on
    // (l_orderkey, l_linenumber) — same keying as sql_matview_sketch
    Tables(s, dir, "lineitem")
      .where(col("l_orderkey") % 8 === 6)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_returnflag"),
        cents(col("l_quantity")).as("qty_c"))
      .createOrReplaceTempView("li_hq_src")
    run("CREATE TABLE li_hq PRIMARY KEY (l_orderkey, l_linenumber, l_partkey, l_suppkey) " +
      "AS SELECT * FROM li_hq_src")

    run("CREATE MATERIALIZED VIEW flag_qty AS " +
      "SELECT l_returnflag AS g, " +
      "HIST_QUANTILE(qty_c div 100, 0.5) AS median_qty_units, " +
      "HIST_QUANTILE(qty_c div 100, 0.9) AS p90_qty_units, " +
      "COUNT(*) AS n FROM li_hq GROUP BY g")

    run("INSERT INTO li_hq " +
      "SELECT l_orderkey + 100000000, l_linenumber, l_partkey, l_suppkey, " +
      "l_returnflag, qty_c + 2500 FROM li_hq WHERE l_orderkey % 128 = 6")
    run("REFRESH MATERIALIZED VIEW flag_qty")

    val Left(out) = run(
      "SELECT g, median_qty_units, p90_qty_units, n FROM flag_qty " +
        "ORDER BY g"): @unchecked
    out
  }

  val sqlMatviewQuantileSql: String =
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
       |    ${centsSql("l_quantity")} AS qty_c
       |  FROM lineitem WHERE l_orderkey % 8 = 6),
       |fin AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT l_orderkey + 100000000, l_linenumber, l_partkey, l_suppkey,
       |    l_returnflag, qty_c + 2500
       |  FROM base WHERE l_orderkey % 128 = 6),
       |b AS (
       |  SELECT l_returnflag AS g, qty_c // 100 AS bin, COUNT(*) AS cnt
       |  FROM fin GROUP BY 1, 2),
       |w AS (
       |  SELECT g, bin,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS nn
       |  FROM b),
       |med AS (SELECT g, MIN(bin) AS median_qty_units FROM w
       |        WHERE cum * 10 >= nn * 5 GROUP BY 1),
       |p90 AS (SELECT g, MIN(bin) AS p90_qty_units FROM w
       |        WHERE cum * 10 >= nn * 9 GROUP BY 1),
       |cnt AS (SELECT l_returnflag AS g, COUNT(*) AS n FROM fin GROUP BY 1)
       |SELECT med.g, med.median_qty_units, p90.p90_qty_units, cnt.n
       |FROM med JOIN p90 USING (g) JOIN cnt USING (g)
       |ORDER BY g""".stripMargin

  /** Delete-aware O(delta) view maintenance (round-12, VERDICT r11 #2):
    * a DELETE-then-REFRESH over a SUM + COUNT(*) + HIST_QUANTILE view
    * takes the RETRACTION route — deleted contributions fold in
    * negated, groups whose remaining row count reaches 0 vanish —
    * instead of the O(groups × chunks) mini re-merge. The source table
    * is DDL-created with NOT NULL value columns (the declaration that
    * admits SUM retraction; a CTAS from parquet would erase it). The
    * flow is the production retention-purge shape: a rollup bucketed
    * by orderkey range, a contiguous range DELETE that kills whole
    * buckets (deterministic group death) and clips the edge ones, plus
    * a tail append — so the refresh touches O(delta) result regions at
    * ANY scale factor, asserted in-query along with the route counter.
    * (The group-SCATTERED delete shape is pinned in
    * IncrementalTransformSpec, where chunk counts are controlled.) */
  def sqlMatviewRetract(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-mvrt-q-"))
    val ops = new Ops(s, store, 2048)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 4 === 3)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("ord_rt_src")
    // explicit DDL, not CTAS: the catalog keeps the NOT NULL flags the
    // canonical chunk schema erases — what unlocks SUM retraction
    run("CREATE TABLE ord_rt (o_orderkey bigint PRIMARY KEY, " +
      "o_custkey bigint NOT NULL, price_c bigint NOT NULL)")
    run("INSERT INTO ord_rt SELECT * FROM ord_rt_src")

    run("CREATE MATERIALIZED VIEW bucket_rt AS " +
      "SELECT o_orderkey div 256 AS g, SUM(price_c) AS total_c, " +
      "COUNT(*) AS n, " +
      "HIST_QUANTILE(price_c div 100000, 0.5) AS median_price_bin " +
      "FROM ord_rt GROUP BY g")

    // mixed delta: a tail append plus the retention purge — a
    // contiguous orderkey range DELETE killing buckets 4..34 outright
    run("INSERT INTO ord_rt SELECT o_orderkey + 900000000, o_custkey, " +
      "price_c + 7 FROM ord_rt WHERE o_orderkey % 64 = 3")
    run("DELETE FROM ord_rt WHERE o_orderkey >= 1000 AND o_orderkey < 9000")
    def foldIns =
      graft.core.Ops.splicedFoldIns.get() + graft.core.Ops.mergedFoldIns.get()
    val retracts0 = foldIns
    store.stats.reset()
    run("REFRESH MATERIALIZED VIEW bucket_rt")
    val saves = store.stats.snapshot("chunkSaves")
    require(foldIns > retracts0,
      "DELETE-refresh did not take the retraction route")
    // the purge + append touch two contiguous result regions (stage +
    // post stage each rewrite a few runs); a mini re-merge or rebuild
    // rewrites the whole view — the bound is delta-shaped, not
    // view-shaped, so it holds at any SF
    require(saves <= 24,
      s"retraction refresh wrote $saves chunks — not O(delta)")

    val Left(out) = run(
      "SELECT g, total_c, n, median_price_bin FROM bucket_rt ORDER BY g"): @unchecked
    // deterministic group death: bucket 10 (orderkeys 2560..2815) lies
    // wholly inside the purge range and must have vanished
    require(out.where(col("g") === 10L).isEmpty,
      "fully-purged bucket 10 survived the retraction refresh")
    out
  }

  val sqlMatviewRetractSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 4 = 3),
       |ins AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT o_orderkey + 900000000, o_custkey, price_c + 7
       |  FROM base WHERE o_orderkey % 64 = 3),
       |fin AS (
       |  SELECT * FROM ins
       |  WHERE NOT (o_orderkey >= 1000 AND o_orderkey < 9000)),
       |b AS (
       |  SELECT o_orderkey // 256 AS g, price_c // 100000 AS bin,
       |    COUNT(*) AS cnt
       |  FROM fin GROUP BY 1, 2),
       |w AS (
       |  SELECT g, bin,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS nn
       |  FROM b),
       |med AS (SELECT g, MIN(bin) AS median_price_bin FROM w
       |        WHERE cum * 2 >= nn GROUP BY 1),
       |agg AS (SELECT o_orderkey // 256 AS g,
       |        CAST(SUM(price_c) AS BIGINT) AS total_c,
       |        COUNT(*) AS n FROM fin GROUP BY 1)
       |SELECT agg.g, agg.total_c, agg.n, med.median_price_bin
       |FROM agg JOIN med USING (g) ORDER BY g""".stripMargin

  /** DISTRIBUTED delete-aware view refresh at bench scale (round-13,
    * VERDICT r12 #1): a group-SCATTERED retention purge over lineitem —
    * ~20% of rows deleted across every source chunk, plus one whole
    * group killed outright and a small tail append — whose changed
    * chunks exceed the driver byte/row budget at sf0.1, so the
    * REFRESH's fold-in runs as jobs over scanned chunks (one net
    * shuffle, then a splice or mergeRetract's dirty-region liveness
    * filter) rather than declining to the mini re-merge. At sf0.01 the
    * same plan runs over driver rows. The query asserts that a fold-in
    * ran, into either sink. */
  def sqlMatviewRetractDist(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-mvrd-q-"))
    val ops = new Ops(s, store, 2048)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // the staging GROUP BY makes lk a real primary key with semantics
    // the oracle can mirror exactly (a bare PK load would silently
    // last-writer-win the duplicates)
    val src = Tables(s, dir, "lineitem")
      .where(col("l_orderkey") % 3 === 0)
      .select(
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("lk"),
        col("l_partkey"),
        cents(col("l_extendedprice")).as("price_c0"))
      .groupBy(col("lk"))
      .agg(max(col("l_partkey")).as("l_partkey"),
        sum(col("price_c0")).as("price_c"))
    src.createOrReplaceTempView("li_rd_src")
    // explicit DDL, not CTAS: the NOT NULL flags admit SUM retraction
    run("CREATE TABLE li_rd (lk bigint PRIMARY KEY, " +
      "l_partkey bigint NOT NULL, price_c bigint NOT NULL)")
    run("INSERT INTO li_rd SELECT * FROM li_rd_src")
    // 512 groups, each scattered across the whole key space — the shape
    // where the delete delta touches EVERY source chunk but the result
    // is a handful of regions (where distributed retraction wins)
    run("CREATE MATERIALIZED VIEW scatter_rd AS " +
      "SELECT lk % 512 AS g, SUM(price_c) AS total_c, COUNT(*) AS n " +
      "FROM li_rd GROUP BY g")

    // tail append + the purge: group 70 dies outright (deterministic
    // group death — populated at every SF by the slice: lk ≡ 70 mod 512
    // needs l_linenumber = 6 and l_orderkey ≡ 8 mod 64, which meets
    // ≡ 0 mod 3 at orderkey ≡ 72 mod 192; the 2⁴⁰ shift is a multiple
    // of 512, so appended rows keep their group and never resurrect
    // it — and it clears any live lk at ANY scale factor, where the
    // old 16 M shift collided with live primary keys past sf≈0.3 and
    // the INSERT's upsert semantics would diverge from the oracle's
    // UNION ALL, r13 advice), and a scattered 1-in-5 goes with it
    run("INSERT INTO li_rd SELECT lk + 1099511627776, l_partkey, " +
      "price_c + 3 FROM li_rd WHERE lk % 1024 = 5")
    run("DELETE FROM li_rd WHERE lk % 512 = 70 OR l_partkey % 5 = 2")
    def foldIns =
      graft.core.Ops.splicedFoldIns.get() + graft.core.Ops.mergedFoldIns.get()
    val foldIns0 = foldIns
    run("REFRESH MATERIALIZED VIEW scatter_rd")
    // a fold-in ran, into either sink: where its one plan runs (driver
    // rows or a scan at bench scale) is the leaves' choice
    require(foldIns > foldIns0,
      "DELETE-refresh did not take a retraction route")

    val Left(out) = run(
      "SELECT g, total_c, n FROM scatter_rd ORDER BY g"): @unchecked
    require(out.where(col("g") === 70L).isEmpty,
      "fully-purged group 70 survived the retraction refresh")
    out
  }

  val sqlMatviewRetractDistSql: String =
    s"""WITH raw AS (
       |  SELECT l_orderkey * 8 + l_linenumber AS lk, l_partkey,
       |         ${centsSql("l_extendedprice")} AS price_c0
       |  FROM lineitem WHERE l_orderkey % 3 = 0),
       |base AS (
       |  SELECT lk, MAX(l_partkey) AS l_partkey,
       |         CAST(SUM(price_c0) AS BIGINT) AS price_c
       |  FROM raw GROUP BY lk),
       |ins AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT lk + 1099511627776, l_partkey, price_c + 3
       |  FROM base WHERE lk % 1024 = 5),
       |fin AS (
       |  SELECT * FROM ins
       |  WHERE NOT (lk % 512 = 70 OR l_partkey % 5 = 2))
       |SELECT lk % 512 AS g, CAST(SUM(price_c) AS BIGINT) AS total_c,
       |       COUNT(*) AS n
       |FROM fin GROUP BY 1 ORDER BY g""".stripMargin

  /** Secondary index end-to-end (round-5 CREATE INDEX, SqlIndex): CTAS
    * binds orders to a pk-keyed table, CREATE INDEX re-keys it by
    * (o_custkey, o_orderkey) — a key-only index table maintained
    * O(delta) by the memoized rekey — then DML lands AFTER the index is
    * built, and the final equality SELECT goes through the index-probe
    * rewrite (refresh-by-memo keeps it correct over the DML). The
    * DuckDB oracle computes the same final state directly; the rewrite
    * can only prune IO, never change rows. */
  def sqlIndex(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-idx-q-"))
    val ops = new Ops(s, store, 2048)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 2 === 1) // same slice discipline as sql_txn
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_idx_src")
    run("CREATE TABLE orders_ix PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_idx_src")
    run("CREATE INDEX orders_ix_cust ON orders_ix (o_custkey)")
    // DML after the index exists: probe-time refresh must see all of it
    run("INSERT INTO orders_ix SELECT o_orderkey + 80000000, 1, price_c + 5 " +
      "FROM orders_ix WHERE o_custkey = 4")
    run("DELETE FROM orders_ix WHERE o_custkey = 1 AND o_orderkey % 4 = 1")
    // IN-list probe: per-value index reads union in ONE scan under the
    // same probe cap (round-6 extension of the equality probe)
    val Left(out) = run(
      "SELECT o_orderkey, o_custkey, price_c FROM orders_ix " +
        "WHERE o_custkey IN (1, 4) ORDER BY o_orderkey"): @unchecked
    out
  }

  val sqlIndexSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 2 = 1),
       |ins AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT o_orderkey + 80000000, 1, price_c + 5 FROM base WHERE o_custkey = 4),
       |fin AS (
       |  SELECT * FROM ins WHERE NOT (o_custkey = 1 AND o_orderkey % 4 = 1))
       |SELECT o_orderkey, o_custkey, price_c FROM fin WHERE o_custkey IN (1, 4)
       |ORDER BY o_orderkey""".stripMargin

  /** Round-6 zero-job point-DML triad end-to-end: CTAS, then a burst of
    * POINT statements — VALUES inserts, full-PK / IN-list UPDATEs and
    * DELETEs — each of which runs entirely on the driver (no Spark job:
    * owner-chunk reads, LocalRelation SET evaluation, chunk-run splice;
    * the route-matrix capstone pins hash equality with the legacy
    * paths). What BENCH measures here is the interactive point-DML
    * latency of the engine. */
  def sqlPointDml(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-pdml-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .where(col("o_orderkey") % 8 === 7)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_p_src")
    run("CREATE TABLE pt PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_p_src")

    // the point burst: each statement is a zero-job driver patch
    run("INSERT INTO pt VALUES (90000001, 1, 111), (90000002, 2, 222)")
    run("UPDATE pt SET price_c = price_c + 5 WHERE o_orderkey = 90000001")
    run("UPDATE pt SET o_custkey = 9 WHERE o_orderkey IN (90000002, 15)")
    run("DELETE FROM pt WHERE o_orderkey = 23")
    run("DELETE FROM pt WHERE o_orderkey IN (90000001, 31)")
    run("UPDATE pt SET price_c = 0 WHERE o_orderkey = 123456789") // absent: no-op

    val Left(out) = run(
      "SELECT o_custkey % 5 AS g, COUNT(*) AS n, SUM(price_c) AS total_c, " +
        "MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k " +
        "FROM pt GROUP BY o_custkey % 5 ORDER BY g"): @unchecked
    out
  }

  val sqlPointDmlSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_c
       |  FROM orders WHERE o_orderkey % 8 = 7),
       |ins AS (
       |  SELECT * FROM base
       |  UNION ALL SELECT 90000001, 1, 111
       |  UNION ALL SELECT 90000002, 2, 222),
       |u1 AS (
       |  SELECT o_orderkey, o_custkey,
       |         CASE WHEN o_orderkey = 90000001 THEN price_c + 5 ELSE price_c END AS price_c
       |  FROM ins),
       |u2 AS (
       |  SELECT o_orderkey,
       |         CASE WHEN o_orderkey IN (90000002, 15) THEN 9 ELSE o_custkey END AS o_custkey,
       |         price_c
       |  FROM u1),
       |fin AS (
       |  SELECT * FROM u2
       |  WHERE o_orderkey <> 23 AND o_orderkey NOT IN (90000001, 31))
       |SELECT o_custkey % 5 AS g, COUNT(*) AS n, CAST(SUM(price_c) AS BIGINT) AS total_c,
       |       MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k
       |FROM fin GROUP BY o_custkey % 5 ORDER BY g""".stripMargin

  /** Metadata-only aggregates end-to-end (core.MetaAgg): CTAS binds
    * orders to a graft table, then one global COUNT/MIN/MAX statement
    * over it COLLAPSES AT PLAN TIME to the chunk-metadata answer — the
    * query asserts the collapse (LocalRelation, zero chunk files
    * opened), so what BENCH measures is the metadata read path. At
    * 100 TB this is the difference between a million-file footer crawl
    * and a driver-side fold over the chunk list. The DuckDB oracle
    * computes the same aggregates by scanning. */
  def sqlMetaAgg(s: SparkSession, dir: String): DataFrame = {
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-metaagg-q-"))
    val ops = new Ops(s, store, 8192)
    val cat = new Catalog(store)
    def run(sql: String) = GraftSql.execute(s, ops, cat, sql)

    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_c"),
        nullif(col("o_custkey") % 7, lit(0)).as("nc"))
      .createOrReplaceTempView("orders_ma_src")
    run("CREATE TABLE orders_ma PRIMARY KEY (o_orderkey) AS SELECT * FROM orders_ma_src")
    val Left(out) = run(
      "SELECT g.*, r.n_range FROM (" +
        "SELECT COUNT(*) AS n_rows, COUNT(nc) AS n_nc, " +
        "MIN(o_custkey) AS min_c, MAX(o_custkey) AS max_c, " +
        "MIN(price_c) AS min_p, MAX(price_c) AS max_p, " +
        "SUM(price_c) AS sum_p, SUM(nc) AS sum_nc, " +
        "AVG(price_c) AS avg_p, AVG(nc) AS avg_nc, " +
        "MIN(o_orderstatus) AS min_s, MAX(o_orderstatus) AS max_s, " +
        "MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k " +
        "FROM orders_ma) g CROSS JOIN (" +
        "SELECT COUNT(*) AS n_range FROM orders_ma " +
        "WHERE o_orderkey >= 1000 AND o_orderkey <= 40000) r"): @unchecked
    // the global block must have collapsed to metadata and the range
    // count must scan only EDGE chunks — no graft relation in the final
    // plan may hold more than a handful of chunk files
    out.queryExecution.optimizedPlan.foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location match {
              case g: graft.core.GraftFileIndex =>
                require(g.tableMeta.chunks.length <= 4,
                  s"metadata aggregate left a ${g.tableMeta.chunks.length}" +
                    "-chunk scan in the plan — the rewrite did not fire")
              case _ =>
            }
          case _ =>
        }
      case _ =>
    }
    out
  }

  val sqlMetaAggSql: String =
    s"""WITH src AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |         ${centsSql("o_totalprice")} AS price_c,
       |         NULLIF(o_custkey % 7, 0) AS nc
       |  FROM orders)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(COUNT(nc) AS BIGINT) AS n_nc,
       |       MIN(o_custkey) AS min_c, MAX(o_custkey) AS max_c,
       |       MIN(price_c) AS min_p, MAX(price_c) AS max_p,
       |       CAST(SUM(price_c) AS BIGINT) AS sum_p,
       |       CAST(SUM(nc) AS BIGINT) AS sum_nc,
       |       CAST(SUM(price_c) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_p,
       |       CAST(SUM(nc) AS BIGINT) / CAST(COUNT(nc) AS DOUBLE) AS avg_nc,
       |       MIN(o_orderstatus) AS min_s, MAX(o_orderstatus) AS max_s,
       |       MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM src
       |        WHERE o_orderkey >= 1000 AND o_orderkey <= 40000) AS n_range
       |FROM src""".stripMargin

  val queries: Map[String, QFn] = Map(
    "sql_meta_agg" -> (sqlMetaAgg _),
    "sql_point_dml" -> (sqlPointDml _),
    "sql_matview" -> (sqlMatview _),
    "sql_matview_where" -> (sqlMatviewWhere _),
    "sql_matview_avg" -> (sqlMatviewAvg _),
    "sql_matview_join" -> (sqlMatviewJoin _),
    "sql_matview_join_agg" -> (sqlMatviewJoinAgg _),
    "sql_matview_sketch" -> (sqlMatviewSketch _),
    "sql_matview_quantile" -> (sqlMatviewQuantile _),
    "sql_matview_retract" -> (sqlMatviewRetract _),
    "sql_matview_retract_dist" -> (sqlMatviewRetractDist _),
    "sql_dml" -> (sqlDml _),
    "sql_merge" -> (sqlMerge _),
    "sql_history" -> (sqlHistory _),
    "cdc_apply" -> (cdcApply _),
    "sql_changes" -> (sqlChanges _),
    "sql_txn" -> (sqlTxn _),
    "sql_index" -> (sqlIndex _))
  val oracles: Map[String, String] = Map(
    "sql_meta_agg" -> sqlMetaAggSql,
    "sql_point_dml" -> sqlPointDmlSql,
    "sql_matview" -> sqlMatviewSql,
    "sql_matview_where" -> sqlMatviewWhereSql,
    "sql_matview_avg" -> sqlMatviewAvgSql,
    "sql_matview_join" -> sqlMatviewJoinSql,
    "sql_matview_join_agg" -> sqlMatviewJoinAggSql,
    "sql_matview_sketch" -> sqlMatviewSketchSql,
    "sql_matview_quantile" -> sqlMatviewQuantileSql,
    "sql_matview_retract" -> sqlMatviewRetractSql,
    "sql_matview_retract_dist" -> sqlMatviewRetractDistSql,
    "sql_dml" -> sqlDmlSql,
    "sql_merge" -> sqlMergeSql,
    "sql_history" -> sqlHistorySql,
    "cdc_apply" -> cdcApplySql,
    "sql_changes" -> sqlChangesSql,
    "sql_txn" -> sqlTxnSql,
    "sql_index" -> sqlIndexSql)
}
