package perfbench

import graft.core.{Catalog, Ops, TableRef}
import graft.sql.SqlSession

/** `refresh`: small transactional writes to a store with four
  * materialized views, each batch followed by `REFRESH ALL`.
  *
  * The views cover the four refresh routes: a key-preserving
  * WHERE/projection, a re-keying SUM/COUNT, an AVG over a table that
  * batches delete from (retraction), and a keyed join of a table with
  * another view. See [[batch]] for what one batch does. */
final class RefreshWorkload(nOrders: Long, chunkRows: Long) extends Workload {
  import RefreshWorkload._
  private var src: Data.Source = _
  private var store: StoreHandle = _
  private var eng: (Ops, Catalog, SqlSession) = _
  private val insertedOrders = scala.collection.mutable.Set.empty[Long]
  private val deletedOrders = scala.collection.mutable.Set.empty[Long]

  def prepare(r: Run): Unit =
    src = Data.write(r.spark, r.seed, nOrders, r.tmp.resolve("src").toString)

  def setup(r: Run): Unit = {
    if (store != null) r.dropStore(store)
    insertedOrders.clear(); deletedOrders.clear()
    store = r.newStore("refresh")
    eng = r.engine(store, chunkRows)
    r.spark.read.parquet(src.lineitemPath).createOrReplaceTempView("src_lineitem")
    r.spark.read.parquet(src.ordersPath).createOrReplaceTempView("src_orders")
    createBase(r, eng._3, "src_lineitem", "src_orders")
    Views.foreach { case (v, q) => r.sql(eng._3, "create_mv", s"CREATE MATERIALIZED VIEW $v AS $q") }
  }

  /** One clustered batch. */
  def warmup(r: Run): Unit = batch(r, 1000000)

  def retrace(r: Run): Unit = eng = r.engine(store, chunkRows)

  def step(r: Run, i: Int): Unit = {
    val st = store.fs.stats
    val (h0, m0) = (st.memoHits.get, st.memoMisses.get)
    val pattern = patternOf(i)
    val (li, ord) = statementsOf(i)
    r.op("batch", s"$li-lineitem+$ord-orders/$pattern")(batch(r, i))
    val hits = st.memoHits.get - h0; val misses = st.memoMisses.get - m0
    r.memo(pattern, hits, misses)
    if (r.ops.count(_.kind == "batch") == 1 && misses == 0) {
      Console.err.println("[perfbench] first timed batch had no memo misses: the store was reused")
      r.failedOps += 1
    }
    ()
  }

  /** One batch: BEGIN; one DML statement on lineitem and one on orders;
    * COMMIT; REFRESH ALL — so every batch changes the sources of all four
    * views. Over four batches the lineitem statement alternates INSERT
    * and UPDATE and the orders statement DELETE and INSERT, in all four
    * pairings; one batch in four is scattered (uniform keys), the others
    * clustered (one contiguous key range). Keys and values are a pure
    * function of (seed, i) and the keys earlier batches inserted or
    * deleted. */
  private def batch(r: Run, i: Int): Unit = {
    val rnd = Run.rng(r.seed, 1000003L, i)
    val sess = eng._3
    val rows = sizeOf(i, src.lineitems)
    val clustered = patternOf(i) == "clustered"
    // order indexes (key / KeyStep) a statement touches
    def orderIdx(n: Int): Seq[Long] =
      if (clustered) {
        val start = (rnd.nextDouble() * (src.orders - n - 1)).toLong
        (start until start + n).toSeq
      } else Seq.fill(n)((rnd.nextDouble() * src.orders).toLong).distinct.sorted
    def keyPred(col: String, idx: Seq[Long]): String =
      if (clustered) s"$col >= ${idx.head * Data.KeyStep} AND $col < ${(idx.last + 1) * Data.KeyStep}"
      else s"$col IN (${idx.map(_ * Data.KeyStep).mkString(", ")})"
    // lineitem has about four rows per order
    val perOrder = math.max(1, rows / 4)
    val (liStmt, ordStmt) = statementsOf(i)

    r.sql(sess, "begin", "BEGIN")
    if (liStmt == "insert") {
      val vals = orderIdx(rows).map { o =>
        s"(${o * Data.KeyStep}, ${100 + i}, ${1 + rnd.nextInt(20000)}, ${1 + rnd.nextInt(1000)}, " +
          s"${1 + rnd.nextInt(50)}, ${1000 + rnd.nextInt(10000000)}, ${rnd.nextInt(11)}, 'N', 'O', " +
          s"${8000 + rnd.nextInt(2520)})"
      }
      r.sql(sess, "insert", s"INSERT INTO lineitem VALUES ${vals.mkString(", ")}")
    } else
      r.sql(sess, "update", "UPDATE lineitem SET l_quantity = l_quantity + 1 WHERE " +
        keyPred("l_orderkey", orderIdx(perOrder)))
    if (ordStmt == "delete") {
      val del = orderIdx(perOrder).filterNot(deletedOrders.contains)
      deletedOrders ++= del
      if (del.nonEmpty) r.sql(sess, "delete", s"DELETE FROM orders WHERE ${keyPred("o_orderkey", del)}")
    } else {
      val keys = orderIdx(perOrder).map(o => o * Data.KeyStep + 1 + (i % 7))
        .filterNot(insertedOrders.contains)
      insertedOrders ++= keys
      val vals = keys.map { k =>
        s"($k, ${1 + rnd.nextInt((src.orders / 10 + 1).toInt)}, '${Data.Statuses(rnd.nextInt(3))}', " +
          s"${100000 + rnd.nextInt(40000000)}, ${8000 + rnd.nextInt(2400)})"
      }
      if (vals.nonEmpty) r.sql(sess, "insert", s"INSERT INTO orders VALUES ${vals.mkString(", ")}")
    }
    r.sql(sess, "commit", "COMMIT")
    r.sql(sess, "refresh", "REFRESH ALL")
    ()
  }

  def finish(r: Run): Unit = {
    // cold rebuild of every view over the final base, in a fresh store
    val (_, cat, _) = eng
    val fresh = r.newStore("rebuild")
    val (_, _, fs) = r.engine(fresh, chunkRows)
    Seq("lineitem", "orders").foreach { t =>
      eng._1.scan(cat.get(t).get).createOrReplaceTempView(s"final_$t")
    }
    createBase(r, fs, "final_lineitem", "final_orders")
    val fcat = new Catalog(fresh.fs)
    val (_, rebuildS) = r.timed {
      Views.foreach { case (v, q) => r.sql(fs, "create_mv", s"CREATE MATERIALIZED VIEW $v AS $q") }
    }
    (Seq("lineitem", "orders") ++ Views.map(_._1)).foreach { t =>
      r.check(s"refresh.$t.hash", fcat.get(t).map(_.hash).getOrElse("missing"),
        cat.get(t).map(_.hash).getOrElse("missing"))
    }
    r.dropStore(fresh)
    val batches = r.ops.filter(o => o.kind == "batch" && !o.traced).toSeq
    def span(o: OpRec, k: String) = o.calls.filter(_._1 == k).map(_._2)
    val commitS = batches.map(o => (span(o, "sql.commit").head.endNs - span(o, "sql.begin").head.startNs) / 1e9)
    val refreshS = Run.median(batches.map(o => span(o, "sql.refresh").head.durNs / 1e9))
    r.detail("fresh_p50_s") = (Run.median(batches.map(_.ms / 1000)), "s")
    Run.tail(batches.map(_.ms / 1000)).foreach { case (p, v) => r.detail(s"fresh_p${p}_s") = (v, "s") }
    r.detail("commit_p50_s") = (Run.median(commitS), "s")
    r.detail("refresh_p50_s") = (refreshS, "s")
    r.detail("rebuild_s") = (rebuildS, "s")
    // the speedup's base is the cold rebuild of the same views
    r.detail("speedup.rebuild_over_refresh") = (rebuildS / refreshS, "ratio")
    val live = cat.root.values.toSeq.flatMap(e => store.fs.loadTableMeta(e.tableHash).chunks)
      .map(_.hash).distinct.map(h => java.nio.file.Files.size(java.nio.file.Paths.get(store.fs.chunkPath(h)))).sum
    r.detail("space_amp") = (store.bytesOnDisk.toDouble / live, "count")
    r.notes("tables") = cat.root.toSeq.sortBy(_._1).map { case (t, e) => s"$t=${e.tableHash}" }.mkString(",")
    ()
  }

  def probeTables: Seq[(StoreHandle, TableRef)] = {
    val cat = new Catalog(store.fs)
    Seq("lineitem", "orders").flatMap(t => cat.get(t).map(store -> _))
  }
  def mainStore: StoreHandle = store

  private def createBase(r: Run, sess: SqlSession, li: String, ord: String): Unit = {
    r.sql(sess, "ctas", s"CREATE TABLE lineitem PRIMARY KEY (l_orderkey, l_linenumber) AS SELECT * FROM $li")
    // explicit DDL for orders: the catalog keeps NOT NULL, which lets the
    // AVG view retract deleted rows instead of recomputing their groups
    r.sql(sess, "create_table", "CREATE TABLE orders (o_orderkey bigint PRIMARY KEY, " +
      "o_custkey bigint NOT NULL, o_status text NOT NULL, o_price_c bigint NOT NULL, " +
      "o_orderdate int NOT NULL)")
    r.sql(sess, "insert", s"INSERT INTO orders SELECT * FROM $ord")
    ()
  }
}

object RefreshWorkload {
  /** (lineitem statement, orders statement) of batch i. */
  def statementsOf(i: Int): (String, String) =
    Seq("insert" -> "delete", "update" -> "insert", "insert" -> "insert", "update" -> "delete")(i % 4)
  /** Scattered batches cost more than clustered ones; with half of each
    * the median batch would sit on the edge between the two and move
    * with the batch count. One in four is scattered, so the median is a
    * clustered batch; the position rotates over the statement pairings
    * and sizes from one cycle of four to the next. */
  def patternOf(i: Int): String = if ((i + 3 * (i / 4)) % 4 == 3) "scattered" else "clustered"
  /** Lineitem rows a batch touches: 1 row, 1/16, 1/4 and all of 1% of
    * lineitem. The sizes follow a fixed schedule, not the seed, that
    * puts every size and every statement pairing in each cycle of four
    * batches — so runs of a few batches all have the same mix. */
  def sizeOf(i: Int, lineitems: Long): Int = {
    val onePct = lineitems * 0.01
    math.max(1, (Seq(1.0 / onePct, 1.0 / 16, 0.25, 1.0)((i + 2 * (i / 4)) % 4) * onePct).toInt)
  }
  val Views: Seq[(String, String)] = Seq(
    "v_open" -> ("SELECT l_orderkey, l_linenumber, l_quantity, l_price_c " +
      "FROM lineitem WHERE l_linestatus = 'O'"),
    "v_order_qty" -> ("SELECT l_orderkey AS o_orderkey, SUM(l_quantity) AS qty, " +
      "COUNT(*) AS n FROM lineitem GROUP BY o_orderkey"),
    "v_cust_avg" -> ("SELECT o_custkey % 200 AS cg, AVG(o_price_c) AS mean_c, " +
      "COUNT(*) AS n FROM orders GROUP BY cg"),
    "v_order_join" -> "SELECT * FROM orders INNER JOIN v_order_qty USING (o_orderkey)")
}
