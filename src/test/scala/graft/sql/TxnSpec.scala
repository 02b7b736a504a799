package graft.sql

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core._

/** SQL transactions: BEGIN/COMMIT/ROLLBACK over the git-like root chain
  * (core.Txn). The model widens the reference's statement-per-root
  * (Repo.hs:120-130) to transaction-per-root: statements run on a
  * private branch, COMMIT squash-publishes ONE version under an
  * optimistic CAS, ROLLBACK discards the branch. */
class TxnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newSession(): (SqlSession, Ops, Catalog) = {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-txn-"))
    val ops = new Ops(spark, store, 64)
    val cat = new Catalog(store)
    (new SqlSession(spark, ops, cat), ops, cat)
  }

  private def count(ops: Ops, cat: Catalog, t: String): Long =
    cat.get(t).map(e => ops.scan(e).count()).getOrElse(-1L)

  test("read-your-writes inside, snapshot isolation outside, COMMIT publishes once") {
    val (sess, ops, cat) = newSession()
    sess.execute("CREATE TABLE kv (k bigint PRIMARY KEY, v text NOT NULL)")
    sess.execute("INSERT INTO kv VALUES (1, 'a'), (2, 'b')")
    val preTxnRoot = ops.store.currentRootHash.get

    sess.execute("BEGIN")
    assert(sess.inTransaction)
    sess.execute("INSERT INTO kv VALUES (3, 'c'), (4, 'd')")
    sess.execute("UPDATE kv SET v = 'B' WHERE k = 2")
    sess.execute("CREATE TABLE other (id bigint PRIMARY KEY)")

    // inside: the session's branch sees its own writes
    val Left(inside) = sess.execute("SELECT k, v FROM kv ORDER BY k"): @unchecked
    assert(inside.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))

    // outside: the shared catalog still shows the pre-transaction state
    assert(ops.store.currentRootHash.contains(preTxnRoot))
    assert(count(ops, cat, "kv") == 2)
    assert(cat.get("other").isEmpty)

    val Right(published) = sess.execute("COMMIT"): @unchecked
    assert(!sess.inTransaction)
    assert(ops.store.currentRootHash.contains(published))
    assert(count(ops, cat, "kv") == 4)
    assert(cat.get("other").isDefined)
    // squash: ONE new version whose parent is the transaction's start
    assert(cat.parentOf(published).contains(preTxnRoot))
  }

  test("ROLLBACK discards every staged statement") {
    val (sess, ops, cat) = newSession()
    sess.execute("CREATE TABLE kv (k bigint PRIMARY KEY, v bigint NOT NULL)")
    sess.execute("INSERT INTO kv VALUES (1, 10)")
    val before = ops.store.currentRootHash.get

    sess.execute("BEGIN")
    sess.execute("DELETE FROM kv WHERE k = 1")
    sess.execute("INSERT INTO kv VALUES (2, 20)")
    sess.execute("DROP TABLE kv")
    sess.execute("ROLLBACK")
    assert(!sess.inTransaction)

    assert(ops.store.currentRootHash.contains(before))
    assert(count(ops, cat, "kv") == 1)
  }

  test("optimistic CAS: a concurrent writer forces TxnConflictException, nothing published") {
    val (sess, ops, cat) = newSession()
    sess.execute("CREATE TABLE kv (k bigint PRIMARY KEY, v bigint NOT NULL)")
    sess.execute("INSERT INTO kv VALUES (1, 10)")

    sess.execute("BEGIN")
    sess.execute("UPDATE kv SET v = 99 WHERE k = 1")

    // another writer advances the SHARED store mid-transaction
    val other = new SqlSession(spark, ops, cat)
    other.execute("INSERT INTO kv VALUES (7, 70)")
    val afterOther = ops.store.currentRootHash.get

    assertThrows[TxnConflictException](sess.execute("COMMIT"))
    assert(!sess.inTransaction) // the branch is dead; retry = replay
    assert(ops.store.currentRootHash.contains(afterOther))
    import spark.implicits._
    val rows = ops.scan(cat.get("kv").get).as[(Long, Long)].collect().toSeq.sorted
    assert(rows == Seq((1L, 10L), (7L, 70L))) // the txn's UPDATE never landed
  }

  test("empty transaction commits as a no-op; BEGIN nesting rejected") {
    val (sess, ops, _) = newSession()
    sess.execute("CREATE TABLE t (k bigint PRIMARY KEY)")
    val root = ops.store.currentRootHash.get
    sess.execute("BEGIN")
    assertThrows[GraftSql.SqlException](sess.execute("BEGIN"))
    val Right(r) = sess.execute("COMMIT"): @unchecked
    assert(r == root && ops.store.currentRootHash.contains(root))
    assertThrows[GraftSql.SqlException](sess.execute("COMMIT"))
    assertThrows[GraftSql.SqlException](sess.execute("ROLLBACK"))
  }

  test("aborted transaction leaves only unreferenced objects (GC cleans them)") {
    val (sess, ops, cat) = newSession()
    sess.execute("CREATE TABLE kv (k bigint PRIMARY KEY, v bigint NOT NULL)")
    sess.execute("INSERT INTO kv VALUES (1, 10), (2, 20)")
    val keepRoot = ops.store.currentRootHash.get
    val chunksBefore = ops.store.listChunks.toSet

    sess.execute("BEGIN")
    sess.execute("INSERT INTO kv SELECT k + 100, v * 2 FROM kv")
    sess.execute("ROLLBACK")
    assert(ops.store.listChunks.toSet.size > chunksBefore.size) // staged orphans exist

    Gc.run(ops.store, Seq(keepRoot))
    assert(ops.store.listChunks.toSet == chunksBefore) // orphans swept, live data intact
    assert(count(ops, cat, "kv") == 2)
  }

  test("CREATE INDEX inside a transaction: private until COMMIT, probes on the branch") {
    val (sess, ops, cat) = newSession()
    sess.execute("CREATE TABLE t (id bigint PRIMARY KEY, grp bigint NOT NULL)")
    import spark.implicits._
    (0L until 500L).map(i => (i, i % 7)).toDF("id", "grp")
      .createOrReplaceTempView("txn_idx_seed")
    sess.execute("INSERT INTO t SELECT * FROM txn_idx_seed")
    sess.execute("BEGIN")
    sess.execute("CREATE INDEX t_grp ON t (grp)")
    sess.execute("INSERT INTO t VALUES (1000, 3)")
    // the indexed SELECT runs against the branch and sees the staged row
    val Left(df) = sess.execute(
      "SELECT count(*) AS n FROM t WHERE grp = 3"): @unchecked
    assert(df.collect().head.getLong(0) ==
      (0L until 500L).count(_ % 7 == 3) + 1)
    // outside: no index, no staged row
    assert(!cat.viewDefs.contains("t_grp"))
    assert(ops.scan(cat.get("t").get).count() == 500)
    sess.execute("COMMIT")
    assert(cat.viewDefs.contains("t_grp") && cat.root.contains("t_grp"))
    assert(ops.scan(cat.get("t").get).count() == 501)
  }

  test("withTransaction replays the block after a CAS conflict and wins on retry") {
    val (sess, ops, cat) = newSession()
    sess.execute("CREATE TABLE acct (id bigint PRIMARY KEY, bal bigint NOT NULL)")
    sess.execute("INSERT INTO acct VALUES (1, 100), (2, 100)")
    val other = new SqlSession(spark, ops, cat)
    var attempts = 0
    val root = sess.withTransaction() { s =>
      attempts += 1
      // the body RE-READS balance on each attempt — a conditional
      // transfer decided from the fresh branch state
      val Left(df) = s.execute("SELECT bal FROM acct WHERE id = 1"): @unchecked
      val bal = df.collect().head.getLong(0)
      if (attempts == 1) // a concurrent writer races the first attempt
        other.execute("UPDATE acct SET bal = bal + 7 WHERE id = 1")
      s.execute(s"UPDATE acct SET bal = ${bal - 50} WHERE id = 1")
      s.execute("UPDATE acct SET bal = bal + 50 WHERE id = 2")
    }
    assert(attempts == 2, s"conflict must force one replay, got $attempts")
    assert(ops.store.currentRootHash.contains(root))
    import spark.implicits._
    val bals = ops.scan(cat.get("acct").get).as[(Long, Long)].collect().toMap
    // the retry observed the +7 write: 107 - 50, and the credit applied once
    assert(bals == Map(1L -> 57L, 2L -> 150L), s"got $bals")
  }

  test("stress: concurrent withTransaction increments serialize under CAS retry") {
    // N threads x K optimistic-retry transactions against ONE shared
    // store — every increment must survive (no lost updates) and every
    // commit mints exactly one root. Exercises the round-8 engine-
    // session isolation under REAL cross-thread engine activity: each
    // thread runs its own SqlSession over the shared catalog the way a
    // multi-writer deployment would.
    val store = new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-txn-stress-"))
    val ops = new Ops(spark, store, 64)
    val cat = new Catalog(store)
    new SqlSession(spark, ops, cat)
      .execute("CREATE TABLE ctr (id bigint PRIMARY KEY, n bigint NOT NULL)")
    new SqlSession(spark, ops, cat)
      .execute("INSERT INTO ctr VALUES (1, 0)")
    val rootsBefore = cat.log(Int.MaxValue).length
    val threads = 4; val perThread = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val pool = (0 until threads).map { _ =>
      new Thread(() =>
        try {
          val sess = new SqlSession(spark, ops, cat)
          (0 until perThread).foreach { _ =>
            sess.withTransaction(maxRetries = 64) { s =>
              val Left(df) =
                s.execute("SELECT n FROM ctr WHERE id = 1"): @unchecked
              val n = df.collect().head.getLong(0)
              s.execute(s"UPDATE ctr SET n = ${n + 1} WHERE id = 1")
            }
          }
        } catch { case t: Throwable => errs.add(t): Unit })
    }
    pool.foreach(_.start()); pool.foreach(_.join(300000))
    assert(errs.isEmpty, s"concurrent transactions failed: ${errs.peek()}")
    val fin = ops.scan(cat.get("ctr").get).collect()
    assert(fin.length == 1 && fin.head.getLong(1) == threads * perThread,
      s"lost updates: ${fin.mkString(",")}")
    // every committed transaction minted exactly one root
    assert(cat.log(Int.MaxValue).length == rootsBefore + threads * perThread)
  }

  test("concurrent statements on one SparkSession each read their own snapshot") {
    // every statement registers the tables it names as temp views of the
    // SparkSession, which all its threads share: a statement of another
    // thread must not swap a view between its registration and its read
    val (sess, ops, cat) = newSession()
    sess.execute("CREATE TABLE snap (id bigint PRIMARY KEY, n bigint NOT NULL)")
    sess.execute("INSERT INTO snap VALUES (1, 0)")
    val stale = new SqlSession(spark, ops, cat)
    stale.execute("BEGIN")
    sess.execute("UPDATE snap SET n = 1 WHERE id = 1")
    val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val readers = Seq(stale -> 0L, sess -> 1L).map { case (s, want) =>
      new Thread(() =>
        try (0 until 150).foreach { _ =>
          val Left(df) = s.execute("SELECT n FROM snap WHERE id = 1"): @unchecked
          val got = df.collect().head.getLong(0)
          if (got != want) wrong.add(s"read $got, wanted $want"): Unit
        } catch { case t: Throwable => wrong.add(t.toString): Unit })
    }
    readers.foreach(_.start()); readers.foreach(_.join(300000))
    stale.execute("ROLLBACK")
    assert(wrong.isEmpty, s"${wrong.size} reads saw another statement's " +
      s"snapshot: ${wrong.peek()}")
  }

  test("materialized view defined inside a transaction survives the commit") {
    val (sess, ops, cat) = newSession()
    sess.execute("CREATE TABLE src (k bigint PRIMARY KEY, v bigint NOT NULL)")
    sess.execute("INSERT INTO src VALUES (1, 5), (2, 6), (3, 7)")
    sess.execute("BEGIN")
    sess.execute("CREATE MATERIALIZED VIEW mv AS SELECT k, v * 10 AS v10 FROM src")
    sess.execute("COMMIT")
    assert(cat.viewDefs.contains("mv"))
    val Left(df) = sess.execute("SELECT k, v10 FROM mv ORDER BY k"): @unchecked
    assert(df.collect().map(_.getLong(1)).toSeq == Seq(50L, 60L, 70L))
  }
}
