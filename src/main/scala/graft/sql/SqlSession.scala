package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Catalog, Ops, Txn, TxnStore}

/** Stateful SQL session: [[GraftSql.execute]] plus transaction control.
  *
  * `BEGIN [TRANSACTION]` opens a private branch of the root pointer
  * (core.TxnStore); every following statement — DML, DDL, materialized
  * views, MERGE, even CHECKOUT — runs against the branch and is
  * invisible outside the session. `COMMIT` publishes the accumulated
  * state as ONE new catalog version via an optimistic compare-and-set
  * (core.Txn.commit); `ROLLBACK` discards the branch. Reads inside the
  * transaction see its own writes (read-your-writes); reads outside see
  * the pre-transaction version (snapshot isolation via content
  * addressing — nothing shared mutates until the commit's pointer swap).
  *
  * The reference's repo model executes one statement per root
  * (/root/reference/messdb-repo/src/MessDB/Repo.hs:120-130); this is the
  * same model with the statement granularity widened to a statement
  * LIST, the natural extension of `Catalog.putAll`'s atomic multi-table
  * commit to arbitrary statement sequences.
  */
final class SqlSession(spark: SparkSession, baseOps: Ops, val catalog: Catalog) {

  private var txn: Option[(TxnStore, Ops, Catalog)] = None

  def inTransaction: Boolean = txn.isDefined

  def execute(sqlText: String): Either[DataFrame, String] = {
    val t = sqlText.trim.stripSuffix(";").trim
    // transaction control runs here, not in GraftSql.execute — time it
    // for the same per-statement probe (COMMIT does real work: squash +
    // root CAS; the sql_txn floor analysis needs it visible)
    def probed(body: => Either[DataFrame, String]): Either[DataFrame, String] =
      GraftSql.stmtProbe match {
        case None => body
        case Some(p) =>
          val t0 = System.nanoTime()
          try body finally p(t, (System.nanoTime() - t0) / 1e9)
      }
    t.toLowerCase match {
      case "begin" | "begin transaction" | "start transaction" => probed {
        if (txn.isDefined)
          throw new GraftSql.SqlException("transaction already open (no nesting)")
        val ts = Txn.begin(baseOps.store)
        txn = Some((ts,
          new Ops(spark, ts, baseOps.chunkTargetRows, baseOps.registry,
            baseOps.routes, Some(baseOps.engine)),
          new Catalog(ts)))
        Right(ts.startPtr.getOrElse(""))
      }
      case "commit" => probed {
        val (ts, _, _) = txn.getOrElse(
          throw new GraftSql.SqlException("COMMIT without an open transaction"))
        txn = None // a failed CAS still closes the transaction (git: the
        // branch is dead, retry means replaying the statements)
        Right(Txn.commit(ts))
      }
      case "rollback" | "abort" => probed {
        if (txn.isEmpty)
          throw new GraftSql.SqlException("ROLLBACK without an open transaction")
        txn = None
        Right(baseOps.store.currentRootHash.getOrElse(""))
      }
      case _ =>
        val (o, c) = txn match {
          case Some((_, ops, cat)) => (ops, cat)
          case None => (baseOps, catalog)
        }
        GraftSql.execute(spark, o, c, t)
    }
  }

  /** Run a ;-separated script through the session, returning each
    * statement's result in order. */
  def executeScript(script: String): Seq[Either[DataFrame, String]] =
    GraftSql.splitStatements(script).map(execute)

  /** Optimistic-retry transaction block: BEGIN, run `body`, COMMIT —
    * and when a concurrent writer wins the CAS, replay the whole block
    * against the new state (the standard optimistic-concurrency loop;
    * the body re-reads through the fresh branch, so decisions based on
    * reads are re-made, not replayed blindly). Any exception from the
    * body rolls back. Returns the published root hash. */
  def withTransaction[A](maxRetries: Int = 3)(body: SqlSession => A): String = {
    var attempt = 0
    while (true) {
      execute("BEGIN")
      try {
        body(this)
        val Right(root) = execute("COMMIT"): @unchecked
        return root
      } catch {
        case _: graft.core.TxnConflictException if attempt < maxRetries =>
          // COMMIT closes the transaction before throwing, but the BODY
          // may also surface a conflict (e.g. a nested commit helper) —
          // roll back if still open so the retry's BEGIN succeeds
          if (inTransaction) execute("ROLLBACK")
          attempt += 1
        case e: Throwable =>
          if (inTransaction) execute("ROLLBACK")
          throw e
      }
    }
    sys.error("unreachable")
  }
}
