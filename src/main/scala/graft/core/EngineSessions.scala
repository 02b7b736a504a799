package graft.core

import org.apache.spark.sql.SparkSession

/** The engine-session clones one [[Ops]] plans and runs its
  * materializations on (see [[Canonical.onEngine]]), one per engine
  * configuration:
  *  - default: [[org.apache.spark.sql.GraftBridge.engineSession]] as is
  *    (AQE off, one-pass limit probes, the driver-resident folds);
  *  - small shuffle, interpreted: at most 8 shuffle partitions and no
  *    code generation, for byte-admitted collects;
  *  - small shuffle, codegen: at most 8 shuffle partitions, for the
  *    optimistic probes and the collects above the interpreted
  *    crossover.
  *
  * Each clone is configured when it is built and never mutated
  * afterwards, so the clones are shared freely across threads and
  * statements. They are built lazily, on first use, and all three are
  * rebuilt when the user session's SQL conf no longer equals the
  * snapshot they were cloned from — a user conf change (time zone, ANSI
  * mode, shuffle partitions) reaches the next engine plan, as it did
  * when every materialization cloned afresh. Other session state a
  * clone copies (temp views, functions, extra optimizer rules) is not
  * compared: engine plans are transplanted ANALYZED plans, and the
  * library's own rules are registered by the `Ops` constructor before
  * the first clone is built.
  *
  * Owned by its `Ops` and handed to a transaction's `Ops` with the
  * routes and the registry. */
private[graft] final class EngineSessions(val user: SparkSession) {

  private final class Clones(val snapshot: Map[String, String]) {
    lazy val default: SparkSession =
      org.apache.spark.sql.GraftBridge.engineSession(user)
    lazy val smallInterpreted: SparkSession = small(interpreted = true)
    lazy val smallCodegen: SparkSession = small(interpreted = false)

    // byte-admitted driver routes collect a PROVABLY small frame; any
    // fold exchange inside it needs a handful of partitions, not the
    // session's full width — 30+ near-empty shuffle tasks were most of
    // those jobs' wall time. Plan shape only: partial aggregates
    // combine identically at any partition count, and the driver
    // writer re-sorts collected rows by key bytes. Interpreted
    // expressions beat paying janino compilation per plan when the
    // data is at most the driver budget (semantics identical —
    // interpreted mode IS Spark's codegen fallback path); optimistic
    // PROBES keep codegen: their output size is unknown and generator
    // fan-out runs real expression work per output row (measured: the
    // shingle-index probe doubled interpreted).
    private def small(interpreted: Boolean): SparkSession = {
      val es = org.apache.spark.sql.GraftBridge.engineSession(user)
      val cur = es.sessionState.conf.numShufflePartitions
      es.conf.set("spark.sql.shuffle.partitions", math.min(cur, 8).toString)
      if (interpreted) {
        es.conf.set("spark.sql.codegen.wholeStage", "false")
        es.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      es
    }
  }

  private var clones: Clones = _ // guarded by this

  private def current(): Clones = {
    val conf = user.sessionState.conf.getAllConfs
    synchronized {
      if (clones == null || clones.snapshot != conf) clones = new Clones(conf)
      clones
    }
  }

  /** The clone for one engine configuration (`interpretedOk` matters
    * only with `smallShuffle`). */
  def apply(smallShuffle: Boolean, interpretedOk: Boolean): SparkSession = {
    val c = current()
    if (!smallShuffle) c.default
    else if (interpretedOk) c.smallInterpreted
    else c.smallCodegen
  }
}
