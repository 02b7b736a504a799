package graft.core

/** Named materialized views with memoized incremental refresh — the
  * project's north star stated as an API: Spark computes the refresh,
  * the op-hash layer does the Nix-style dependency tracking.
  *
  * A view = (source table name, transform, fold). `refresh` looks up the
  * source's CURRENT ref in the catalog and runs the memoized transform:
  *  - source unchanged since last refresh → the op hash is unchanged →
  *    whole-op memo hit, zero Spark jobs;
  *  - source updated by a small delta → key-preserving transforms
  *    recompute only the chunks the delta touched (per-chunk memo);
  *  - the view's new version lands in the catalog like any table (old
  *    versions stay addressable through root history).
  * There is no change tracking, no invalidation protocol, and no
  * freshness metadata — the operation hash IS the dependency
  * fingerprint, exactly the reference's memoization story
  * (/root/reference/messdb-base/src/MessDB/Trie.hs:280-312).
  */
final class Views(ops: Ops, catalog: Catalog) {
  import org.apache.spark.sql.functions.{col, lit}
  import Views.{ViewDef, JoinDef}

  private val defs =
    scala.collection.concurrent.TrieMap.empty[String, ViewDef]
  private val joinDefs =
    scala.collection.concurrent.TrieMap.empty[String, JoinDef]

  /** Register a view WITHOUT materializing — used when a batch of view
    * definitions (e.g. rebuilt from the catalog's persisted SQL defs)
    * must all be known before [[refreshAll]] orders them. */
  def declare(view: String, source: String, transform: ColTransform,
      fold: FoldSpec = FoldSpec.FoldLast): Unit = {
    defs.put(view, ViewDef(source, transform, fold)); ()
  }

  /** [[declare]] for keyed join views. */
  def declareJoin(view: String, left: String, right: String,
      presence: Boolean = false): Unit = {
    joinDefs.put(view, JoinDef(left, right, presence)); ()
  }

  /** Register a view and materialize its first version. */
  def define(view: String, source: String, transform: ColTransform,
      fold: FoldSpec = FoldSpec.FoldLast): TableRef = {
    declare(view, source, transform, fold)
    refresh(view)
  }

  /** Register a keyed JOIN view: the full-outer equi-join of two tables
    * on their (identical) primary key, maintained incrementally. The
    * join is ONE aligned merge ([[Ops.mergeAligned]]): each side is
    * projected into the joint schema (the other side's columns as typed
    * nulls) AT READ TIME inside the region-memoized merge under
    * [[FoldSpec.FoldCoalesce]] — no widened copy is ever materialized.
    * A first build is a single read+shuffle+write pass; a delta to
    * either side refreshes in O(delta): only dirty key regions
    * re-merge, and the result hash-equals the from-scratch build
    * (content-defined chunking). Inner-join consumers filter the
    * absent-side nulls downstream. */
  def defineJoin(view: String, left: String, right: String): TableRef = {
    declareJoin(view, left, right)
    refresh(view)
  }

  /** Re-materialize from the source's current catalog version. Cost is
    * zero (memo hit) when the source hash is unchanged, O(touched
    * chunks) after a delta for key-preserving transforms. Sources that
    * are THEMSELVES declared views refresh first, in the same statement
    * (the [[refreshAll]] scheduler over `view` and its ancestors), so a
    * chained view observes fresh sources — refreshing an already-fresh
    * source is a memo hit, so over-refreshing costs nothing. */
  def refresh(view: String): TableRef = run(Seq(view))(view)

  /** Refresh every view in one statement over the view dependency DAG
    * (a view whose source is itself a view starts after that source),
    * so chained views — a join view over a transform view, a rollup
    * over a join — observe their sources' CURRENT versions in one pass.
    * Cycles are rejected. */
  def refreshAll(): Map[String, TableRef] =
    run((defs.keys ++ joinDefs.keys).toSeq)

  private def isView(name: String): Boolean =
    defs.contains(name) || joinDefs.contains(name)

  private def sources(view: String): Seq[String] =
    joinDefs.get(view).map(j => Seq(j.left, j.right))
      .orElse(defs.get(view).map(d => Seq(d.source)))
      .getOrElse(throw new NoSuchElementException(s"undefined view: $view"))

  /** One refresh statement over `targets` and every view they read.
    * Each view starts as soon as the views it reads have finished, so
    * independent views overlap their driver planning and Spark jobs,
    * and each refreshed ref is handed straight to its dependents.
    * Nothing is committed mid-statement: every view whose ref changed
    * lands in ONE root ([[Catalog.putAll]]) after all have finished, and
    * a no-op mints no root (the git equivalent of refusing an empty
    * commit). Readers never observe a half-refreshed set of views, and
    * the root does not depend on which view finished first. */
  private def run(targets: Seq[String]): Map[String, TableRef] = {
    val deps = scala.collection.mutable.Map.empty[String, Seq[String]]
    val visiting = scala.collection.mutable.Set.empty[String]
    def visit(v: String): Unit =
      if (!deps.contains(v)) {
        require(visiting.add(v), s"view dependency cycle at $v")
        val ds = sources(v).filter(isView).distinct
        ds.foreach(visit)
        visiting.remove(v)
        deps(v) = ds
      }
    targets.sorted.foreach(visit)
    // ONE catalog snapshot serves every base-table source and every
    // view's previous version
    val snapshot = catalog.root
    def current(name: String): Option[TableRef] =
      snapshot.get(name).map(e => TableRef(e.tableHash))
    val out = Views.schedule[TableRef](ops.spark, deps.toMap) { (view, done) =>
      def src(name: String): TableRef = done.get(name).orElse(current(name))
        .getOrElse(throw new NoSuchElementException(
          s"view $view: missing source table $name"))
      joinDefs.get(view) match {
        case Some(j) => refreshJoin(view, j, src(j.left), src(j.right))
        case None =>
          val d = defs(view)
          // the view's current catalog version is the previous result of
          // this exact transform — the hint that unlocks O(delta)
          // refresh-by-patch for uniqueKeys re-keys (secondary indexes)
          ops.transform(src(d.source), d.transform, d.fold,
            prev = current(view))
      }
    }
    val changed = out.filter { case (v, ref) => !current(v).contains(ref) }
    if (changed.nonEmpty) catalog.putAll(changed)
    out
  }

  private def refreshJoin(view: String, j: JoinDef, aRef: TableRef,
      bRef: TableRef): TableRef = {
    val (am, bm) = (ops.meta(aRef), ops.meta(bRef))
    require(am.keyCols == bm.keyCols,
      s"join view $view needs identical key columns: ${am.keyCols} vs ${bm.keyCols}")
    require(am.chunkTargetRows == bm.chunkTargetRows,
      s"join view $view needs equal chunk granularity")
    val keys = am.keyCols
    val aVals = am.schema.fields.toSeq.filterNot(f => keys.contains(f.name))
    val bVals = bm.schema.fields.toSeq.filterNot(f => keys.contains(f.name))
    val shared = aVals.map(_.name).toSet.intersect(bVals.map(_.name).toSet)
    require(shared.isEmpty,
      s"join view $view needs disjoint value columns, shared: $shared")
    if (j.presence) {
      val taken = (keys ++ (aVals ++ bVals).map(_.name)).toSet
      require(!taken(Views.PresentLeft) && !taken(Views.PresentRight),
        s"join view $view: column names ${Views.PresentLeft}/" +
          s"${Views.PresentRight} are reserved for presence markers")
    }
    // the alignment key IS the cache identity: fingerprint the joint
    // schema so a source schema change is a different operation
    val sig = Hashing.opHash(Seq("graft-join-schema-v1") ++ keys ++
      (aVals ++ bVals).map(f => f.name + ":" + f.dataType.json) ++
      (if (j.presence) Seq("presence") else Nil))
    // presence markers: the contributing side writes 1, the aligned-in
    // side NULL; FoldCoalesce (max) merges them, so after the join a
    // marker is non-NULL iff that side had the key — NULL-safe side
    // detection that value columns cannot provide
    def markers(leftSide: Boolean): Seq[org.apache.spark.sql.Column] =
      if (!j.presence) Nil
      else Seq(
        (if (leftSide) lit(1).cast("tinyint") else lit(null).cast("tinyint"))
          .as(Views.PresentLeft),
        (if (leftSide) lit(null).cast("tinyint") else lit(1).cast("tinyint"))
          .as(Views.PresentRight))
    // FUSED build: no widened copies are ever materialized — each side's
    // alignment into the joint schema is a read-time projection inside
    // the region-memoized aligned merge, so a first build is ONE
    // read+shuffle+write pass over the original chunk files and a delta
    // to either side recomputes only the touched key regions
    // (Ops.mergeAligned). Row content is identical to the former
    // widen-then-merge chain, so the resulting table hash is unchanged.
    val projA = keys.map(col) ++ aVals.map(f => col(f.name)) ++
      bVals.map(f => lit(null).cast(f.dataType).as(f.name)) ++
      markers(leftSide = true)
    val projB = keys.map(col) ++
      aVals.map(f => lit(null).cast(f.dataType).as(f.name)) ++
      bVals.map(f => col(f.name)) ++ markers(leftSide = false)
    val markerFields =
      if (!j.presence) Nil
      else Seq(
        org.apache.spark.sql.types.StructField(Views.PresentLeft,
          org.apache.spark.sql.types.ByteType),
        org.apache.spark.sql.types.StructField(Views.PresentRight,
          org.apache.spark.sql.types.ByteType))
    val outSchema = org.apache.spark.sql.types.StructType(
      keys.map(k => am.schema(k)) ++ aVals ++ bVals ++ markerFields)
    ops.mergeAligned(Seq(
      Ops.AlignedInput(aRef, s"graft-join-align-left-v1:$sig", projA),
      Ops.AlignedInput(bRef, s"graft-join-align-right-v1:$sig", projB)),
      outSchema, FoldSpec.FoldCoalesce)
  }

  def definitions: Map[String, ViewDef] = defs.toMap
  def joinDefinitions: Map[String, JoinDef] = joinDefs.toMap
}

object Views {
  /** Run `build` once per node of the DAG `deps` (node → the nodes it
    * reads), each as soon as its dependencies have finished; `build`
    * gets the results finished so far. While only one node is runnable
    * it runs inline on the caller thread. Otherwise workers come from a
    * pool owned by this call, as wide as the runnable nodes (at most
    * one per processor) — transient, never shared, so nested parallel
    * IO inside `build` cannot starve it. Each worker runs with the
    * caller's Spark thread state (local properties, active session), so
    * job descriptions, job groups and caller tags attribute correctly.
    * On failure no further node starts; once the in-flight ones have
    * finished, the first error is rethrown as it was raised. */
  private[core] def schedule[R](spark: org.apache.spark.sql.SparkSession,
      deps: Map[String, Seq[String]])
      (build: (String, Map[String, R]) => R): Map[String, R] = {
    import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
    import scala.util.{Failure, Success, Try}
    val session = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(spark)
    val procs = Runtime.getRuntime.availableProcessors
    val dependents = deps.toSeq.flatMap { case (v, ds) => ds.map(_ -> v) }
      .groupMap(_._1)(_._2)
    val waiting = scala.collection.mutable.Map(
      deps.toSeq.map { case (v, ds) => v -> ds.size }: _*)
    val ready = scala.collection.mutable.Queue(
      deps.collect { case (v, ds) if ds.isEmpty => v }.toSeq.sorted: _*)
    var done = Map.empty[String, R]
    var failure: Option[Throwable] = None
    val finished = new LinkedBlockingQueue[(String, Try[R])]
    var inFlight = 0
    var pool: ThreadPoolExecutor = null
    def complete(v: String, r: Try[R]): Unit = r match {
      case Success(x) =>
        done += v -> x
        dependents.getOrElse(v, Nil).foreach { d =>
          waiting(d) -= 1
          if (waiting(d) == 0) ready.enqueue(d)
        }
      case Failure(e) => if (failure.isEmpty) failure = Some(e)
    }
    try {
      while ((failure.isEmpty && ready.nonEmpty) || inFlight > 0) {
        if (failure.isEmpty && ready.size == 1 && inFlight == 0) {
          val v = ready.dequeue()
          complete(v, Try(build(v, done)))
        } else {
          val width = math.min(ready.size + inFlight, procs)
          if (pool == null) {
            val n = new java.util.concurrent.atomic.AtomicInteger
            pool = new ThreadPoolExecutor(width, procs, 0L, TimeUnit.MILLISECONDS,
              new LinkedBlockingQueue[Runnable], { (r: Runnable) =>
                val t = new Thread(r, s"graft-view-refresh-${n.incrementAndGet()}")
                t.setDaemon(true)
                t
              })
          } else if (width > pool.getCorePoolSize) pool.setCorePoolSize(width)
          while (failure.isEmpty && ready.nonEmpty && inFlight < procs) {
            val v = ready.dequeue()
            val srcs = done
            org.apache.spark.sql.GraftBridge.submitCaptured(session, pool)(
              build(v, srcs)).whenComplete { (x: R, e: Throwable) =>
              finished.put(v -> (if (e == null) Success(x) else Failure(e match {
                case c: java.util.concurrent.CompletionException
                  if c.getCause != null => c.getCause
                case other => other
              })))
            }
            inFlight += 1
          }
          val (v, r) = finished.take()
          inFlight -= 1
          complete(v, r)
        }
      }
    } finally if (pool != null) {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
    failure.foreach(throw _)
    done
  }

  final case class ViewDef(source: String, transform: ColTransform,
      fold: FoldSpec)

  /** Keyed full-outer join view over two catalog tables with IDENTICAL
    * key columns and disjoint value columns. `presence` appends per-side
    * marker columns ([[Views.PresentLeft]]/[[Views.PresentRight]]: 1
    * from the contributing side, NULL otherwise) so a downstream stage
    * can distinguish "side absent" from "side present with NULL values"
    * — the lowering substrate for INNER/LEFT join views. */
  final case class JoinDef(left: String, right: String,
      presence: Boolean = false)

  /** Presence-marker column names of a `presence = true` join view. */
  val PresentLeft = "__left_present"
  val PresentRight = "__right_present"
}
