package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column ↔ Expression converters — the one
  * place this library reaches into Spark's package-private API (the
  * Column constructor taking a raw Expression is no longer public in
  * Spark 4's split Column-node API). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drain the async listener bus (private[spark]) so SparkListener
    * counters sampled by graft.Bench are attributed to the query that
    * produced the events, not the next one. Best-effort: a timeout just
    * leaves a small attribution lag. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(2000L)
    catch { case _: Throwable => () }

  /** The runtime bloom-filter clamp caps from SQLConf's REGISTERED
    * entries (session value or Spark's own default) — duplicated literal
    * defaults would silently diverge from BloomFilterAggregate's
    * internal clamp across Spark upgrades. */
  def bloomFilterCaps(spark: SparkSession): (Long, Long) = {
    val c = spark.sessionState.conf
    (c.getConf(internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS),
      c.getConf(internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS))
  }

  /** DataFrame over a custom [[execution.datasources.FileIndex]] — the
    * pruned chunk scan. LogicalRelation/HadoopFsRelation/Dataset.ofRows
    * are private[sql] / classic-session-typed in Spark 4, hence bridged
    * here. */
  def fileIndexScan(spark: SparkSession,
      index: execution.datasources.FileIndex,
      dataSchema: types.StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val rel = execution.datasources.HadoopFsRelation(
      index, new types.StructType(), dataSchema, None,
      new execution.datasources.parquet.ParquetFileFormat, Map.empty)(cs)
    classic.Dataset.ofRows(cs,
      execution.datasources.LogicalRelation(rel))
  }

  /** Upper-bound (rows, bytes) of a ROW-LOCAL plan over ONE leaf
    * relation: Project/Filter/alias chains above a single scan.
    * Projections are 1→1 in Catalyst (generators become a Generate
    * node, never a Project expression), so the leaf's totals bound the
    * plan's output. Bounded leaves:
    *  - a graft scan (GraftFileIndex): exact rows + compressed bytes
    *    from chunk metadata/stats;
    *  - a MATERIALIZED cached relation (InMemoryRelation): exact rows
    *    and in-memory bytes from its computed statistics;
    *  - a raw parquet relation small enough to stat: bytes from the
    *    file index, exact rows from the parquet footers (read only
    *    when the relation is within `maxFooterBytes`, the caller's
    *    driver byte budget — at scale the byte check rejects before
    *    any footer opens).
    * (None, None) when the plan can raise cardinality (join,
    * generator, union) or the leaf is anything else — callers then
    * skip the byte-admitted driver route. */
  def rowLocalScanBounds(df: DataFrame, maxFooterBytes: Long)
      : (Option[Long], Option[Long]) = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def leaf(p: LogicalPlan): (Option[Long], Option[Long]) = p match {
      case Project(_, child) => leaf(child)
      case Filter(_, child) => leaf(child)
      case SubqueryAlias(_, child) => leaf(child)
      case v: View => leaf(v.child) // temp-view reads in ANALYZED plans
      case agg: Aggregate =>
        // aggregation cannot RAISE cardinality: grouped output ≤ input
        // rows (one row per distinct group), a GLOBAL aggregate is
        // exactly one row — so the common `CREATE TABLE ... AS
        // SELECT k, agg(...) FROM small GROUP BY k` is as bounded as a
        // plain projection. Both cases still REQUIRE a bounded leaf,
        // and bytes keep the LEAF's figure: buffer aggregates
        // (collect_list/collect_set) can pack the whole input into few
        // rows, so the input bytes — not the row count — are the
        // honest admission heuristic (the same approximation a
        // widening Project already gets).
        leaf(agg.child) match {
          case (Some(rows), Some(bytes)) =>
            (Some(if (agg.groupingExpressions.isEmpty) 1L else rows),
              Some(bytes))
          case _ => (None, None)
        }
      case w: Window => leaf(w.child) // window functions are 1→1
      case lr: LocalRelation =>
        // already-driver-resident rows (VALUES inserts, a MetaAgg
        // collapse): trivially bounded
        (Some(lr.data.length.toLong),
          Some(lr.schema.defaultSize.toLong * math.max(1L, lr.data.length)))
      case imr: execution.columnar.InMemoryRelation =>
        val st = imr.computeStats()
        // rowCount is present only once the cache is materialized —
        // exactly when reading it costs nothing
        (st.rowCount.map(_.toLong), Some(st.sizeInBytes.toLong))
      case lr: execution.datasources.LogicalRelation => lr.relation match {
        case fs: execution.datasources.HadoopFsRelation => fs.location match {
          case g: graft.core.GraftFileIndex =>
            (Some(g.totalRows), Some(g.totalBytes))
          case loc if fs.fileFormat.isInstanceOf[
              execution.datasources.parquet.ParquetFileFormat] =>
            val bytes = loc.sizeInBytes
            val files = loc.inputFiles
            val rows =
              if (bytes > maxFooterBytes ||
                  files.length > 64) None
              else parquetRowCount(files)
            (rows, Some(bytes))
          case _ => (None, None)
        }
        case _ => (None, None)
      }
      case _ => (None, None)
    }
    // the ANALYZED plan usually already has the recognizable
    // project/filter-over-leaf shape, and walking it skips a full
    // optimizer pass per statement (the collect that follows runs on a
    // transplanted clone with its own QueryExecution, so the user
    // session's optimized plan would be computed ONLY for this walk).
    // Shapes that normalize under optimization — cached-relation
    // substitution (InMemoryRelation appears only post-analysis),
    // collapsed nested selects — fall back to the optimized walk, so no
    // route is ever lost.
    leaf(df.queryExecution.analyzed) match {
      case (Some(r), Some(b)) => (Some(r), Some(b))
      case _ => leaf(df.queryExecution.optimizedPlan) match {
        case (Some(r), Some(b)) => (Some(r), Some(b))
        case _ => (None, None)
      }
    }
  }

  /** Planned SCAN partition count of a narrow (projection/filter-only)
    * plan over one leaf, WITHOUT compiling a physical plan or touching
    * `df.rdd` (ADVICE r14: `rdd.getNumPartitions` compiles a second
    * physical plan per call, and under AQE would execute upstream
    * shuffle stages just to read a number). Recognized leaves:
    *  - a MATERIALIZED cached relation: the cache buffer RDD's actual
    *    partition count (free once built);
    *  - a file relation (direct, or behind an unbuilt cache): the
    *    split-count estimate from the already-listed FileIndex totals
    *    using Spark's own maxSplitBytes formula — an upper bound (file
    *    packing only merges), which errs toward "narrow" and never
    *    misses a genuinely wide scan.
    * None for any other shape (joins, shuffles, unions) — callers treat
    * unknown as already-parallel, the identity at scale. */
  def plannedScanPartitions(spark: SparkSession, df: Dataset[_]): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def fsEstimate(fs: execution.datasources.HadoopFsRelation): Option[Int] = {
      val conf = spark.sessionState.conf
      val openCost = conf.filesOpenCostInBytes
      val maxPB = conf.filesMaxPartitionBytes
      val minPart = conf.filesMinPartitionNum
        .getOrElse(spark.sparkContext.defaultParallelism)
      val nFiles = fs.location.inputFiles.length
      if (nFiles == 0) return Some(0)
      val totalBytes = fs.location.sizeInBytes + openCost * nFiles
      val bytesPerCore = totalBytes / math.max(1, minPart)
      val maxSplit = math.min(maxPB, math.max(openCost, bytesPerCore))
      Some(math.min(Int.MaxValue.toLong,
        (totalBytes + maxSplit - 1) / math.max(1L, maxSplit)).toInt)
    }
    def leaf(p: LogicalPlan): Option[Int] = p match {
      case Project(_, child) => leaf(child)
      case Filter(_, child) => leaf(child)
      case SubqueryAlias(_, child) => leaf(child)
      case v: View => leaf(v.child)
      case imr: execution.columnar.InMemoryRelation =>
        if (imr.cacheBuilder.isCachedColumnBuffersLoaded)
          Some(imr.cacheBuilder.cachedColumnBuffers.getNumPartitions)
        else imr.cachedPlan.collectLeaves() match {
          case Seq(f: execution.FileSourceScanExec) => fsEstimate(f.relation)
          case _ => None
        }
      case lr: execution.datasources.LogicalRelation => lr.relation match {
        case fs: execution.datasources.HadoopFsRelation => fsEstimate(fs)
        case _ => None
      }
      // driver-local rows plan as a handful of LocalTableScan slices:
      // narrow by construction
      case _: LocalRelation => Some(1)
      case _ => None
    }
    // optimizedPlan: cached-relation substitution happens post-analysis,
    // and the walk must see the InMemoryRelation the execution will use
    leaf(df.queryExecution.optimizedPlan)
  }

  /** Exact row count of small parquet files from their footers (driver
    * metadata reads, no data pages). None on any surprise. */
  private def parquetRowCount(files: Array[String]): Option[Long] =
    try {
      val conf = new org.apache.hadoop.conf.Configuration(false)
      var total = 0L
      files.foreach { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try total += r.getRecordCount finally r.close()
      }
      Some(total)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** An engine-session clone: same SparkContext, shared cache
    * manager / external catalog / store of cached data, but an ISOLATED
    * SQLConf snapshot — engine-internal conf (AQE off for the fixed
    * scan→repartition(n)→sort→write materialization shapes, the
    * single-pass limit probe) is set HERE and never on the user's
    * session, so a concurrent query on another thread can never observe
    * engine conf (a session-global flip could also restore a STALE
    * value under interleaving — impossible now, nothing is restored).
    * Cloning snapshots the user conf at call time, so session time
    * zone, ANSI mode, and shuffle partitions all carry into the engine
    * plan. Each [[graft.core.Ops]] keeps its clones
    * ([[graft.core.EngineSessions]]) and rebuilds them only when the
    * user conf changes — not one clone per materialization. Frames
    * over driver-resident rows never plan here: [[localRelationRows]]
    * evaluates them without an optimizer pass. */
  def engineSession(spark: SparkSession): SparkSession = {
    val es = spark.asInstanceOf[classic.SparkSession].cloneSession()
    es.conf.set("spark.sql.adaptive.enabled", "false")
    // engine limit probes want ALL partitions in the first pass (one
    // job), not incremental-limit's partition doubling
    es.conf.set("spark.sql.limit.initialNumPartitions", "1000000")
    es
  }

  /** The rows of a frame over driver-resident rows (VALUES lists and
    * projections over them, the byte-admitted engine routes' folds),
    * evaluated on the driver by [[LocalFold]]: no optimizer pass, no
    * physical plan, no SQL execution or listener events, and no Row
    * encoder — each column converts through one converter built per
    * call. The one entry point of the zero-job reads:
    * `Canonical.materialize`'s zero-job branch,
    * `Ops.collectDriverBounded` and the point-DML collects. The rows
    * equal `collect()`'s, value classes included: scalars convert
    * through Spark's `CatalystTypeConverters`, built under the frame's
    * own session conf, so dates and timestamps come
    * back as `java.sql` or `java.time` values per
    * `spark.sql.datetime.java8API.enabled`; arrays are converted here,
    * because that converter returns an immutable `ArraySeq` where the
    * Row encoder builds a `mutable.ArraySeq`; binary values are copied,
    * as the encoder copies them. None for any other plan, for column
    * types beyond scalars and arrays of them, or when the relation's
    * column types differ from the frame's; the caller then collects,
    * which also raises any error the fold met. */
  def localRelationRows(df: DataFrame): Option[Array[Row]] = {
    import types._
    def external(dt: DataType): Option[Any => Any] = dt match {
      case ArrayType(et, _) => external(et).map { elem => (v: Any) =>
        if (v == null) null else {
          val a = v.asInstanceOf[catalyst.util.ArrayData]
          val out = new Array[Any](a.numElements())
          var i = 0
          while (i < out.length) {
            if (!a.isNullAt(i)) out(i) = elem(a.get(i, et))
            i += 1
          }
          scala.collection.mutable.ArraySeq.make(out)
        }
      }
      case BinaryType => Some(v => if (v == null) null
        else v.asInstanceOf[Array[Byte]].clone())
      case _: NumericType | BooleanType | _: StringType | DateType |
           TimestampType | TimestampNTZType =>
        Some(catalyst.CatalystTypeConverters.createToScalaConverter(dt))
      case _ => None
    }
    val schema = df.schema
    val dts = schema.fields.map(_.dataType)
    LocalFold(df).filter(lr => lr.schema.length == schema.length &&
        lr.schema.zip(schema).forall { case (a, b) =>
          DataType.equalsIgnoreNullability(a.dataType, b.dataType) })
      .flatMap { lr =>
        val convs = internal.SQLConf.withExistingConf(
          df.sparkSession.sessionState.conf)(dts.map(external))
        if (convs.exists(_.isEmpty)) None
        else {
          val conv = convs.map(_.get)
          Some(lr.data.iterator.map { r =>
            val vals = new Array[Any](dts.length)
            var i = 0
            while (i < dts.length) {
              if (!r.isNullAt(i)) vals(i) = conv(i)(r.get(i, dts(i)))
              i += 1
            }
            new catalyst.expressions.GenericRowWithSchema(vals, schema): Row
          }.toArray)
        }
      }
  }

  /** `df` evaluated once on the driver by [[LocalFold]], as a frame
    * over the resulting `LocalRelation`: the frames built over it
    * evaluate from those rows, not from `df`'s plan. None where
    * LocalFold declines. */
  def localFrame(df: DataFrame): Option[DataFrame] =
    LocalFold(df).map(lr => classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession], lr))

  /** Catalog property that marks a temp view as one the graft SQL layer
    * registered over a catalog table ([[registerTableView]]). */
  private val TableViewProperty = "graft.sql.tableView"

  /** Register `df` as the session temp view `name`, replacing any view
    * of that name, and mark it as the SQL layer's table view. Stores
    * what `createOrReplaceTempView` stores for a DataFrame — its
    * analyzed plan, through Spark's own `createTemporaryViewRelation`
    * (cyclic-reference check, uncache of a replaced cached view) — but
    * without running a `CreateViewCommand` as a query execution. */
  def registerTableView(spark: SparkSession, name: String,
      df: DataFrame): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val catalog = cs.sessionState.catalog
    val plan = df.queryExecution.analyzed
    val rel = execution.command.ViewHelper.createTemporaryViewRelation(
      catalyst.TableIdentifier(name), cs, true, catalog.getRawTempView,
      None, plan, plan, Nil)
    catalog.createTempView(name, rel.copy(tableMeta = rel.tableMeta.copy(
      properties = rel.tableMeta.properties + (TableViewProperty -> "true"))),
      overrideIfExists = true)
  }

  /** Drop the temp view `name` when [[registerTableView]] registered it
    * (a catalog table's view that may now be stale); any other temp
    * view of that name — a user's — is left alone. */
  def dropTableView(spark: SparkSession, name: String): Unit = {
    val catalog = spark.asInstanceOf[classic.SparkSession].sessionState.catalog
    if (catalog.getRawTempView(name)
        .exists(_.tableMeta.properties.contains(TableViewProperty)))
      spark.catalog.dropTempView(name)
  }

  /** The SQL text of the temp view `name`, session-local or global,
    * when it was created from SQL text, which Spark resolves again on
    * every read. None for a view [[registerTableView]] registered, for a
    * DataFrame view (its plan is fixed) and for no view. */
  def userViewText(spark: SparkSession, name: String): Option[String] = {
    val catalog = spark.asInstanceOf[classic.SparkSession].sessionState.catalog
    catalog.getRawTempView(name).orElse(catalog.getRawGlobalTempView(name))
      .filterNot(_.tableMeta.properties.contains(TableViewProperty))
      .flatMap(_.tableMeta.viewText)
  }

  /** Run `body` on `exec` with the CALLING thread's Spark thread state
    * installed on the worker: SparkContext local properties (job group,
    * description, caller tags), `active` as the active session, and the
    * job artifact state — Spark's own helper for its async command pool
    * (`SQLExecution.withThreadLocalCaptured`). */
  def submitCaptured[T](active: SparkSession,
      exec: java.util.concurrent.ExecutorService)(body: => T)
      : java.util.concurrent.CompletableFuture[T] =
    execution.SQLExecution.withThreadLocalCaptured(
      active.asInstanceOf[classic.SparkSession], exec)(body)

  /** Rebind `df`'s ANALYZED plan to `target`: same rows, but planning
    * and execution — including write commands, which hop to Spark's
    * async command thread pool and re-install their session's conf —
    * read the TARGET session's conf. The cache manager lives in shared
    * state, so a persisted source still substitutes its
    * InMemoryRelation after the transplant. */
  def transplant(target: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(target.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** The materialized-block RDD behind a checkpointed Dataset (the
    * LogicalRDD that Dataset.checkpoint/localCheckpoint returns). None
    * for any other plan shape. */
  def checkpointRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case lr: execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Explicitly free a SUPERSEDED locally-checkpointed frame's blocks
    * instead of waiting on the nondeterministic ContextCleaner — the
    * storage-boundedness lever for iterative loops that checkpoint each
    * round. The frame must never be read again (local checkpointing
    * truncated its lineage) — Spark logs an expected WARN to that
    * effect on each call. No-op for reliable checkpoints (their data
    * lives in files, not blocks). */
  def freeCheckpoint(df: Dataset[_]): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** Delete a superseded RELIABLE checkpoint's files (private[spark]
    * cleaner Spark itself only runs with
    * spark.cleaner.referenceTracking.cleanCheckpoints, and then only at
    * GC time). Callers must guarantee the checkpoint is no longer
    * referenced by any live plan. */
  def cleanReliableCheckpoint(sc: org.apache.spark.SparkContext,
      df: Dataset[_]): Unit =
    checkpointRdd(df).foreach { r =>
      try org.apache.spark.rdd.ReliableRDDCheckpointData.cleanCheckpoint(sc, r.id)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Run `body` with conf overrides visible to planning done on the
    * calling thread (`SQLConf.withExistingConf`). CAVEAT: write
    * commands execute on Spark's async command thread pool
    * (`SQLExecution.withThreadLocalCaptured`), which does NOT carry this
    * thread-local — engine write jobs run on a [[engineSession]] clone
    * instead. */
  def withConfOverrides[T](spark: SparkSession,
      overrides: Map[String, String])(body: => T): T = {
    val conf = spark.sessionState.conf.clone()
    overrides.foreach { case (k, v) => conf.setConfString(k, v) }
    internal.SQLConf.withExistingConf(conf)(body)
  }
}
