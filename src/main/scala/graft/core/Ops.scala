package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Reference to a stored canonical table (the TableRef analogue,
  * /root/reference/messdb-schema/src/MessDB/Table.hs:46-60). */
final case class TableRef(hash: String)

/** Inclusive/exclusive typed key-prefix bound (KeyRange ends,
  * /root/reference/messdb-base/src/MessDB/Trie.hs:540-545). */
final case class Bound(prefix: Seq[Any], inclusive: Boolean)

/** The memoized operator algebra: merge / transform / rangeFilter (+
  * ingest and scan), each computing an operation hash from (opcode,
  * function keys, params, input table hashes) and consulting the memo
  * store before running any Spark job — mirroring
  * /root/reference/messdb-base/src/MessDB/Trie.hs:282-312,446-452,481-486.
  *
  * Incrementality: merge reuses chunks verbatim when their key region is
  * untouched by other inputs (the single-source passthrough of
  * Trie.hs:346-348); rangeFilter passes interior chunks through and
  * rewrites at most the edge chunks (the prefix-pruning of
  * Trie.hs:472-510). Both reuse is O(delta), not O(table) — the property
  * that makes 100 TB view refresh feasible.
  */
final class Ops(val spark: SparkSession, val store: GraftStore,
    val chunkTargetRows: Long = Ops.DefaultChunkTargetRows,
    val registry: FuncRegistry = new FuncRegistry,
    private[graft] val routes: Routes = Routes.Default,
    sharedEngine: Option[EngineSessions] = None) {

  import FoldSpec.SRC

  /** The engine-session clones this Ops materializes on — its own, or
    * (for a transaction's Ops) its session's. */
  private[graft] val engine: EngineSessions =
    sharedEngine.getOrElse(new EngineSessions(spark))

  // chunk files carry positional parquet field ids and every chunk read
  // requests them (Canonical.withFieldIds) — column renames are then
  // metadata-only and shared chunks stay readable from every version's
  // own names. Write-side ids are attached explicitly per file; these
  // session flags turn on Spark's id-based matching.
  spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  // metadata-only COUNT/MIN/MAX/SUM (MetaAgg) and ordered-limit chunk
  // pruning (LimitPrune) over graft scans: registered through the stock
  // extension point for library optimizer rules; idempotent under
  // repeated Ops construction on one session. (The driver-resident
  // folds that make the byte-admitted refresh routes zero-job are no
  // optimizer rule: LocalFold evaluates those frames directly, so user
  // plans over local rows keep Spark's own plan shapes.)
  Seq(MetaAgg, LimitPrune).foreach { r =>
    if (!spark.experimental.extraOptimizations.contains(r))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ r
  }

  // ---- ingest ----------------------------------------------------------

  /** Bulk load (tableFromRows analogue, Table.hs:125-140): fold duplicate
    * keys, canonicalize, store. For order-sensitive folds
    * (fold_to_last), "input order" is the (partition index, offset)
    * order of `df` — deterministic for a stable source layout (files
    * read in order), but NOT meaningful after a shuffle; order-sensitive
    * ingest of shuffled data should carry its own ordering column and
    * fold with max_by over it. */
  def fromDataFrame(df: DataFrame, keyCols: Seq[String],
      fold: FoldSpec = FoldSpec.FoldLast): TableRef =
    fromDataFrameBounded(df, keyCols, fold, None, None)

  /** Collect a BYTE-ADMITTED frame under the engine's driver-route
    * discipline: AQE off, narrow shuffle, interpreted expressions (a
    * provably tiny frame's data work is dwarfed by janino compilation
    * per distinct plan shape) — on this Ops's engine clone, never
    * touching the user session's conf. For callers like the DML
    * delta-patch route whose collect would otherwise pay full adaptive
    * codegen planning per statement. A frame over driver-resident rows
    * returns its rows without a Spark job, an optimizer pass or a
    * physical plan ([[org.apache.spark.sql.GraftBridge.localRelationRows]]). */
  def collectDriverBounded(df: DataFrame,
      rowBound: Option[Long] = None): Array[org.apache.spark.sql.Row] =
    org.apache.spark.sql.GraftBridge.localRelationRows(df).getOrElse {
      // interpreted only under the measured crossover: a byte-admitted
      // delta can reach ~262k rows on a narrow schema (adaptiveRowCap),
      // where interpreted evaluation of the delta plan loses to one
      // codegen compile. Unknown bounds keep the interpreted default —
      // every such caller is metadata-sized by construction.
      val (es, bound) = Canonical.onEngine(engine, df, smallShuffle = true,
        interpretedOk = Canonical.interpretedCollectOk(routes, rowBound,
          df.schema))
      Canonical.withJobDesc(es, "graft:collect")(bound.collect())
    }

  /** [[fromDataFrame]] with caller-known size bounds: a row-local
    * projection over a chunk-backed scan (the range-UPDATE delta) knows
    * its row/byte upper bounds from the source chunk metadata, which
    * admits the one-collect-job driver materialization when the input
    * is metadata-sized (see [[Canonical.materialize]]). */
  def fromDataFrameBounded(df: DataFrame, keyCols: Seq[String],
      fold: FoldSpec, rowBound: Option[Long],
      byteBound: Option[Long]): TableRef = {
    // callers that don't know their input's size may still have a
    // BOUNDED plan (row-local over a graft scan / materialized cache /
    // small parquet — e.g. an ingest slicing a cached source): derive
    // the bounds from the plan so metadata-sized ingests ride the
    // one-collect driver route. The fold below never raises row count.
    val (rb, bb) =
      if (rowBound.isEmpty && byteBound.isEmpty)
        org.apache.spark.sql.GraftBridge.rowLocalScanBounds(df,
          routes.driverMaxBytes)
      else (rowBound, byteBound)
    val valueCols = df.columns.filterNot(keyCols.contains).toSeq
    val folded = df.withColumn(SRC, monotonically_increasing_id())
      .groupBy(keyCols.map(col): _*)
      .agg(fold.aggs(valueCols).head, fold.aggs(valueCols).tail: _*)
    val meta = Canonical.materialize(engine, store, routes,
      castValues(folded, df.schema, valueCols), keyCols, chunkTargetRows,
      rowBound = rb, byteBound = bb)(Canonical.Ungrouped)
    TableRef(meta.tableHash)
  }

  /** Caller-facing size hints of a chunk-backed table: exact row count
    * from chunk metadata, compressed bytes from file stats (None on any
    * stat surprise). The inputs to the byte-admitted driver routes. */
  def sizeHints(ref: TableRef): (Option[Long], Option[Long]) = {
    val m = meta(ref)
    (Some(m.chunks.map(_.rows).sum), chunkBytes(m.chunks))
  }

  /** Folds widen types (sum(int)=long, sum(decimal(p,s))=decimal(p+10,s));
    * the canonical format keeps the declared column types, so fold
    * outputs are cast back before materialization — otherwise chunk
    * parquet types drift from the stamped schemaJson. */
  private def castValues(df: DataFrame, declared: StructType,
      valueCols: Seq[String]): DataFrame =
    df.select(df.columns.toSeq.map { c =>
      // cast only on a REAL type difference: types equal up to
      // nullability flags (array containsNull, struct field nullable)
      // are the same canonical type, and Catalyst rejects such "casts"
      // (e.g. array<bigint> with containsNull true vs false — a merge
      // of array-valued tables would fail on the flag alone)
      if (valueCols.contains(c) &&
          !org.apache.spark.sql.types.DataType.equalsIgnoreNullability(
            df.schema(c).dataType, declared(c).dataType))
        col(c).cast(declared(c).dataType).as(c)
      else col(c)
    }: _*)

  def emptyTable(schema: StructType, keyCols: Seq[String]): TableRef = {
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val meta = Canonical.materialize(engine, store, routes, df, keyCols,
      chunkTargetRows, rowBound = Some(0L))(Canonical.Ungrouped)
    TableRef(meta.tableHash)
  }

  // ---- scan ------------------------------------------------------------

  def meta(ref: TableRef): TableMeta = store.loadTableMeta(ref.hash)

  /** Full scan (tableToRows analogue). Unordered; the table's sorted-map
    * semantics are recovered with scanOrdered. */
  def scan(ref: TableRef): DataFrame = scanMeta(meta(ref))

  // FileIndex per table CONTENT (chunks are immutable, so an index never
  // goes stale): repeated scans of the same table skip the per-chunk
  // file-stat pass — at 1M chunks that is a million syscalls per scan
  // otherwise. LRU-bounded: overflow evicts only the coldest entry.
  private val indexCache = new Lru[String, GraftFileIndex](256)
  // the assembled scan FRAME per table content: plans are immutable, so
  // repeated scans of the same version (every statement re-registers
  // each catalog table as a temp view) reuse one DataFrame instead of
  // paying relation construction + projection analysis per call
  // (~10 ms/table, measured — ~0.3 s across a DML statement flow)
  private val scanFrameCache = new Lru[String, DataFrame](256)

  private def scanMeta(m: TableMeta): DataFrame =
    if (m.chunks.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else scanFrameCache.getOrElseUpdate(m.tableHash) {
      // chunk-pruned relation: WHERE predicates on the leading key column
      // skip provably-disjoint chunk files at planning time
      // (GraftFileIndex), and scan statistics come from chunk metadata
      val idx = indexCache.getOrElseUpdate(m.tableHash)(
        new GraftFileIndex(spark, store, m))
      // request the schema WITH positional field ids (rename-proof chunk
      // reads), then strip the ids from the OUTPUT columns so scan
      // consumers and schemas derived from them stay metadata-free
      org.apache.spark.sql.GraftBridge.fileIndexScan(spark, idx,
          Canonical.withFieldIds(m.schema))
        .select(m.schema.fieldNames.map(n =>
          col(n).as(n, org.apache.spark.sql.types.Metadata.empty)): _*)
    }

  /** Chunk-SUBSET scan through [[GraftFileIndex]] — the listing-free
    * sibling of [[scanMeta]] for incremental reads (changed chunks,
    * merge regions, mini builds): paths and sizes come from chunk
    * metadata (one driver-side stat per file), so Spark never runs a
    * "Listing leaf files" job over the path list. Above 32 paths that
    * job costs ~100–200 ms PER READ at bench scale, and at 10k-chunk
    * scale on an object store it is a real fixed cost on every
    * incremental read — the chunk list IS the listing. Duplicate
    * hashes read once (the callers' previous `.distinct` contract). */
  private def scanChunkSubset(schemaJson: String, keyCols: Seq[String],
      target: Long, cs: Seq[ChunkMeta]): DataFrame = {
    val sub = TableMeta(schemaJson, keyCols, target, cs.distinctBy(_.hash))
    org.apache.spark.sql.GraftBridge.fileIndexScan(spark,
      new GraftFileIndex(spark, store, sub),
      Canonical.withFieldIds(sub.schema))
  }

  /** The rows of `chunks` (a table of `schema` keyed on `keyCols`) with a
    * per-row tag in column [[Ops.TagCol]]: each chunk's own tag, or the
    * tag of the key-bytes range its key falls in (rows in no range drop
    * out) — the input of every batched per-chunk or per-region job.
    *
    * Byte-admitted chunks are read on the driver into a LocalRelation:
    * [[org.apache.spark.sql.LocalFold]] then evaluates the Filters,
    * Projects, Aggregates and Unions above it on the driver, so a
    * grouped materialization over them collects without any job (the
    * driver point-UPDATE mechanism, generalized). Zero-job crossover
    * (VERDICT r13 #3, measured): the fold runs interpreted on one
    * driver thread — unbeatable for point
    * DML, but at ~230k rows it loses ~20% to the one-job parquet-scan
    * shape, whose expressions run codegen'd across the cores; above
    * [[Ops.DriverZeroJobMaxRows]] (and at scale, above the byte budget)
    * the chunks take the scan, tagged by input file. Row content is
    * byte-identical either way (DriverChunks round-trip, pinned in
    * PatchTableSpec), and any driver-read surprise falls back to the
    * scan. */
  private def chunkFrame(schema0: StructType, keyCols: Seq[String],
      target: Long, chunks0: Seq[ChunkMeta], tag: Ops.RowTag): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = Canonical.normalizeSchema(schema0, keyCols)
    val chunks = chunks0.distinctBy(_.hash)
    val rows = chunks.iterator.map(_.rows).sum
    val driverOk = routes.driverPatch && DriverChunks.supported(schema) &&
      rows <= Ops.DriverZeroJobMaxRows &&
      rows <= Ops.adaptiveRowCap(schema, Ops.PatchMaxDeltaRows) &&
      chunkBytes(chunks).exists(_ <= routes.driverMaxBytes)
    def driverRead: Option[DataFrame] = Ops.routeOr(Option.empty[DataFrame]) {
      lazy val kb = KeyCodec.rowEncoder(schema, keyCols)
      val tagged = Canonical.parIo(chunks) { c =>
        val rs = DriverChunks.readRows(
          java.nio.file.Paths.get(store.chunkPath(c.hash)), schema)
        val tagOf: Row => String = tag match {
          case Ops.RowTag.PerChunk(of) => val t = of(c.hash); _ => t
          case Ops.RowTag.PerRange(of) => val rg = of(c.hash); r => rg.tagOf(kb(r))
        }
        rs.flatMap(r => Option(tagOf(r)).map(t => Row.fromSeq(r.toSeq :+ t)))
      }.flatten
      Some(spark.createDataFrame(tagged.asJava, schema.add(
        Ops.TagCol, org.apache.spark.sql.types.StringType, nullable = false)))
    }
    def scanRead: DataFrame = {
      val scanned = scanChunkSubset(schema.json, keyCols, target, chunks)
      tag match {
        case Ops.RowTag.PerChunk(of) =>
          scanned.withColumn(Ops.TagCol, Canonical.fileTagUdf(spark,
            chunks.map(c => store.chunkPath(c.hash) -> of(c.hash)).toMap)(
            input_file_name()))
        case Ops.RowTag.PerRange(of) =>
          val ranges = spark.sparkContext.broadcast(of)
          val rangeTag = udf { (h: String, kb: Array[Byte]) =>
            ranges.value(h).tagOf(kb)
          }
          val byChunk = scanned.withColumn(Ops.TagCol, Canonical.fileTagUdf(
            spark, chunks.map(c => store.chunkPath(c.hash) -> c.hash).toMap)(
            input_file_name()))
          Canonical.withKeyBytes(byChunk, keyCols)
            .withColumn(Ops.TagCol,
              rangeTag(col(Ops.TagCol), col(Canonical.KB)))
            .where(col(Ops.TagCol).isNotNull)
            .drop(Canonical.KB)
      }
    }
    (if (driverOk) driverRead else None).getOrElse(scanRead)
  }

  def scanOrdered(ref: TableRef): DataFrame = {
    val m = meta(ref)
    scan(ref).orderBy(m.keyCols.map(col): _*)
  }

  /** COUNT(*) answered from chunk metadata alone — no data read (the
    * aggregate-pushdown analogue of parquet's row-group counts, one
    * level up: per-chunk row counts are part of the table identity). */
  def rowCount(ref: TableRef): Long = meta(ref).chunks.map(_.rows).sum

  // ---- merge (O1) ------------------------------------------------------

  /** N-way merge with per-key fold; left-to-right input order is carried
    * by the source index so non-commutative folds (fold_to_last) match the
    * reference's input-order fold (Trie.hs:396-401). */
  def merge(refs: Seq[TableRef], fold: FoldSpec): TableRef = {
    require(refs.nonEmpty, "merge of zero tables")
    // envelope-only reads: merge never materializes an input's chunk
    // list — planning streams them (MergePlanner via store.chunkStream)
    val envs = refs.map(r => store.tableEnvelope(r.hash))
    val (schemaJson, keyCols, target, _) = envs.head
    // granularity is intrinsic to the TABLES (they must agree with each
    // other, not with this Ops instance — transform/rangeFilter results
    // keep their input's granularity and must remain mergeable)
    require(envs.forall(e => e._1 == schemaJson && e._2 == keyCols
      && e._3 == target),
      "merge requires identically-shaped tables")
    val nonEmpty = refs.zip(envs).filter(_._2._4 > 0).map(_._1)
    if (nonEmpty.isEmpty) return refs.head
    if (nonEmpty.length == 1) return nonEmpty.head
    // idempotence fast path: merging any number of copies of one table is
    // the identity ONLY for idempotent folds (fold(v,v)==v, e.g.
    // fold_to_last — TrieSpec.hs:31-38); sum-like folds must take the
    // general path so duplicated inputs combine consistently
    if (fold.idempotent && nonEmpty.map(_.hash).distinct.length == 1)
      return nonEmpty.head

    val opHash = Hashing.opHash(Seq(
      "graft-op-merge-v2", fold.key, target.toString) ++
      refs.map(_.hash))
    TableRef(store.memoized(opHash) {
      computeMerge(nonEmpty, schemaJson, keyCols, target, fold).tableHash
    })
  }

  /** Retraction merge (the distributed delete-aware refresh's tail): a
    * two-table merge of the previous aggregate result and a NET delta
    * table (inserted contributions plus INVERTED deleted ones, pre-folded
    * per group) that DELETES any group whose folded `livenessCol` lands
    * on 0 — the counting-IVM death rule, applied inside the region merge
    * so only DIRTY regions are rewritten. Exactness: a dead group's key
    * exists in the previous result, so the region holding it always has
    * BOTH participants and is folded+filtered (a single-participant
    * passthrough region can only hold untouched previous groups — alive
    * by invariant — or delta-only NEW groups, whose liveness is a sum of
    * +1 contributions and cannot be 0). Memo keys carry the liveness
    * column: a plain merge of the same inputs never reuses a filtered
    * region and vice versa. */
  def mergeRetract(prev: TableRef, delta: TableRef, fold: FoldSpec,
      livenessCol: String): TableRef = {
    val envs = Seq(prev, delta).map(r => store.tableEnvelope(r.hash))
    val (schemaJson, keyCols, target, _) = envs.head
    require(envs.forall(e => e._1 == schemaJson && e._2 == keyCols
      && e._3 == target),
      "mergeRetract requires identically-shaped tables")
    if (envs(1)._4 == 0) return prev
    val opHash = Hashing.opHash(Seq(
      "graft-op-merge-retract-v1", fold.key, livenessCol, target.toString,
      prev.hash, delta.hash))
    TableRef(store.memoized(opHash) {
      computeMerge(Seq(prev, delta), schemaJson, keyCols, target, fold,
        dropDeadOn = Some(livenessCol)).tableHash
    })
  }

  private def computeMerge(refs: Seq[TableRef], schemaJson: String,
      keyCols: Seq[String], target: Long, fold: FoldSpec,
      dropDeadOn: Option[String] = None): TableMeta = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val valueCols = schema.fieldNames.toSeq.filterNot(keyCols.contains)
    val sources: Seq[MergePlanner.ChunkSource] =
      refs.map(r => store.chunkStream(r.hash))

    // ---- pass 1: streaming plan (MergePlanner.sweep) ----
    // Regions stream by in key order; only regions that need WORK — more
    // than one participant, or a spanning participant needing piece
    // splitting — are recorded. Clean single-participant regions (the
    // overwhelming majority after a small delta) are not retained, so
    // planning memory is O(delta), not O(table). Region semantics and
    // every memo key below are IDENTICAL to the former materialized
    // planner (the subtree reuse of mergeNodes,
    // /root/reference/messdb-base/src/MessDB/Trie.hs:297-348).
    final case class Rec(loHex: String, hiHex: String,
        parts: List[MergePlanner.Part])
    val recB = Vector.newBuilder[Rec]
    MergePlanner.sweep(sources, target) { r =>
      if (r.parts.lengthCompare(1) > 0 || r.parts.exists(_.spanning))
        recB += Rec(r.loHex, r.hiHex, r.parts)
    }
    val records = recB.result()

    // ---- degenerate-overlap fallback: one flat shuffle ----
    // The piece/region plan wins when inputs are mostly DISJOINT (a
    // delta against a chunked base: few dirty regions, clean
    // passthrough elsewhere). When the inputs all span the same key
    // range — the re-key first build, whose per-chunk minis each cover
    // the whole new-key space — the plan degenerates: every chunk
    // splits into a piece for every region (quadratic tiny files, the
    // 70 s CREATE INDEX pathology). Detect the regime by span fanout
    // and do what a sort engine would: ONE shuffle folding all inputs,
    // canonical materialize, whole-op memo only (region memos would
    // never be reusable here — each refresh shifts every region's
    // participant set). Bit-identical to the region path: the same
    // SRC-tagged aggregation over the same rows, grouped globally
    // instead of per disjoint region.
    val spanningPairs = records.iterator.map(_.parts.count(_.spanning)).sum
    val distinctSpanning = records.iterator.flatMap(
      _.parts.iterator.filter(_.spanning).map(_.chunk.hash)).toSet.size
    if (distinctSpanning > 0 &&
        spanningPairs > math.max(256, 8 * distinctSpanning)) {
      var flatRows = 0L
      val srcParts = refs.zipWithIndex.map { case (r, i) =>
        val cs = store.chunkStream(r.hash)()
          .map { c => flatRows += c.rows; c }.toSeq
        scanChunkSubset(schemaJson, keyCols, target, cs)
          .withColumn(SRC, lit(i.toLong))
      }
      val union = srcParts.reduce(_.unionByName(_))
      val folded0 = union.groupBy(keyCols.map(col): _*)
        .agg(fold.aggs(valueCols).head, fold.aggs(valueCols).tail: _*)
      // retraction-merge death rule: a group whose folded liveness
      // counter reaches 0 has no remaining source rows — drop it
      val folded = dropDeadOn.map(l => folded0.where(col(l) =!= 0L))
        .getOrElse(folded0)
      return Canonical.materialize(engine, store, routes,
        castValues(folded, schema, valueCols), keyCols, target,
        rowBound = Some(flatRows),
        byteBound = chunkBytes(refs.flatMap(r =>
          store.chunkStream(r.hash)().toSeq)))(Canonical.Ungrouped)
    }

    // ---- split spanning chunks into per-region pieces (memoized) ----
    // A chunk spanning several regions (it crosses boundary keys absent
    // from its own data — typical for a wide delta over a chunked base)
    // would dirty every spanned region; cutting it into per-region
    // pieces first means regions where it has NO rows stay clean. Piece
    // identity is (chunk content, region bounds) — stable under
    // boundary changes elsewhere, so refreshes re-read nothing for
    // unchanged chunks.
    def pieceOp(chunkHash: String, loHex: String, hiHex: String): String =
      Hashing.opHash(Seq("graft-op-merge-piece-v3", chunkHash, loHex, hiHex))

    // (chunk, region lo, region hi) for every spanned region, in key order
    val neededPieces: Seq[(ChunkMeta, String, String)] = records
      .flatMap(rec => rec.parts.filter(_.spanning)
        .map(p => (p.chunk, rec.loHex, rec.hiHex)))
      .distinctBy { case (c, lo, _) => (c.hash, lo) }
    val pieceMemo: Map[(String, String), Option[String]] = neededPieces.map {
      case (c, lo, hi) => (c.hash, lo) -> store.memoGet(pieceOp(c.hash, lo, hi))
    }.toMap
    // per-chunk ordered piece bounds — the split job cuts each chunk at
    // ITS OWN interior boundaries (a per-chunk array, never a global
    // boundary broadcast, so the job scales with the spanning set)
    val piecesByChunk: Map[String, Seq[(String, String)]] = neededPieces
      .groupBy(_._1.hash).view.mapValues(_.map(t => (t._2, t._3))).toMap
    val toSplit: Seq[ChunkMeta] = neededPieces.map(_._1).distinctBy(_.hash)
      .filter(c => piecesByChunk(c.hash).exists(b => pieceMemo((c.hash, b._1)).isEmpty))
    val splitComputed: Map[(String, String), TableMeta] =
      if (toSplit.isEmpty) Map.empty
      else {
        // per chunk, its pieces as key ranges: the interior cut keys (the
        // region los after the first) bound them, the outer two are open
        val pieceRanges: Map[String, Ops.KeyRanges] = toSplit.map { c =>
          val cuts = piecesByChunk(c.hash).drop(1).map(b => Hashing.unhex(b._1))
          c.hash -> new Ops.KeyRanges((Array.empty[Byte] +: cuts).toArray,
            (cuts :+ null).toArray, cuts.indices.appended(cuts.length)
              .map(i => s"${c.hash}-$i").toArray)
        }.toMap
        val tagged = chunkFrame(schema, keyCols, target, toSplit,
          Ops.RowTag.PerRange(pieceRanges))
        Canonical.materialize(engine, store, routes, tagged, keyCols, target,
          groupCol = Some(Ops.TagCol), rowBound = Some(toSplit.map(_.rows).sum),
          byteBound = chunkBytes(toSplit))
          .map { case (g, m) =>
            val i = g.lastIndexOf('-')
            val h = g.substring(0, i)
            val lo = piecesByChunk(h)(g.substring(i + 1).toInt)._1
            ((h, lo), m)
          }
      }
    lazy val emptyPiece: TableMeta = {
      val em = TableMeta(schemaJson, keyCols, target, Nil)
      store.saveTableMeta(em)
      em
    }
    val pieces: Map[(String, String), Seq[ChunkMeta]] = neededPieces.map {
      case (c, lo, hi) =>
        val k = (c.hash, lo)
        val sub: TableMeta = pieceMemo(k) match {
          case Some(h) => store.loadTableMeta(h)
          case None =>
            // a spanning chunk may have no rows in a spanned region
            // (its keys skip it) — memoize the empty piece too
            val m = splitComputed.getOrElse(k, emptyPiece)
            store.memoPut(pieceOp(c.hash, lo, hi), m.tableHash)
            m
        }
        k -> sub.chunks
    }.toMap

    // ---- classify recorded regions (pieces substituted) ----
    // Clean region (single participant) → passthrough without reading
    // (Trie.hs:346-348). A sole surviving PIECE is the region's full
    // content and canonical by construction, so it passes through too.
    // Dirty regions are memoized INDEPENDENTLY, keyed by the fold and
    // participating chunk hashes (src-tagged for order-sensitive folds;
    // src-free + sorted for combinable ones, so the same participant
    // set reuses regardless of input numbering).
    val combinableHere =
      fold.combinableForNamed(valueCols.map(c => (c, schema(c).dataType)))

    // the liveness-drop changes a region's OUTPUT for the same inputs,
    // so retraction merges get their own memo namespace
    val dropTag = dropDeadOn.map(l => Seq("drop-dead:" + l)).getOrElse(Nil)
    def regionOp(ps: Seq[(Int, ChunkMeta)]): String =
      if (combinableHere) Hashing.opHash(
        Seq("graft-op-merge-region-v3c", fold.key, target.toString) ++
          dropTag ++ ps.map(_._2.hash).sorted)
      else Hashing.opHash(
        Seq("graft-op-merge-region-v3", fold.key, target.toString) ++
          dropTag ++ ps.map { case (s, c) => s"$s:${c.hash}" })

    // region lo -> either the resolved output chunks, or the op awaiting
    // the region job
    val resolved = scala.collection.mutable.HashMap.empty[String, Seq[ChunkMeta]]
    val pendingOps = scala.collection.mutable.HashMap.empty[String, String]
    val missing = Vector.newBuilder[(Seq[(Int, ChunkMeta)], String)]
    records.foreach { rec =>
      val ps: Seq[(Int, ChunkMeta)] = rec.parts.flatMap { p =>
        if (!p.spanning) Seq((p.src, p.chunk))
        else pieces((p.chunk.hash, rec.loHex)).map(pc => (p.src, pc))
      }.sortBy { case (s, c) => (s, c.minKeyHex) }
      ps match {
        case Seq() => resolved(rec.loHex) = Nil
        case Seq((_, only)) => resolved(rec.loHex) = Seq(only)
        case _ =>
          val op = regionOp(ps)
          store.memoGet(op) match {
            case Some(hit) => resolved(rec.loHex) = store.loadTableMeta(hit).chunks
            case None => pendingOps(rec.loHex) = op; missing += ((ps, op))
          }
      }
    }

    val miss = missing.result()
    val computed: Map[String, TableMeta] =
      if (miss.isEmpty) Map.empty
      else {
        val grp = Ops.TagCol
        // chunk -> regionOp per src; regions have disjoint key ranges so a
        // (src, chunk) pair belongs to exactly one region, and per-src
        // reads keep duplicate-table srcs separate
        val bySrc: Map[Int, Seq[(ChunkMeta, String)]] = miss
          .flatMap { case (ps, op) =>
            ps.map { case (s, c) => (s, c, op) }
          }
          .groupBy(_._1)
          .view.mapValues(_.map(t => (t._2, t._3))).toMap
        val srcParts = bySrc.toSeq.sortBy(_._1).map { case (src, files) =>
          chunkFrame(schema, keyCols, target, files.map(_._1),
              Ops.RowTag.PerChunk(files.map { case (c, op) => c.hash -> op }.toMap))
            .withColumn(SRC, lit(src.toLong))
        }
        val union = srcParts.reduce(_.unionByName(_))
        val folded0 = union.groupBy(col(grp) +: keyCols.map(col): _*)
          .agg(fold.aggs(valueCols).head, fold.aggs(valueCols).tail: _*)
        // retraction-merge death rule (see [[mergeRetract]]): folded
        // groups whose liveness lands on 0 are dropped, possibly leaving
        // a region EMPTY (a fully-purged result run) — memoized as the
        // empty table below so refreshes reuse the death too
        val folded = dropDeadOn.map(l => folded0.where(col(l) =!= 0L))
          .getOrElse(folded0)
        val subMetas = Canonical.materialize(engine, store, routes,
          castValues(folded, schema, valueCols), keyCols, target,
          groupCol = Some(grp),
          rowBound = Some(miss.flatMap(_._1).map(_._2.rows).sum),
          byteBound = chunkBytes(miss.flatMap(_._1).map(_._2)))
        subMetas.foreach { case (op, m) => store.memoPut(op, m.tableHash) }
        // an ABSENT region output is only legitimate on the retraction
        // path (every group in the region died under the liveness
        // filter); a PLAIN merge can never empty a region, so there a
        // missing op is a materialize bug — memoizing it as the
        // empty table would turn that bug into silent permanent data
        // loss via the memo. Fail fast instead (the old behavior).
        if (dropDeadOn.isDefined)
          miss.iterator.map(_._2).filterNot(subMetas.contains).foreach { op =>
            store.memoPut(op, emptyPiece.tableHash)
          }
        subMetas
      }
    pendingOps.foreach { case (lo, op) =>
      resolved(lo) = computed.get(op) match {
        case Some(m) => m.chunks
        case None if dropDeadOn.isDefined => Nil // fully-dead region
        case None => sys.error(
          s"merge region $lo produced no output on a plain merge")
      }
    }

    // ---- pass 2: streaming emit, in key order ----
    // Unrecorded regions are clean single-participant passthroughs;
    // recorded ones emit their resolved chunks. Regions are disjoint
    // ordered intervals and every emitted chunk lies inside its region,
    // so the concatenation is already minKey-sorted — no global sort.
    val out = Vector.newBuilder[ChunkMeta]
    val recorded = records.iterator.map(_.loHex).toSet
    MergePlanner.sweep(sources, target) { r =>
      if (recorded(r.loHex)) out ++= resolved(r.loHex)
      else r.parts match {
        case List(p) => out += p.chunk
        case other => sys.error(s"unrecorded dirty region ${r.loHex}: $other")
      }
    }
    // canonical-form repair (metadata-only when nothing is wrong):
    // passthrough regions inherit their input's decomposition, so a
    // non-canonical INPUT would otherwise propagate
    val meta = TableMeta(schemaJson, keyCols, target,
      canonicalizeSplice(schemaJson, keyCols, target, out.result()))
    store.saveTableMeta(meta)
    meta
  }

  /** Keyed merge of DIFFERENTLY-SHAPED tables, each aligned into the
    * joint output schema by a per-source projection evaluated AT READ
    * TIME — the fused substrate of the incremental join view
    * ([[Views.refreshJoin]]). Where the widen-then-merge chain
    * materialized a full widened copy of every input before merging,
    * this merges straight from the inputs' ORIGINAL chunk files: one
    * region-grouped Spark job computes every region the memo does not
    * already hold, so a first build is a single read+shuffle+write pass
    * and a refresh after a delta recomputes only the regions whose
    * participant chunks changed (region memo key = fold + bounds +
    * per-participant (alignSig, chunk hash)).
    *
    * Contract: every projection must pass the key columns through
    * UNCHANGED (bare `col(k)`), inputs must share key columns and chunk
    * granularity, and `alignSig` must fingerprint its projection
    * (FuncKey discipline — same sig ⇒ same column expressions). */
  def mergeAligned(inputs: Seq[Ops.AlignedInput],
      outSchema: org.apache.spark.sql.types.StructType,
      fold: FoldSpec): TableRef = {
    require(inputs.nonEmpty, "mergeAligned of zero tables")
    val envs = inputs.map(i => store.tableEnvelope(i.ref.hash))
    val keyCols = envs.head._2
    val target = envs.head._3
    require(envs.forall(e => e._2 == keyCols && e._3 == target),
      "mergeAligned requires equal key columns and chunk granularity")
    val schemaJson = Canonical.normalizeSchema(outSchema, keyCols).json
    val opHash = Hashing.opHash(Seq("graft-op-merge-aligned-v1", fold.key,
      target.toString, schemaJson) ++
      inputs.map(i => i.alignSig + ":" + i.ref.hash))
    TableRef(store.memoized(opHash) {
      val ins = inputs.zip(envs).map { case (i, e) =>
        (i, org.apache.spark.sql.types.DataType.fromJson(e._1)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      }
      computeMergeAligned(ins, schemaJson, keyCols, target, fold).tableHash
    })
  }

  private def computeMergeAligned(
      ins: Seq[(Ops.AlignedInput, org.apache.spark.sql.types.StructType)],
      schemaJson: String, keyCols: Seq[String], target: Long,
      fold: FoldSpec): TableMeta = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val valueCols = schema.fieldNames.toSeq.filterNot(keyCols.contains)
    val sources: Seq[MergePlanner.ChunkSource] =
      ins.map(i => store.chunkStream(i._1.ref.hash))
    val combinableHere =
      fold.combinableForNamed(valueCols.map(c => (c, schema(c).dataType)))

    // EVERY region is work here (source chunks are never in the output
    // schema, so there is no passthrough) — but region outputs memoize,
    // so after the first build only regions whose participant set
    // changed recompute. TWO streaming sweeps, like the identity merge:
    // sweep 1 retains ONLY the missed regions (O(delta) driver memory,
    // never O(table)); sweep 2 re-derives each region's memo key and
    // emits its chunks in key order.
    final case class Rec(loHex: String, hiHex: String,
        parts: List[MergePlanner.Part])

    // region identity: fold + bounds + participant (alignSig, chunk
    // content) — src-free + sorted for combinable folds (coalesce),
    // src-tagged otherwise (order-sensitive folds)
    def regionOp(rec: Rec): String = {
      val parts = rec.parts.map(p => (p.src, p.chunk))
        .sortBy { case (s, c) => (s, c.minKeyHex) }
      val tags =
        if (combinableHere)
          parts.map { case (s, c) => ins(s)._1.alignSig + ":" + c.hash }.sorted
        else parts.map { case (s, c) =>
          s.toString + ":" + ins(s)._1.alignSig + ":" + c.hash }
      Hashing.opHash(Seq("graft-op-merge-aligned-region-v1", fold.key,
        target.toString, rec.loHex, rec.hiHex) ++ tags)
    }

    val missed = Vector.newBuilder[(Rec, String)]
    MergePlanner.sweep(sources, target) { r =>
      val rec = Rec(r.loHex, r.hiHex, r.parts)
      val op = regionOp(rec)
      if (store.memoGet(op).isEmpty) missed += ((rec, op))
    }
    val miss = missed.result()
    // op → computed chunks for the missed regions (regions are disjoint
    // key intervals, so ops are unique per region)
    val resolved = scala.collection.mutable.HashMap.empty[String, Seq[ChunkMeta]]
    if (miss.nonEmpty) {
      val grp = Ops.TagCol
      // missed-region membership ranges: disjoint, lo-sorted. A row read
      // from a shared (spanning) chunk that belongs to a memo-HIT region
      // maps to no range and drops out — the piece-splitting of the
      // identity merge path, done with a binary search instead of
      // materialized piece files. The ranges are O(missed regions) =
      // O(delta) on refresh, never O(table).
      val ranges = new Ops.KeyRanges(
        miss.map(m => if (m._1.loHex == "-inf") Array.empty[Byte]
          else Hashing.unhex(m._1.loHex)).toArray,
        miss.map(m => if (m._1.hiHex == "+inf") null
          else Hashing.unhex(m._1.hiHex)).toArray,
        miss.map(_._2).toArray)
      // per-input read of ONLY the chunks participating in missed
      // regions, each aligned into the joint schema by its projection
      // (key columns pass through it unchanged, so rows are tagged by
      // their source key bytes)
      var readRows = 0L
      val bySrc: Map[Int, Seq[ChunkMeta]] = miss
        .flatMap { case (rec, _) => rec.parts.map(p => (p.src, p.chunk)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinctBy(_.hash)).toMap
      val srcParts = bySrc.toSeq.sortBy(_._1).map { case (src, chunks) =>
        chunks.foreach(c => readRows += c.rows)
        val (ai, srcSchema) = ins(src)
        chunkFrame(srcSchema, keyCols, target, chunks,
            Ops.RowTag.PerRange(chunks.map(_.hash -> ranges).toMap))
          .select(ai.projection :+ col(grp): _*)
          .withColumn(SRC, lit(src.toLong))
      }
      val tagged = srcParts.reduce(_.unionByName(_))
      val folded = tagged.groupBy(col(grp) +: keyCols.map(col): _*)
        .agg(fold.aggs(valueCols).head, fold.aggs(valueCols).tail: _*)
      val subMetas = Canonical.materialize(engine, store, routes,
        castValues(folded, schema, valueCols), keyCols, target,
        groupCol = Some(grp),
        rowBound = Some(readRows),
        byteBound = chunkBytes(bySrc.valuesIterator.flatten.toSeq))
      // a region whose participants have no rows inside it (a spanning
      // chunk whose keys skip the region) memoizes the empty table
      lazy val emptyMeta: TableMeta = {
        val em = TableMeta(schemaJson, keyCols, target, Nil)
        store.saveTableMeta(em); em
      }
      miss.foreach { case (_, op) =>
        val m = subMetas.getOrElse(op, emptyMeta)
        store.memoPut(op, m.tableHash)
        resolved(op) = m.chunks
      }
    }
    // sweep 2: emit in key order. Regions are disjoint ordered
    // intervals and every chunk lies inside its region, so the
    // concatenation is already minKey-sorted — no global sort. Memo-hit
    // regions stream through loadTableMeta without ever being retained.
    val out = Vector.newBuilder[ChunkMeta]
    MergePlanner.sweep(sources, target) { r =>
      val op = regionOp(Rec(r.loHex, r.hiHex, r.parts))
      out ++= resolved.getOrElse(op,
        store.loadTableMeta(store.memoGet(op).getOrElse(
          sys.error(s"aligned merge lost region ${r.loHex}"))).chunks)
    }
    val meta = TableMeta(schemaJson, keyCols, target,
      canonicalizeSplice(schemaJson, keyCols, target, out.result()))
    store.saveTableMeta(meta)
    meta
  }

  /** Upsert (tableInsert analogue, Table.hs:142-143): merge with a
    * singleton/delta table, last-wins. */
  def upsert(base: TableRef, delta: TableRef): TableRef =
    merge(Seq(base, delta), FoldSpec.FoldLast)

  /** Targeted delta apply: upsert `upserts` (full rows, canonical column
    * order = prev's schema) and delete `deleteKeys` (full key tuples)
    * into `prev`, rewriting ONLY the touched chunk runs — the point-DML
    * economics of a B-tree, on the content-defined chunk format. The
    * delta is driver-resident by contract (callers cap it and fall back
    * to a bulk path above the cap).
    *
    * Hash-converges with a from-scratch build because the chunk
    * decomposition is a pure function of the key set: a key starts a
    * chunk iff it is a boundary key ([[Canonical.isBoundaryKey]]), so an
    * edit only perturbs the run between the surrounding untouched
    * boundary keys. The one cross-chunk case — deleting the boundary key
    * that STARTS a chunk fuses its remainder into the predecessor — is
    * handled by extending the touched run to the predecessor. */
  def patchTable(prev: TableRef, upserts: Seq[org.apache.spark.sql.Row],
      deleteKeys: Seq[Seq[Any]]): TableRef =
    patchTableBounded(prev, upserts, deleteKeys, None).get

  /** [[patchTable]] with a profitability bound: returns None — caller
    * should rebuild — when the delta's keys touch more than `maxTouched`
    * chunks. A SCATTERED delta (e.g. a document batch's postings spread
    * over a whole inverted-index keyspace at test scale) can touch
    * nearly every chunk, and then a single-pass rebuild reads and
    * writes less than run-by-run splicing. */
  def patchTableBounded(prev: TableRef,
      upserts: Seq[org.apache.spark.sql.Row],
      deleteKeys: Seq[Seq[Any]],
      maxTouched: Option[Int]): Option[TableRef] = {
    import org.apache.spark.sql.Row
    val m = meta(prev)
    if (upserts.isEmpty && deleteKeys.isEmpty) return Some(prev)
    val kEnc = KeyCodec.rowEncoder(m.schema, m.keyCols)
    val upsertKbs = upserts.map(kEnc)
    val deleteKbs = deleteKeys.map(k =>
      boundBytes(m.schema, m.keyCols, Bound(k, inclusive = true)))
    if (m.chunks.isEmpty) {
      if (upserts.isEmpty) return Some(prev)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(upserts.toSeq), m.schema)
      return Some(TableRef(Canonical.materialize(engine, store, routes, df,
        m.keyCols, m.chunkTargetRows, rowBound = Some(upserts.length.toLong))(
        Canonical.Ungrouped).tableHash))
    }
    // owner chunk of a key: the run it belongs to under the boundary rule
    // — the last chunk starting at or before it (keys before the first
    // chunk join chunk 0's run; keys after the last join the last's)
    val minKeys: Array[Array[Byte]] = m.chunks.map(_.minKey).toArray
    def owner(kb: Array[Byte]): Int =
      math.max(0, Canonical.boundaryIndex(minKeys, kb) - 1)
    val touched = scala.collection.mutable.SortedSet.empty[Int]
    upsertKbs.foreach(kb => touched += owner(kb))
    deleteKbs.foreach { kb =>
      val o = owner(kb)
      touched += o
      // deleting the chunk-starting boundary key fuses the remainder
      // into the predecessor — they must rewrite as one run
      if (o > 0 && java.util.Arrays.equals(kb, m.chunks(o).minKey))
        touched += (o - 1)
    }
    // maximal contiguous runs of touched chunks
    val runs = Vector.newBuilder[Seq[Int]]
    var cur = List.empty[Int]
    touched.foreach { i =>
      cur match {
        case h :: _ if i == h + 1 => cur = i :: cur
        case Nil => cur = List(i)
        case _ => runs += cur.reverse; cur = List(i)
      }
    }
    if (cur.nonEmpty) runs += cur.reverse
    if (maxTouched.exists(touched.size > _)) return None
    val runList = runs.result()
    // dead keys: rows being deleted, plus rows replaced by an upsert
    val deadHex: Set[String] =
      (upsertKbs.iterator ++ deleteKbs.iterator).map(Hashing.hex).toSet
    // driver fast path: a metadata-sized patch (primitive schema, rows
    // under the cap) reads, splices, digests, and writes the touched
    // runs entirely ON THE DRIVER — zero Spark jobs, the point-DML
    // latency a B-tree page write has. Any surprise (unsupported
    // physical type in an old file, codec) falls back to the job path
    // below; results are bit-identical either way (same rows, same
    // boundary rule, same digest arithmetic — pinned in PatchTableSpec
    // against the Spark path's hashes).
    val patchRows =
      touched.iterator.map(i => m.chunks(i).rows).sum + upserts.length
    if (routes.driverPatch && DriverChunks.supported(m.schema) &&
        patchRows <= Ops.DriverPatchHardRowCap &&
        driverBytesOk(m, touched)) {
      Ops.routeOr(Option.empty[TableRef])(Some(
        driverPatch(m, runList, upserts, upsertKbs, deadHex, owner)))
        .foreach(r => return Some(r))
    }
    val runOfChunk: Map[Int, String] = runList.zipWithIndex.flatMap {
      case (idxs, r) => idxs.map(_ -> s"r$r")
    }.toMap
    val grp = "_graft_grp"
    val bcDead = spark.sparkContext.broadcast(deadHex)
    val isDead = udf { (kb: Array[Byte]) => bcDead.value(Hashing.hex(kb)) }
    val fileToRun = Canonical.fileTagUdf(spark, touched.iterator.map(i =>
      store.chunkPath(m.chunks(i).hash) -> runOfChunk(i)).toMap)
    val kept = Canonical.withKeyBytes(
      scanChunkSubset(m.schemaJson, m.keyCols, m.chunkTargetRows,
          touched.iterator.map(i => m.chunks(i)).toSeq)
        .withColumn(grp, fileToRun(input_file_name())),
      m.keyCols)
      .where(!isDead(col(Canonical.KB)))
      .drop(Canonical.KB)
    // upsert rows are tagged with their owner's run on the driver (the
    // owner is touched by construction, so every upsert lands in a run)
    val upSchema = m.schema.add(org.apache.spark.sql.types.StructField(
      grp, org.apache.spark.sql.types.StringType, nullable = false))
    val upRows = upserts.zip(upsertKbs).map { case (r, kb) =>
      Row.fromSeq(r.toSeq :+ runOfChunk(owner(kb)))
    }
    val upDf = spark.createDataFrame(
      spark.sparkContext.parallelize(upRows.toSeq), upSchema)
    val patched = kept.unionByName(upDf)
    val runMetas: Map[String, TableMeta] = Canonical.materialize(
      engine, store, routes, patched, m.keyCols, m.chunkTargetRows,
      groupCol = Some(grp),
      rowBound = Some(touched.iterator.map(i => m.chunks(i).rows).sum +
        upserts.length),
      byteBound = chunkBytes(touched.iterator.map(m.chunks(_)).toSeq))
    // splice: untouched chunks verbatim; each run's chunks at the
    // position of its first member (a run may vanish entirely)
    val out = Vector.newBuilder[ChunkMeta]
    val runHead: Map[Int, String] = runList.zipWithIndex.map {
      case (idxs, r) => idxs.head -> s"r$r"
    }.toMap
    m.chunks.indices.foreach { i =>
      if (!touched(i)) out += m.chunks(i)
      else runHead.get(i).foreach(rid =>
        out ++= runMetas.get(rid).map(_.chunks).getOrElse(Nil))
    }
    val chunks = canonicalizeSplice(m.schemaJson, m.keyCols,
      m.chunkTargetRows, out.result()
        .sortWith((a, b) => Hashing.compareBytes(a.minKey, b.minKey) < 0))
    val outMeta = TableMeta(m.schemaJson, m.keyCols, m.chunkTargetRows, chunks)
    store.saveTableMeta(outMeta)
    Some(TableRef(outMeta.tableHash))
  }

  /** Observed compressed size of `chunks` (file stats, no read) — the
    * byte bound callers hand to [[Canonical.materialize]] when the
    * input is known chunk files. None on any stat surprise (callers
    * then skip the byte-admitted driver route). */
  private def chunkBytes(chunks: Seq[ChunkMeta]): Option[Long] =
    try Some(chunks.iterator.map(c => java.nio.file.Files.size(
      java.nio.file.Paths.get(store.chunkPath(c.hash)))).sum)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Byte-aware admission for driver-side chunk work (the ADAPTIVE cap,
    * VERDICT r6 #5): a static row cap assumes an average row width — a
    * wide schema could blow driver memory under it while a narrow one
    * is needlessly denied the zero-job path. Observed width comes from
    * the chunks themselves: compressed file size (one stat per touched
    * chunk, no read). The work is admitted when the touched bytes fit
    * `routes.driverMaxBytes`; any stat surprise declines to the job
    * path. */
  private def driverBytesOk(m: TableMeta, chunkIdxs: Iterable[Int]): Boolean =
    try {
      var total = 0L
      val it = chunkIdxs.iterator
      while (it.hasNext) {
        total += java.nio.file.Files.size(java.nio.file.Paths.get(
          store.chunkPath(m.chunks(it.next()).hash)))
        if (total > routes.driverMaxBytes) return false
      }
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Driver-side POINT READ: the addressed keys' current rows, read
    * from their owner chunks through [[DriverChunks]] — no Spark job.
    * None when the schema isn't driver-readable, a chunk file can't be
    * read, or the owner chunks exceed the driver row cap (caller falls
    * back to the scan paths); keys with no row simply don't appear. */
  def readKeysDriver(ref: TableRef, keys: Seq[Seq[Any]])
      : Option[Seq[org.apache.spark.sql.Row]] = {
    val m = meta(ref)
    if (!DriverChunks.supported(m.schema)) return None
    if (m.chunks.isEmpty || keys.isEmpty) return Some(Nil)
    val kbs = keys.map(k =>
      boundBytes(m.schema, m.keyCols, Bound(k, inclusive = true)))
    val minKeys = m.chunks.map(_.minKey).toArray
    val owners = kbs.map(kb =>
      math.max(0, Canonical.boundaryIndex(minKeys, kb) - 1)).distinct
    if (owners.map(i => m.chunks(i).rows).sum > Ops.DriverPatchHardRowCap ||
        !driverBytesOk(m, owners))
      return None
    val want = kbs.map(Hashing.hex).toSet
    val kEnc = KeyCodec.rowEncoder(m.schema, m.keyCols)
    try Some(Canonical.parIo(owners) { i =>
      DriverChunks.readRows(java.nio.file.Paths.get(
        store.chunkPath(m.chunks(i).hash)), m.schema)
        .filter(r => want(Hashing.hex(kEnc(r))))
    }.flatten)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Driver-side RANGE read: the rows whose key tuple falls inside
    * [lower, upper] (rangeFilter's key-prefix bound semantics), read
    * from the chunks intersecting the range via [[DriverChunks]] — no
    * Spark job. The byte-encoded row filter and the chunk
    * classification use the same [[RangeBounds]] tests as
    * [[rangeFilter]], so the row set is identical to the scan path's.
    * None when the schema is not driver-readable, the intersecting
    * chunks exceed the row/byte caps, or on any read surprise — callers
    * fall back to the scan-based range paths. At 100 TB the caps reject all but
    * metadata-sized ranges before any IO. */
  def readRangeDriver(ref: TableRef, lower: Option[Bound],
      upper: Option[Bound]): Option[Seq[org.apache.spark.sql.Row]] = {
    val m = meta(ref)
    if (!DriverChunks.supported(m.schema)) return None
    if (m.chunks.isEmpty) return Some(Nil)
    val enc = boundBytes(m.schema, m.keyCols, _: Bound)
    val loB = lower.map(b => (enc(b), b.inclusive))
    val hiB = upper.map(b => (enc(b), b.inclusive))
    val hit = m.chunks.indices.filter { i =>
      val c = m.chunks(i)
      RangeBounds.passesHigh(c.minKey, hiB) && RangeBounds.passesLow(c.maxKey, loB)
    }
    if (hit.isEmpty) return Some(Nil)
    val rows = hit.iterator.map(i => m.chunks(i).rows).sum
    if (rows > Ops.adaptiveRowCap(m.schema, Ops.PatchMaxDeltaRows) ||
        !driverBytesOk(m, hit)) return None
    val kEnc = KeyCodec.rowEncoder(m.schema, m.keyCols)
    Ops.routeOr(Option.empty[Seq[Row]])(Some(Canonical.parIo(hit) { i =>
      DriverChunks.readRows(java.nio.file.Paths.get(
        store.chunkPath(m.chunks(i).hash)), m.schema)
        .filter { r =>
          val kb = kEnc(r)
          RangeBounds.passesLow(kb, loB) && RangeBounds.passesHigh(kb, hiB)
        }
    }.flatten))
  }

  private def deleteTmpDir(tmp: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(tmp)) {
      java.nio.file.Files.walk(tmp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    }

  /** CANONICAL-FORM repair for spliced chunk lists — every chunk except
    * the first must START at a boundary key, or the decomposition stops
    * being a pure function of the key set (same rows, different hashes
    * — breaking memo convergence, replication equality, and version
    * diff). A filtered per-chunk transform or an edge rewrite can
    * DELETE a chunk-starting boundary key, leaving its remainder
    * starting mid-run; this fuses each offender into its predecessor
    * and re-chunks the run. Detection is metadata-only (minKey
    * boundary-ness); offender runs are rare and rewrite driver-side
    * when the schema allows, else in one grouped job. */
  private def canonicalizeSplice(schemaJson: String, keyCols: Seq[String],
      target: Long, chunks: Seq[ChunkMeta]): Seq[ChunkMeta] = {
    if (chunks.length <= 1) return chunks
    def offender(i: Int): Boolean =
      i > 0 && !Canonical.isBoundaryKey(chunks(i).minKey, target)
    if (!(1 until chunks.length).exists(offender)) return chunks
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    // offender runs: each offender fuses with its predecessor;
    // consecutive/adjacent fusions merge into one run
    val runs = Vector.newBuilder[Seq[Int]]
    var cur = List.empty[Int]
    chunks.indices.foreach { i =>
      if (offender(i)) {
        if (cur.isEmpty) cur = List(i, i - 1) else cur = i :: cur
      } else if (cur.nonEmpty) {
        // a non-offender ends the run (it starts at a boundary key)
        runs += cur.reverse; cur = Nil
      }
    }
    if (cur.nonEmpty) runs += cur.reverse
    val runList0 = runs.result()
    val inRun = runList0.flatten.toSet
    // memoized per run (keyed by the participating chunk contents), so
    // a PERSISTENT offender seam — e.g. a memoized filtered view whose
    // per-chunk sub-results keep reproducing it — repairs once, and
    // every later refresh serves the fused run from the memo
    // schemaJson is part of the key: renamed tables SHARE chunk objects
    // but carry their own per-name zone-map stats — a fused sub-meta
    // must never serve across schemas
    def runOp(idxs: Seq[Int]): String = Hashing.opHash(
      Seq("graft-op-canon-fuse-v1", target.toString,
        Hashing.sha256Hex(schemaJson.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))) ++
        idxs.map(i => chunks(i).hash))
    val memoHit: Map[Int, Seq[ChunkMeta]] = runList0.flatMap { idxs =>
      store.memoGet(runOp(idxs)).map(h =>
        idxs.head -> store.loadTableMeta(h).chunks)
    }.toMap
    val runList = runList0.filterNot(idxs => memoHit.contains(idxs.head))
    val runRows = runList.map(r => r.map(i => chunks(i).rows).sum).sum
    def memoize(out: Map[Int, Seq[ChunkMeta]]): Map[Int, Seq[ChunkMeta]] = {
      runList.foreach { idxs =>
        val sub = TableMeta(schemaJson, keyCols, target, out(idxs.head))
        store.saveTableMeta(sub)
        store.memoPut(runOp(idxs), sub.tableHash)
      }
      out
    }
    val rewritten0: Map[Int, Seq[ChunkMeta]] =
      if (runList.isEmpty) Map.empty
      else if (DriverChunks.supported(schema) &&
          runRows <= Ops.DriverPatchMaxRows &&
          chunkBytes(runList.flatten.map(chunks)).exists(
            _ <= routes.driverMaxBytes)) {
        val kEnc = KeyCodec.rowEncoder(schema, keyCols)
        val tmp = java.nio.file.Files.createTempDirectory("graft-canon-fix-")
        try {
          val batch = Vector.newBuilder[(String, java.nio.file.Path)]
          val w = new Canonical.DriverRunWriter(schema, keyCols, target,
            store.chunkCodec, tmp, batch)
          // runs are independent — read + re-encode them CONCURRENTLY
          // (writeRun is thread-safe; a scattered DELETE leaves ~20% of
          // chunks as offenders, so the sequential pass was a visible
          // slice of the statement wall)
          val out = Canonical.parIo(runList) { idxs =>
            val rows = idxs.flatMap { i =>
              DriverChunks.readRows(java.nio.file.Paths.get(
                store.chunkPath(chunks(i).hash)), schema)
            }.map(row => (row, kEnc(row)))
            // chunks are disjoint and ordered — concatenation is sorted
            idxs.head -> w.writeRun(rows)
          }.toMap
          store.saveChunks(batch.result())
          out
        } finally deleteTmpDir(tmp)
      } else {
        val grp = "_graft_grp"
        val fileToRun = Canonical.fileTagUdf(spark, runList.flatMap(idxs =>
          idxs.map(i => store.chunkPath(chunks(i).hash) -> s"r${idxs.head}"))
          .toMap)
        val df = scanChunkSubset(schemaJson, keyCols, target,
            runList.flatten.map(i => chunks(i)))
          .withColumn(grp, fileToRun(input_file_name()))
        val metas = Canonical.materialize(engine, store, routes, df, keyCols,
          target, groupCol = Some(grp), rowBound = Some(runRows))
        runList.map(idxs => idxs.head -> metas(s"r${idxs.head}").chunks).toMap
      }
    val rewritten = memoHit ++ memoize(rewritten0)
    chunks.indices.flatMap { i =>
      if (!inRun(i)) Seq(chunks(i))
      else rewritten.getOrElse(i, Nil)
    }
  }

  /** The zero-job patch: read the touched runs' chunk files on the
    * driver ([[DriverChunks]]), splice the delta in memory, re-chunk by
    * the boundary rule, digest with the shared [[Canonical.DigestState]]
    * arithmetic, and write the new chunk files directly — no Spark job,
    * no shuffle, no plan compilation. Gated by the caller on primitive
    * schemas and [[Ops.DriverPatchMaxRows]]. */
  private def driverPatch(m: TableMeta, runList: Seq[Seq[Int]],
      upserts: Seq[org.apache.spark.sql.Row],
      upsertKbs: Seq[Array[Byte]], deadHex: Set[String],
      owner: Array[Byte] => Int): TableRef = {
    import org.apache.spark.sql.Row
    val schema = m.schema
    val kEnc = KeyCodec.rowEncoder(schema, m.keyCols)
    val target = m.chunkTargetRows
    val runOf: Map[Int, Int] = runList.zipWithIndex.flatMap {
      case (idxs, r) => idxs.map(_ -> r)
    }.toMap
    val upByRun: Map[Int, Seq[(Row, Array[Byte])]] = upserts.zip(upsertKbs)
      .groupBy { case (_, kb) => runOf(owner(kb)) }
      .view.mapValues(_.toSeq).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft-driver-patch-")
    try {
      val batch = Vector.newBuilder[(String, java.nio.file.Path)]
      val w = new Canonical.DriverRunWriter(schema, m.keyCols, target,
        store.chunkCodec, tmp, batch)
      // runs are independent — read, splice, digest, and write them
      // CONCURRENTLY (a scattered point delta touches dozens of runs;
      // sequential per-file driver IO was the latency floor)
      val newChunksByRun: Map[Int, Seq[ChunkMeta]] =
        Canonical.parIo(runList.zipWithIndex) { case (idxs, r) =>
          val kept = idxs.flatMap { i =>
            DriverChunks.readRows(
              java.nio.file.Paths.get(store.chunkPath(m.chunks(i).hash)),
              schema)
          }.map(row => (row, kEnc(row)))
            .filterNot { case (_, kb) => deadHex(Hashing.hex(kb)) }
          val rows = (kept ++ upByRun.getOrElse(r, Nil))
            .sortWith((a, b) => Hashing.compareBytes(a._2, b._2) < 0)
          r -> w.writeRun(rows)
        }.toMap
      store.saveChunks(batch.result())
      val out = Vector.newBuilder[ChunkMeta]
      val touchedSet = runList.flatten.toSet
      val runHead: Map[Int, Int] = runList.zipWithIndex.map {
        case (idxs, r) => idxs.head -> r
      }.toMap
      m.chunks.indices.foreach { i =>
        if (!touchedSet(i)) out += m.chunks(i)
        else runHead.get(i).foreach(r => out ++= newChunksByRun(r))
      }
      val chunks = canonicalizeSplice(m.schemaJson, m.keyCols, target,
        out.result()
          .sortWith((a, b) => Hashing.compareBytes(a.minKey, b.minKey) < 0))
      val outMeta = TableMeta(m.schemaJson, m.keyCols, m.chunkTargetRows, chunks)
      store.saveTableMeta(outMeta)
      TableRef(outMeta.tableHash)
    } finally deleteTmpDir(tmp)
  }

  // ---- transform (O2) --------------------------------------------------

  /** Metadata-only column rename — O(1), zero Spark jobs: chunk identity
    * is over row VALUE bytes (name-free), so the renamed table points at
    * the SAME chunk objects; reads stay correct in BOTH directions
    * (renamed table, and older versions sharing the chunks) because
    * chunk files are matched by positional parquet field id, not name,
    * and renames never move a column's canonical position. */
  def renameColumns(ref: TableRef, renames: Map[String, String]): TableRef = {
    val m = meta(ref)
    val fields = m.schema.fieldNames.toSet
    require(renames.keySet.subsetOf(fields),
      s"unknown columns: ${renames.keySet -- fields}")
    val clashes = (fields -- renames.keySet) ++ renames.values
    require(clashes.size == fields.size,
      s"rename collides with an existing column: $renames")
    val newKeys = m.keyCols.map(k => renames.getOrElse(k, k))
    val renamed = StructType(m.schema.fields.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name))))
    // zone-map stats are keyed by column NAME (per-table metadata over a
    // shared chunk object) — they rename with the schema
    val chunks = m.chunks.map(c => c.copy(stats = c.stats.map {
      case (n, s) => renames.getOrElse(n, n) -> s }))
    val out = TableMeta(Canonical.normalizeSchema(renamed, newKeys).json,
      newKeys, m.chunkTargetRows, chunks)
    store.saveTableMeta(out)
    TableRef(out.tableHash)
  }

  /** Column-level transform spec: Ops controls the projection so the
    * source-order index survives for deterministic collision folds.
    *
    * Key-preserving transforms take the chunk-level incremental path:
    * each source chunk's transform is memoized independently
    * (sortNode's per-subtree memoization, Trie.hs:467-470), so
    * re-transforming a table after a small upsert recomputes only the
    * chunks the upsert touched.
    *
    * RE-KEYING transforms with a combinable fold (sum/min/max) are also
    * incremental: each source chunk is transformed + pre-folded into a
    * memoized mini-table, and the minis feed the region-memoized merge —
    * the sortNode per-subtree sort + mergeNodes structure
    * (Trie.hs:446-470,297-430). After a small source upsert, only the
    * touched chunks' minis recompute, and only output regions whose
    * participant set changed re-merge. Order-sensitive re-keying folds
    * (fold_to_last collisions depend on source order) stay at
    * whole-table memo granularity.
    *
    * `prev`: the caller's previous RESULT of this same transform (e.g. a
    * materialized view's current catalog version). Purely an execution
    * hint — results are identical with or without it — that unlocks the
    * O(delta) routes of a re-key: the new result is derived from `prev`
    * — by a targeted chunk patch for [[ColTransform.uniqueKeys]] re-keys,
    * by the counting-IVM fold-in ([[rekeyDeltaFoldIn]]) for aggregate
    * views — instead of a re-merge of every per-chunk mini (which for a
    * re-key is the degenerate full-shuffle regime — every mini spans the
    * whole output key space). */
  def transform(ref: TableRef, t: ColTransform, fold: FoldSpec,
      prev: Option[TableRef] = None): TableRef = {
    // load the meta ONCE per call — with parquet-indexed chunk lists a
    // meta load is a sidecar read, not a free field access
    val m = meta(ref)
    // chunk granularity is intrinsic to the input table (its boundary
    // rule), not to this Ops instance — a differently-configured Ops
    // over the same store must produce identically-chunked results.
    // A re-keying transform may declare its OWN output granularity
    // (ColTransform.outTargetRows); the effective target is part of
    // the op identity either way.
    require(t.outTargetRows.isEmpty || !t.keyPreserving,
      "a key-preserving transform inherits its source's chunk granularity")
    val target = t.outTargetRows.getOrElse(m.chunkTargetRows)
    val opHash = Hashing.opHash(Seq(
      "graft-op-transform-v2", t.key, fold.key, target.toString, ref.hash))
    TableRef(store.memoized(opHash) {
      if (t.keyPreserving) transformPerChunk(m, t)
      else if (m.chunks.nonEmpty && rekeyCombinable(m, t, fold))
        transformRekeyIncremental(m, t, fold, prev, target)
      else transformDirect(m, t, fold, target)
    })
  }

  /** Whole-table re-key in ONE materialization pass (no per-chunk
    * sub-results): the generic path for order-sensitive folds, and the
    * from-scratch BUILD of combinable re-keys (where writing per-chunk
    * minis first would double the build IO for reuse the patch path
    * never needs — it splices row deltas). */
  private def transformDirect(m: TableMeta, t: ColTransform,
      fold: FoldSpec, target: Long): String = {
    val src0 = Canonical.withKeyBytes(scanMeta(m), m.keyCols)
    val src = t.rowFilter.map(src0.where).getOrElse(src0)
    val projected = src.select(t.columns :+ col(Canonical.KB).as(SRC): _*)
    val valueCols = projected.columns.filterNot(t.outKeyCols.contains)
      .filterNot(_ == SRC).toSeq
    // uniqueKeys contract: every output key occurs once, so collision
    // folding is a semantic no-op — skip the groupBy ENTIRELY and save
    // its full-output exchange (the build becomes scan→project→
    // materialize; the same uniqueness assumption the patch path
    // already splices on). Fold outputs never widen here, so no
    // cast-back either. Non-unique re-keys keep the deterministic fold.
    val out =
      if (t.uniqueKeys) projected.drop(SRC)
      else {
        val folded = projected.groupBy(t.outKeyCols.map(col): _*)
          .agg(fold.aggs(valueCols).head, fold.aggs(valueCols).tail: _*)
        castValues(folded,
          StructType(projected.schema.filterNot(_.name == SRC)), valueCols)
      }
    val srcRows = m.chunks.map(_.rows).sum
    // an AGGREGATE build's output is the group count — often metadata-
    // sized even over a large source. For moderate sources, bet on the
    // probe (one limit-guarded collect + driver write instead of the
    // sample + write job pair — VERDICT r13 #3/#6: the pair cost ~0.8 s
    // of a 1.0 s CREATE MV for a 512-group view at sf0.1). Two guards:
    // a source already under the SMALL-job rule keeps its rowBound —
    // that path is ONE width-1 job, cheaper than probe + driver write
    // (measured: the 37k-row retract-flow CREATE MV regressed 0.42 →
    // 0.65 s under an unconditional probe) — and the upper source-rows
    // guard keeps the bet OFF genuinely large builds, where a failed
    // probe would re-run the fold shuffle: at 100 TB the build takes
    // the job path straight.
    val aggProbe = !t.uniqueKeys && !t.generator &&
      !Canonical.smallJob(Some(srcRows), target) &&
      srcRows <= Ops.ProbeFoldMaxSourceRows
    Canonical.materialize(engine, store, routes, out,
      t.outKeyCols, target,
      // generator transforms can exceed the source row count — size
      // gating must treat their output as unknown; a TINY source still
      // admits the optimistic probe (bet the fanned output fits the
      // driver cap, limit-guarded — at scale the source-rows gate
      // rejects before any bet is placed)
      rowBound = if (t.generator || aggProbe) None else Some(srcRows),
      rowProbe = if (t.generator) Some(srcRows) else None,
      probeFold = aggProbe)(Canonical.Ungrouped).tableHash
  }

  /** The incremental re-key path splits one fold into per-chunk partial
    * folds; that's only hash-stable when partial folds are bit-identical
    * for the transform's OUTPUT value types (a driver-only schema probe
    * on an empty frame — no job runs). FP sums fall back to the
    * whole-table path: FP addition is non-associative, so sum-of-sums
    * diverges bit-wise from a single sum and incremental refresh would
    * systematically break content-address convergence. */
  private def rekeyCombinable(m: TableMeta, t: ColTransform,
      fold: FoldSpec): Boolean = {
    if (!fold.combinable) return false
    // pure function of (input schema, transform identity, fold) — the
    // empty-frame analysis costs a Catalyst pass per call, and refresh
    // flows dispatch the same transform every statement
    Ops.combinableCache.getOrElseUpdate((m.schemaJson, t.key, fold.key)) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      val out = empty.select(t.columns: _*).schema
      fold.combinableForNamed(
        out.filterNot(f => t.outKeyCols.contains(f.name))
          .map(f => (f.name, f.dataType)).toSeq)
    }
  }

  /** Incremental re-keying transform (combinable folds): per source
    * chunk, transform + fold collisions + canonicalize into a memoized
    * mini-table (one batched job for all missing chunks), then fold-merge
    * the minis through the region-memoized merge. Partial-fold-then-fold
    * equals direct fold exactly because the fold is combinable. */
  private def transformRekeyIncremental(m: TableMeta, t: ColTransform,
      fold: FoldSpec, prev: Option[TableRef], target: Long): String = {
    def miniOp(chunkHash: String): String = Hashing.opHash(Seq(
      "graft-op-rekey-chunk-v1", t.key, fold.key,
      target.toString, chunkHash))
    // the reverse memo (result → source) lets the NEXT refresh find this
    // source version from the catalog's previous result and take the
    // O(delta) patch path
    def finish(resultHash: String): String = {
      store.memoPut(rekeyRevOp(t, fold, target, resultHash),
        m.tableHash)
      resultHash
    }
    // 1. O(delta) patch FIRST: it splices the row-level delta of the
    //    CHANGED source chunks onto the previous result — no minis.
    if (t.uniqueKeys) prev.foreach { p =>
      patchAgainstPrevious(m, t, fold, p, target)
        .foreach(h => return finish(h))
    }
    // 2. uniqueKeys build/rebuild: ONE direct materialization, no mini
    //    tables written — HALF the IO of the former minis-then-merge
    //    flow (which for a re-key always degenerates to the flat
    //    shuffle anyway). Refreshes stay O(delta) through the patch
    //    above; when it declines (wide or scattered delta), the rebuild
    //    IS the cheapest plan. Bit-identical either way: the chunk
    //    decomposition is a pure function of the key set. (Non-unique
    //    re-keys — aggregate views — keep eager minis: their O(delta)
    //    refresh runs through the piece/region-memoized merge, which
    //    NEEDS the full mini set.)
    if (t.uniqueKeys)
      return finish(transformDirect(m, t, fold, target))
    // 2b. Counting-IVM fold-in (non-unique re-keys — aggregate views):
    //     the row-level source delta folds into the previous result —
    //     inserted contributions as they are, deleted ones negated,
    //     liveness-0 groups deleted — on the driver when the changed
    //     chunks are byte-admitted, else distributed. An append has
    //     nothing to retract, so any combinable fold takes it; deletes
    //     need an invertible, linear fold with a liveness column (see
    //     retractionSpec). Cost O(delta + touched result regions), NOT
    //     the O(groups × chunks) full mini re-merge a group-scattered
    //     delta forces below: at 100 TB aggregate maintenance is priced
    //     by the RESULT table, not the fact table. Non-invertible folds
    //     (MIN/MAX/KMV) with deletes fall through to the exact mini path.
    prev.foreach { p =>
      rekeyDeltaFoldIn(m, t, fold, p, target)
        .foreach(h => return finish(h))
    }
    // 2c. FIRST build of a RETRACTABLE aggregate view (every fold member
    //     invertible + a liveness column, the retractionSpec admission):
    //     ONE direct materialization, no mini tables written — at 100 TB
    //     eager minis write a second full copy of the pre-folded corpus,
    //     and the n-way mini merge of a first build degenerates to the
    //     flat shuffle anyway (every mini spans the whole group space).
    //     Refreshes keep their O(delta) contract WITHOUT the mini
    //     substrate: appends, deletes and updates take the fold-in
    //     (driver or distributed) — the routes that never touch minis
    //     — and the rare declines (a NULL-contract trip, a delta over
    //     both variants' caps) fall to the mini path, which computes
    //     missing minis on demand in one batched job and memoizes them
    //     (the cost moves from EVERY build to the first refresh that
    //     actually needs the substrate). Non-invertible views (MIN/MAX/
    //     KMV members, no liveness column, or a fold that is not
    //     linear) keep eager minis: their
    //     update/delete refreshes cannot take the fold-in, so the memoized
    //     minis + region memos ARE their O(delta) story. Bit-identical
    //     either way: rekeyCombinable admits only bit-stable partial
    //     folds and the chunk decomposition is a pure function of the
    //     key set (the forced-mini route-equality specs pin it).
    if (prev.isEmpty && retractionSpec(m, t, fold).isDefined)
      return finish(transformDirect(m, t, fold, target))
    val memoized: Map[String, Option[String]] =
      m.chunks.map(c => c.hash -> store.memoGet(miniOp(c.hash))).toMap
    // 3. per-chunk minis (one batched compute of the missing ones)
    //    feeding the region-memoized merge.
    val computed = computeMinis(m.schema, m.keyCols, t, fold, target,
      m.chunks, miniOp)
    val miniRefs: Seq[TableRef] = m.chunks.map { c =>
      TableRef(memoized(c.hash)
        .orElse(computed.get(c.hash).map(_.tableHash))
        .getOrElse(sys.error(s"missing mini for chunk ${c.hash}")))
    }
    finish(merge(miniRefs, fold).hash)
  }

  /** Compute + memoize the per-chunk minis of `chunks` that lack a memo,
    * in ONE batched grouped materialization; returns the computed map.
    * Zone-map-proven all-filtered chunks memoize the empty mini without
    * being read, and a chunk whose rows are ALL dropped by the rowFilter
    * (no group in the job output) memoizes the empty mini too. */
  private def computeMinis(schema: org.apache.spark.sql.types.StructType,
      srcKeyCols: Seq[String], t: ColTransform, fold: FoldSpec, target: Long,
      chunks: Seq[ChunkMeta], miniOp: String => String)
      : Map[String, TableMeta] = {
    val missing0 = chunks.distinctBy(_.hash)
      .filter(c => store.memoGet(miniOp(c.hash)).isEmpty)
    if (missing0.isEmpty) return Map.empty
    lazy val emptyMini: TableMeta = {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val outSchema = Canonical.normalizeSchema(
        empty.select(t.columns: _*).schema, t.outKeyCols)
      val em = TableMeta(outSchema.json, t.outKeyCols, target, Nil)
      store.saveTableMeta(em)
      em
    }
    // zone-map chunk skipping: a chunk whose stats PROVE the rowFilter
    // matches none of its rows memoizes the empty mini without being
    // read — a delta-region refresh of a filtered aggregate view never
    // opens chunks outside the filter
    val noFilterMatch: ChunkMeta => Boolean =
      statsProveNoMatch(schema, t.rowFilter)
    val skipped: Map[String, TableMeta] = missing0.flatMap { c =>
      if (t.rowFilter.isDefined && noFilterMatch(c)) {
        store.memoPut(miniOp(c.hash), emptyMini.tableHash)
        Some(c.hash -> emptyMini)
      } else None
    }.toMap
    val missing = missing0.filterNot(c => skipped.contains(c.hash))
    val computed0: Map[String, TableMeta] =
      if (missing.isEmpty) Map.empty
      else {
        val grp = Ops.TagCol
        val df0 = chunkFrame(schema, srcKeyCols, target, missing,
          Ops.RowTag.PerChunk(missing.map(c => c.hash -> c.hash).toMap))
        val df = t.rowFilter.map(df0.where).getOrElse(df0)
        val projected = df.select(t.columns :+ col(grp): _*)
        val valueCols = projected.columns.filterNot(t.outKeyCols.contains)
          .filterNot(_ == grp).toSeq
        // pre-fold within (source chunk, output key): combinable folds
        // satisfy fold(fold(xs), fold(ys)) == fold(xs ++ ys)
        val folded = projected.groupBy(col(grp) +: t.outKeyCols.map(col): _*)
          .agg(fold.aggs(valueCols).head, fold.aggs(valueCols).tail: _*)
        val casted = castValues(folded,
          StructType(projected.schema.filterNot(_.name == grp)), valueCols)
        val metas = Canonical.materialize(engine, store, routes, casted,
          t.outKeyCols, target,
          groupCol = Some(grp),
          rowBound = if (t.generator) None
            else Some(missing.map(_.rows).sum),
          // generator output size is unknown, but a tiny INPUT makes
          // the optimistic driver probe the right bet (the changed
          // chunks' minis of a point ingest)
          rowProbe = if (t.generator) Some(missing.map(_.rows).sum)
            else None,
          byteBound = if (t.generator) None else chunkBytes(missing))
        metas.foreach { case (srcHash, sub) =>
          store.memoPut(miniOp(srcHash), sub.tableHash)
        }
        metas
      }
    val silent = missing.filterNot(c => computed0.contains(c.hash)).map { c =>
      require(t.rowFilter.isDefined,
        s"missing re-key result for unfiltered chunk ${c.hash}")
      store.memoPut(miniOp(c.hash), emptyMini.tableHash)
      c.hash -> emptyMini
    }.toMap
    computed0 ++ skipped ++ silent
  }

  /** Reverse memo key: which SOURCE version produced `resultHash` under
    * this transform — written after every re-key refresh, consumed by
    * [[previousVersion]]. Write-once is fine: any source mapping to the
    * same result serves equally as "previous" (its rows reproduce
    * exactly the result's rows). */
  private def rekeyRevOp(t: ColTransform, fold: FoldSpec, target: Long,
      resultHash: String): String =
    Hashing.opHash(Seq("graft-op-rekey-src-v1", t.key, fold.key,
      target.toString, resultHash))

  /** What changed since the previous refresh of a re-key — the common
    * prelude of [[patchAgainstPrevious]] and [[rekeyDeltaFoldIn]]:
    * `prev`'s own meta, and the source chunks removed and added since
    * the source version the reverse memo maps `prev` to. None — no
    * incremental route applies — when the reverse memo is missing, a
    * meta is unreadable (GC), or the source shape or either granularity
    * drifted. */
  private def previousVersion(m: TableMeta, t: ColTransform,
      fold: FoldSpec, prev: TableRef, target: Long)
      : Option[Ops.PreviousVersion] = {
    import scala.util.control.NonFatal
    def tryLoad(h: String): Option[TableMeta] =
      try Some(store.loadTableMeta(h)) catch { case NonFatal(_) => None }
    for {
      s1Hash <- store.memoGet(rekeyRevOp(t, fold, target, prev.hash))
      m1 <- tryLoad(s1Hash)
      if m1.schemaJson == m.schemaJson && m1.keyCols == m.keyCols &&
        m1.chunkTargetRows == m.chunkTargetRows
      pm <- tryLoad(prev.hash)
      if pm.chunkTargetRows == target
    } yield {
      val c2 = m.chunks.iterator.map(_.hash).toSet
      val c1 = m1.chunks.iterator.map(_.hash).toSet
      Ops.PreviousVersion(pm,
        removed = m1.chunks.filterNot(c => c2(c.hash)).distinctBy(_.hash),
        added = m.chunks.filterNot(c => c1(c.hash)).distinctBy(_.hash))
    }
  }

  /** O(delta) refresh of a uniqueKeys re-key: the row-level delta of
    * the changed source chunks, mapped through the row-local transform
    * and spliced onto the previous result ([[spliceUnique]]) — no mini
    * tables are computed or written. The delta comes from the driver
    * when the changed chunks are byte-admitted ([[sourceRowDelta]]: no
    * Spark job for non-generator transforms, since LocalFold evaluates
    * the delta plan on the driver), otherwise from one distributed net
    * ([[Ops.rowNet]]) over the changed chunks' contributions; either
    * way at most [[Ops.PatchMaxDeltaRows]] (width-adapted) rows per side
    * reach the driver. A small row delta scattered over MANY chunks — a
    * one-row-per-chunk DML changes every chunk hash while leaving almost
    * every row identical — therefore splices instead of rebuilding.
    * None — the caller rebuilds — when no previous version applies, too
    * many chunks changed, the delta is wide or over the caps, or the
    * splice does not pay. Exactness: transform∘diff == diff∘transform
    * under the uniqueKeys contract (no other source row can produce a
    * delta row's output keys), every diff is under the canonical row
    * identity, and content-defined chunking makes the spliced result's
    * decomposition a pure function of its key set. */
  private def patchAgainstPrevious(m: TableMeta, t: ColTransform,
      fold: FoldSpec, prev: TableRef, target: Long): Option[String] =
    previousVersion(m, t, fold, prev, target).flatMap { pv =>
      val pm = pv.result
      val changed = pv.removed ++ pv.added
      if (changed.isEmpty) Some(prev.hash)
      else if (changed.length > Ops.PatchMaxChangedChunks) None
      else {
        val cap = Ops.adaptiveRowCap(pm.schema, Ops.PatchMaxDeltaRows).toInt
        // driver: the source-row delta through the transform, re-diffed:
        // a source update the transform is insensitive to (a price
        // change under a custkey index) splices nothing
        def viaDriver: Option[Ops.RowDelta] =
          sourceRowDelta(m, pv.removed, pv.added).flatMap {
            case (insSrc, delSrc) => Ops.routeOr(Option.empty[Ops.RowDelta]) {
              for {
                ins <- driverContributions(t, m, pm, insSrc, cap)
                del <- driverContributions(t, m, pm, delSrc, cap)
              } yield Ops.multisetRowDiff(pm.schema, ins, del)
            }
          }
        // distributed: behind the wide-delta guard — above a quarter of
        // the source rows the single-pass rebuild reads and writes less.
        // Result rows are unique (the uniqueKeys contract), so every net
        // is ±1 and its sign alone says which side a row is on.
        def viaNet: Option[Ops.RowDelta] =
          if (4 * changed.iterator.map(_.rows).sum >
              m.chunks.iterator.map(_.rows).sum) None
          else Ops.routeOr(Option.empty[Ops.RowDelta]) {
            val n = pm.schema.length
            val net = Ops.rowNet(
              contributions(t, pm, readSourceChunks(m, pv.added)),
              contributions(t, pm, readSourceChunks(m, pv.removed)))
              .limit(2 * cap + 1).collect()
            val (ins, del) = net.toSeq.partition(_.getLong(n) > 0L)
            if (ins.length > cap || del.length > cap) None
            else Some((ins.map(r => Row.fromSeq(r.toSeq.take(n))),
              del.map(r => Row.fromSeq(r.toSeq.take(n)))))
          }
        viaDriver.orElse(viaNet).flatMap { case (ins, del) =>
          spliceUnique(m, fold, prev, pm, ins, del)
        }
      }
    }

  /** Splice a uniqueKeys re-key's delta onto its previous result `prev`
    * (meta `pm`): upsert `ins`, delete the keys of `del` (a key both
    * deleted and upserted is simply replaced). A delta whose keys touch
    * more than half the result's chunks does not pay as a splice; an
    * INSERT-only one then folds into `prev` through the region-memoized
    * merge when the result is smaller than its source `m` — the
    * uniqueKeys contract makes the delta's keys DISJOINT from prev's,
    * so the merge is collision-free and rewrites only the dirty
    * regions, where the rebuild would rescan the source. (A narrow
    * secondary index over a wide fact table folds in; a generator
    * index BIGGER than its source — the shingle case, measured 2×
    * slower — keeps the rebuild.) None: the caller rebuilds. */
  private def spliceUnique(m: TableMeta, fold: FoldSpec, prev: TableRef,
      pm: TableMeta, ins: Seq[Row], del: Seq[Row]): Option[String] = {
    if (ins.isEmpty && del.isEmpty) return Some(prev.hash)
    val kIdx = pm.keyCols.map(pm.schema.fieldIndex)
    patchTableBounded(prev, ins, del.map(r => kIdx.map(r.get)),
      Some(math.max(8, pm.chunks.length / 2))).map(_.hash).orElse {
      val resultSmaller = (for {
        pb <- chunkBytes(pm.chunks); mb <- chunkBytes(m.chunks)
      } yield pb < mb).getOrElse(false)
      if (del.nonEmpty || !resultSmaller) None
      else Ops.routeOr(Option.empty[String]) {
        import scala.jdk.CollectionConverters._
        val deltaMeta = Canonical.materialize(engine, store, routes,
          spark.createDataFrame(ins.asJava, pm.schema),
          pm.keyCols, pm.chunkTargetRows,
          rowBound = Some(ins.length.toLong))(Canonical.Ungrouped)
        if (deltaMeta.schemaJson != pm.schemaJson) None
        else {
          Ops.distributedFoldIns.incrementAndGet()
          Some(merge(Seq(prev, TableRef(deltaMeta.tableHash)), fold).hash)
        }
      }
    }
  }

  /** Byte-admitted SOURCE-row delta between two table versions' changed
    * chunks, read driver-side and diffed under the canonical row
    * identity ([[Ops.multisetRowDiff]]): Some((inserted, deleted)) when
    * the changed chunks fit the row/byte caps and the reads succeed —
    * None otherwise (callers fall back to their distributed paths).
    * Shared by the uniqueKeys splice and the aggregate fold-in. */
  private def sourceRowDelta(m: TableMeta, removed: Seq[ChunkMeta],
      added: Seq[ChunkMeta]): Option[Ops.RowDelta] = {
    if (!routes.driverMaterialize) return None
    val changed = removed ++ added
    val rows = changed.iterator.map(_.rows).sum
    if (rows > Ops.adaptiveRowCap(m.schema, Ops.PatchMaxDeltaRows) ||
        !chunkBytes(changed).exists(_ <= routes.driverMaxBytes) ||
        !DriverChunks.supported(m.schema)) {
      return None
    }
    Ops.routeOr(Option.empty[Ops.RowDelta]) {
      def rowsOf(cs: Seq[ChunkMeta]): Seq[Row] =
        Canonical.parIo(cs)(c => DriverChunks.readRows(
          java.nio.file.Paths.get(store.chunkPath(c.hash)), m.schema))
          .flatten
      Some(Ops.multisetRowDiff(m.schema, rowsOf(added), rowsOf(removed)))
    }
  }

  /** Counting-IVM fold-in of an aggregate view (a NON-unique combinable
    * re-key): the new result is the previous one with the row-level
    * source delta folded in — inserted contributions as they are,
    * deleted ones NEGATED, and a group whose liveness counter reaches 0
    * deleted. An append is the case with nothing to retract, so every
    * combinable fold admits it; a delta WITH deletes needs the
    * retraction admission ([[retractionSpec]]: invertible, linear
    * members and a liveness column). Exact either way: the admitted
    * folds are commutative/associative with bit-stable partials (the
    * [[rekeyCombinable]] contract), inversion is bit-exact for the
    * admitted integer folds, and content-defined chunking makes the
    * decomposition a pure function of the key set (pinned by the
    * incremental == from-scratch hash specs).
    *
    * One rule, two variants, tried in order: the DRIVER fold-in
    * ([[foldInDriver]]) when the changed source chunks are
    * byte-admitted, then the DISTRIBUTED fold-in ([[foldInDistributed]]),
    * which reuses the driver's delta when the driver already read it.
    * Cost is O(delta + result regions the delta keys touch), not the
    * O(groups × chunks) mini re-merge a group-scattered delta forces:
    * at 100 TB aggregate maintenance is priced by the RESULT table, not
    * the fact table. None (the mini path) when no previous version
    * applies, the delta is inadmissible, or a variant declines for
    * good. */
  private def rekeyDeltaFoldIn(m: TableMeta, t: ColTransform,
      fold: FoldSpec, prev: TableRef, target: Long): Option[String] =
    previousVersion(m, t, fold, prev, target).flatMap { pv =>
      val (pm, removed, added) = (pv.result, pv.removed, pv.added)
      // static retraction admission (cached empty-frame analysis — no IO)
      lazy val retractPlan = retractionSpec(m, t, fold)
      val addedRows = added.iterator.map(_.rows).sum
      val removedRows = removed.iterator.map(_.rows).sum
      if (removed.isEmpty && added.isEmpty) Some(prev.hash)
      else if (removed.length + added.length > Ops.PatchMaxChangedChunks ||
          // metadata pre-check before ANY chunk IO: an insert-only delta
          // strictly grows the changed region's row count (updates keep
          // it equal, deletes shrink it), so a fold that cannot retract
          // declines here for free instead of paying the reads and diff
          (addedRows <= removedRows && retractPlan.isEmpty) ||
          // routes.driverMaterialize doubles as the route-matrix master
          // switch (specs force it off to exercise the reference mini
          // path): honored by both variants, though the distributed one
          // never touches driver memory
          !routes.driverMaterialize) None
      else {
        val delta = sourceRowDelta(m, removed, added)
        def distributed: Option[String] = {
          import scala.jdk.CollectionConverters._
          def local(rs: Seq[Row]) = spark.createDataFrame(rs.asJava, m.schema)
          foldInDistributed(retractPlan, t, fold, prev, pm,
            delta.fold(readSourceChunks(m, added))(d => local(d._1)),
            delta.fold(readSourceChunks(m, removed))(d => local(d._2)),
            delta.fold(addedRows + removedRows)(d =>
              (d._1.length + d._2.length).toLong))
        }
        delta.fold(distributed)(d =>
          foldInDriver(retractPlan, m, t, fold, prev, pm, d)(distributed))
      }
    }

  /** Static retraction admission — what a delta WITH deletes needs to
    * take the counting-IVM fold-in ([[rekeyDeltaFoldIn]]) — a cached
    * empty-frame analysis, no IO:
    *
    *  - every VALUE column's fold member is INVERTIBLE
    *    ([[FoldSpec.invertContrib]]: SUM/COUNT negate, HIST negates bin
    *    counts; MIN/MAX/KMV cannot retract) and LINEAR
    *    ([[FoldSpec.scaleContrib]]), so a net delta row of multiplicity
    *    M folds as ONE scaled contribution;
    *  - every value column's contribution is provably NON-NULL in the
    *    analyzed projection — NULL-skipping folds (sum) revert to NULL,
    *    not 0, when the last non-null contribution is retracted, which
    *    inversion cannot express;
    *  - some value column is a LIVENESS counter: its per-row
    *    contribution is the literal 1 (a lowered COUNT(*)), so after
    *    retraction it equals the group's REMAINING source row count and
    *    reaching 0 identifies a dead group the from-scratch result
    *    would not emit — the classic counting-IVM requirement; a
    *    SUM-only view cannot observe group death and declines.
    *
    * Generators decline naturally (their analyzed plan is not a bare
    * Project). Pure semantics of (source schema, transform, fold) —
    * cached like [[rekeyCombinable]]'s probe. */
  private def retractionSpec(m: TableMeta, t: ColTransform,
      fold: FoldSpec): Option[Ops.RetractPlan] =
    // the caller-declared non-null set joins the cache key: the same
    // view SQL (same t.key) over a re-created source whose NOT NULL
    // flags changed must not reuse a stale admission (the canonical
    // m.schemaJson cannot distinguish them — it erases NOT NULL)
    Ops.retractCache.getOrElseUpdate((m.schemaJson,
      t.key + "\u0000" + t.nonNullContribs.toSeq.sorted.mkString(","),
      fold.key)) {
      import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
      import org.apache.spark.sql.catalyst.plans.logical.Project
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], m.schema)
      val analyzed = empty.select(t.columns: _*).queryExecution.analyzed
      analyzed match {
        case p: Project =>
          val vals = p.projectList
            .filterNot(ne => t.outKeyCols.contains(ne.name))
          val liveness = vals.collectFirst {
            case a: Alias if a.child == Literal(1L) => a.name
          }
          val inverts = vals.flatMap(ne =>
            fold.invertContrib(ne.name).map(ne.name -> _)).toMap
          // non-null: plan-proven (literals, CASE contributions) or
          // caller-declared (the canonical schema stores value columns
          // nullable, erasing the source DDL's NOT NULL — the SQL layer
          // re-derives it from the catalog entry)
          liveness.filter(_ => vals.forall(ne =>
            (!ne.nullable || t.nonNullContribs.contains(ne.name)) &&
              inverts.contains(ne.name) &&
              fold.scaleContrib(ne.name, lit(1L)).isDefined))
            .map(l => Ops.RetractPlan(l, inverts))
        case _ => None
      }
    }

  /** DRIVER variant of the counting-IVM fold-in ([[rekeyDeltaFoldIn]]):
    * the byte-admitted source delta `src` maps to contributions and
    * re-diffs on the driver, the touched groups' PREVIOUS rows are read
    * from the key-pruned result chunks, and ONE small fold over
    * {previous partials} ∪ {inserted} ∪ {inverted deleted} — the
    * previous rows participate as the partial folds they are (the
    * combinable contract) — splices onto `prev` through
    * [[patchTableBounded]] (zero jobs under the driver caps), deleting
    * the groups whose liveness reached 0. A decline the distributed
    * variant can still take — contributions, touched result rows or
    * touched result chunks over the driver caps, any failure — hands
    * over to `orDistributed`; deletes without the retraction admission
    * `rp`, or a NULL the non-null contract rules out, decline for good
    * (None: the exact mini path). */
  private def foldInDriver(rp: Option[Ops.RetractPlan], m: TableMeta,
      t: ColTransform, fold: FoldSpec, prev: TableRef, pm: TableMeta,
      src: Ops.RowDelta)(orDistributed: => Option[String]): Option[String] =
    Ops.routeOr(orDistributed) {
      import scala.jdk.CollectionConverters._
      val cap = Ops.adaptiveRowCap(pm.schema, Ops.PatchMaxDeltaRows).toInt
      val insT0 = driverContributions(t, m, pm, src._1, cap)
        .getOrElse(return orDistributed)
      val delT0 = driverContributions(t, m, pm, src._2, cap)
        .getOrElse(return orDistributed)
      // re-diff at the contribution level: an update the view is
      // insensitive to cancels out entirely
      val (insT, delT) = Ops.multisetRowDiff(pm.schema, insT0, delT0)
      if (insT.isEmpty && delT.isEmpty) return Some(prev.hash)
      val retract = if (delT.isEmpty) None else Some(rp.getOrElse(return None))
      // belt for the caller-declared non-null contract of a retraction:
      // a NULL observed in any inverted column (delta or previous
      // partials) means the declaration lied somewhere — decline to the
      // exact paths rather than compute wrong NULL semantics (this
      // cannot catch a historical NULL outside the touched rows, which
      // is exactly why the declaration is a contract)
      val invIdx = retract.toSeq.flatMap(_.inverts.keys)
        .map(pm.schema.fieldIndex).toArray
      def anyNull(rs: Iterable[Row]): Boolean =
        rs.exists(r => invIdx.exists(r.isNullAt))
      if (anyNull(insT) || anyNull(delT)) return None
      // groups are identified by their canonical key bytes
      val kIdx = pm.keyCols.map(pm.schema.fieldIndex)
      val keyId = Ops.rowIdentity(pm.schema, pm.keyCols)
      val touchedRows = (insT.iterator ++ delT.iterator).toSeq
        .distinctBy(keyId)
      // the touched groups' PREVIOUS rows, read driver-side from the
      // key-pruned result chunks under the usual row/byte caps; a splice
      // over more than half the result's chunks does not pay (each hit
      // chunk is a chunk the splice rewrites, so this is checked before
      // any read)
      val hit = chunksForKeys(pm, touchedRows.map(r => kIdx.map(r.get)))
      val maxTouched = math.max(8, pm.chunks.length / 2)
      if (hit.length > maxTouched || hit.iterator.map(_.rows).sum > cap ||
          !chunkBytes(hit).exists(_ <= routes.driverMaxBytes)) {
        return orDistributed
      }
      val touched = touchedRows.iterator.map(keyId).toSet
      val prevRows = Canonical.parIo(hit)(c => DriverChunks.readRows(
        java.nio.file.Paths.get(store.chunkPath(c.hash)), pm.schema))
        .flatten.filter(r => touched(keyId(r)))
      if (anyNull(prevRows)) return None
      // ONE local fold plan: previous partials ∪ inserted ∪ the deleted
      // contributions inverted (fold-declared, per column) — the Union
      // and Aggregate over driver rows fold on the driver
      // (LocalFold), so the collect below launches no job
      def local(rs: Seq[Row]) = spark.createDataFrame(rs.asJava, pm.schema)
      val kept = local(prevRows ++ insT)
      val contribs = retract.fold(kept)(r => kept.union(local(delT).select(
        pm.schema.fieldNames.toIndexedSeq.map(n =>
          r.inverts.getOrElse(n, col(n)).as(n)): _*)))
      val valueCols = pm.schema.fieldNames.toSeq
        .filterNot(pm.keyCols.contains)
      val folded = contribs.groupBy(pm.keyCols.map(col): _*)
        .agg(fold.aggs(valueCols).head, fold.aggs(valueCols).tail: _*)
      val newRows = collectDriverBounded(
        castValues(folded, pm.schema, valueCols)
          .select(pm.schema.fieldNames.toIndexedSeq.map(col): _*)).toSeq
      val (live, dead) = retract.fold((newRows, Seq.empty[Row])) { r =>
        val liveIdx = pm.schema.fieldIndex(r.livenessCol)
        newRows.partition(_.getLong(liveIdx) != 0L)
      }
      patchTableBounded(prev, live, dead.map(r => kIdx.map(r.get)),
        Some(maxTouched)) match {
        case Some(out) =>
          Ops.driverFoldIns.incrementAndGet()
          Some(out.hash)
        case None => orDistributed
      }
    }

  /** A re-key's per-row CONTRIBUTIONS to its result `pm`: `t`'s
    * rowFilter and projection over source rows, in the result's column
    * order — the rows every refresh diff compares. */
  private def contributions(t: ColTransform, pm: TableMeta,
      df: DataFrame): DataFrame =
    t.rowFilter.map(df.where).getOrElse(df).select(t.columns: _*)
      .select(pm.schema.fieldNames.toIndexedSeq.map(col): _*)

  /** [[contributions]] of driver-resident source rows (schema of `m`),
    * collected over a LocalRelation — no job for non-generator
    * transforms, whose output is at most the source rows — and, for a
    * generator, LIMIT-guarded: its fan-out is unbounded by the source
    * delta, so the cap rejects before the rows land. None above `cap`
    * rows. */
  private def driverContributions(t: ColTransform, m: TableMeta,
      pm: TableMeta, rs: Seq[Row], cap: Int): Option[Seq[Row]] =
    if (rs.isEmpty) Some(Nil)
    else {
      import scala.jdk.CollectionConverters._
      val df = contributions(t, pm, spark.createDataFrame(rs.asJava, m.schema))
      val out = collectDriverBounded(if (t.generator) df.limit(cap + 1) else df)
      if (out.length > cap) None else Some(out.toSeq)
    }

  /** A table version's changed chunks as a frame in the table's own
    * schema (field-id read metadata stripped) — the input of the
    * distributed fold-in when the driver holds no delta. */
  private def readSourceChunks(m: TableMeta, cs: Seq[ChunkMeta]): DataFrame =
    if (cs.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], m.schema)
    else scanChunkSubset(m.schemaJson, m.keyCols, m.chunkTargetRows, cs)
      .select(m.schema.fieldNames.map(nm => col(nm)
        .as(nm, org.apache.spark.sql.types.Metadata.empty)): _*)

  /** DISTRIBUTED variant of the counting-IVM fold-in
    * ([[rekeyDeltaFoldIn]]), for deltas over the driver caps: the
    * contributions of the added and removed source rows net in one
    * shuffle ([[Ops.rowNet]]; a per-row transform commutes with
    * multiset diff, so value-insensitive updates cancel as on the
    * driver), each net row folds ONCE — scaled by its multiplicity in
    * a LINEAR member ([[FoldSpec.scaleContrib]]), as it is in an
    * idempotent one — the deleted side through the fold-declared
    * inversion, one shuffle builds the net delta table at result
    * granularity, and the region merge folds it into `prev` rewriting
    * only dirty regions ([[mergeRetract]] for a delta with deletes,
    * which also drops liveness-0 groups). ONE probe job over the net
    * answers insert-only vs delete-bearing, the NULL belt of a
    * retraction's delta contributions (previous partials ride the
    * caller's non-null contract, which the SQL layer enforces at write
    * time — guardNotNull) and whether any net row stands for more than
    * one contribution, which a member neither linear nor idempotent
    * (XOR) cannot fold: it declines then. Cost: O(changed source rows +
    * dirty result regions), with no driver-resident rows the driver
    * variant did not already hold. */
  private def foldInDistributed(rp: Option[Ops.RetractPlan],
      t: ColTransform, fold: FoldSpec, prev: TableRef, pm: TableMeta,
      addedDf: => DataFrame, removedDf: => DataFrame,
      changedRows: Long): Option[String] =
    Ops.routeOr(Option.empty[String]) {
      val tag = Ops.NetCol
      val allCols = pm.schema.fieldNames.toIndexedSeq
      val net = Ops.rowNet(contributions(t, pm, addedDf),
        contributions(t, pm, removedDf)).persist()
      try {
        val invNull = rp.toSeq.flatMap(_.inverts.keys)
          .map(col(_).isNull).foldLeft(lit(false))(_ || _)
        val probeRow = Canonical.withJobDesc(spark, "graft:retract-net")(
          net.agg(
            max(when(invNull, 1L).otherwise(0L)).as("nulls"),
            max(when(col(tag) < 0L, 1L).otherwise(0L)).as("dels"),
            max(abs(col(tag))).as("mult")).head())
        // an empty net: the view's contributions did not change
        if (probeRow.isNullAt(2)) return Some(prev.hash)
        val hasDeletes = probeRow.getLong(1) == 1L
        val retract = rp.filter(_ => hasDeletes)
        if (hasDeletes && (retract.isEmpty || probeRow.getLong(0) == 1L))
          return None
        // |net| is the number of IDENTICAL contribution rows a net row
        // stands for — for a count-shaped view every contribution in a
        // group is the same (g, 1) row, so a retention purge of M rows
        // nets to ONE row with multiplicity M, folded as one scaled
        // contribution: O(distinct groups), not O(deleted rows)
        val mult = "_graft_mult"
        val scaled = allCols.map(n =>
          if (pm.keyCols.contains(n)) Some(col(n))
          else fold.scaleContrib(n, col(mult))
            .orElse(Option.when(Ops.idempotentMember(fold, n))(col(n))))
        if (probeRow.getLong(2) > 1L && scaled.contains(None)) return None
        val proj = scaled.zip(allCols).map { case (c, n) => c.getOrElse(col(n)) }
        val insT = net.where(col(tag) > 0L)
          .withColumnRenamed(tag, mult).select(proj: _*)
        // inversion first (a per-row projection), then the same scaling
        // by |net| — the linear folds commute the two
        val valueCols = allCols.filterNot(pm.keyCols.contains)
        val folded = retract.fold(insT)(r => insT.union(
          net.where(col(tag) < 0L)
            .select(allCols.map(n => r.inverts.getOrElse(n, col(n)).as(n)) :+
              (-col(tag)).as(mult): _*)
            .select(proj: _*)))
          .groupBy(pm.keyCols.map(col): _*)
          .agg(fold.aggs(valueCols).head, fold.aggs(valueCols).tail: _*)
        // probeFold: the delta collapses to the touched GROUP count —
        // usually metadata-sized even when changedRows is large (a
        // group-scattered purge nets to ~|groups| rows), so bet on one
        // limit-guarded collect + driver write over the sample + write
        // job pair. A failed probe re-runs the fold shuffle (the net is
        // cached, so the re-run is the shuffle alone) — the source-rows
        // guard keeps that bounded waste off genuinely huge deltas, and
        // a small-job-qualified bound keeps its cheaper ONE-job path
        // (same crossover as the direct build). A generator's output is
        // not bounded by its source rows: it bets on the tiny input.
        val deltaProbe =
          !Canonical.smallJob(Some(changedRows), pm.chunkTargetRows) &&
          changedRows <= Ops.ProbeFoldMaxSourceRows
        val deltaMeta = Canonical.materialize(engine, store, routes,
          castValues(folded, pm.schema, valueCols), pm.keyCols,
          pm.chunkTargetRows,
          rowBound = if (deltaProbe || t.generator) None else Some(changedRows),
          rowProbe = Option.when(t.generator)(changedRows),
          probeFold = deltaProbe)(Canonical.Ungrouped)
        if (deltaMeta.schemaJson != pm.schemaJson) None
        else if (deltaMeta.chunks.isEmpty) Some(prev.hash)
        else {
          Ops.distributedFoldIns.incrementAndGet()
          val delta = TableRef(deltaMeta.tableHash)
          Some(retract.fold(merge(Seq(prev, delta), fold))(r =>
            mergeRetract(prev, delta, fold, r.livenessCol)).hash)
        }
      } finally {
        net.unpersist(): Unit
      }
    }

  /** Chunk-level transform: per-chunk memo lookups, one batched Spark job
    * for all missing chunks, results spliced in key order (keys are
    * preserved, so source chunk ranges stay disjoint and ordered). */
  private def transformPerChunk(m: TableMeta, t: ColTransform): String = {
    def subOp(c: ChunkMeta): String = Hashing.opHash(Seq(
      "graft-op-transform-chunk-v2", t.key,
      m.chunkTargetRows.toString, c.hash))
    val memoized: Map[String, Option[String]] =
      m.chunks.map(c => c.hash -> store.memoGet(subOp(c))).toMap
    val missing0 = m.chunks.filter(c => memoized(c.hash).isEmpty)

    // derive the output schema by applying the projection to an empty
    // frame of the source schema (driver-only); also the schema of the
    // empty sub-result a fully-filtered chunk produces
    lazy val derivedSchemaJson: String = {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      Canonical.normalizeSchema(
        empty.select(t.columns: _*).schema, t.outKeyCols).json
    }
    lazy val emptySub: TableMeta = {
      val em = TableMeta(derivedSchemaJson, t.outKeyCols, m.chunkTargetRows, Nil)
      store.saveTableMeta(em)
      em
    }

    // zone-map chunk skipping (driver-only, conservative — a chunk
    // without usable stats always takes the compute path, which yields
    // the bit-identical result):
    //  - stats prove the rowFilter matches NO row → the empty sub-result
    //    without reading the chunk (a filtered view's refresh never
    //    opens chunks outside its WHERE);
    //  - under the identityUnless contract (every row the predicate
    //    does not match maps to itself), stats proving NO match pass the
    //    chunk through VERBATIM — zero IO, and the output table SHARES
    //    the chunk object with its source (structural sharing through
    //    non-key DML).
    val noFilterMatch: ChunkMeta => Boolean =
      statsProveNoMatch(m.schema, t.rowFilter)
    val passOk = t.identityUnless.isDefined && t.outKeyCols == m.keyCols &&
      derivedSchemaJson == m.schemaJson
    val noIdentityMatch: ChunkMeta => Boolean =
      if (passOk) statsProveNoMatch(m.schema, t.identityUnless)
      else _ => false
    val skipped: Map[String, TableMeta] = missing0.flatMap { c =>
      if (t.rowFilter.isDefined && noFilterMatch(c)) {
        store.memoPut(subOp(c), emptySub.tableHash)
        Some(c.hash -> emptySub)
      } else if (noIdentityMatch(c)) {
        val pass = TableMeta(m.schemaJson, m.keyCols, m.chunkTargetRows, Seq(c))
        store.saveTableMeta(pass)
        store.memoPut(subOp(c), pass.tableHash)
        Some(c.hash -> pass)
      } else None
    }.toMap
    val missing = missing0.filterNot(c => skipped.contains(c.hash))

    val computed0: Map[String, TableMeta] =
      if (missing.isEmpty) Map.empty
      else {
        val grp = Ops.TagCol
        // byte-admitted missing chunks (the zone-map DML shape) read on
        // the driver: the filter + projection + grouped materialization
        // then run without a job
        val df0 = chunkFrame(m.schema, m.keyCols, m.chunkTargetRows, missing,
          Ops.RowTag.PerChunk(missing.map(c => c.hash -> c.hash).toMap))
        val df = t.rowFilter.map(df0.where).getOrElse(df0)
        val projected = df.select(t.columns :+ col(grp): _*)
        val metas = Canonical.materialize(engine, store, routes, projected,
          t.outKeyCols, m.chunkTargetRows,
          groupCol = Some(grp),
          rowBound = Some(missing.map(_.rows).sum),
          byteBound = chunkBytes(missing))
        metas.foreach { case (srcHash, sub) =>
          store.memoPut(Hashing.opHash(Seq(
            "graft-op-transform-chunk-v2", t.key,
            m.chunkTargetRows.toString, srcHash)),
            sub.tableHash)
        }
        metas
      }
    val computed = computed0 ++ skipped

    // splice: keys preserved ⇒ per-chunk outputs cover the same disjoint
    // ranges in the same order. A FILTERED transform may drop every row
    // of a chunk — grouped materialize then emits no group for it and
    // its sub-result is the empty table (memoized so refreshes skip it)
    val allChunks0 = m.chunks.flatMap { c =>
      val subMeta = memoized(c.hash) match {
        case Some(h) => store.loadTableMeta(h)
        case None => computed.getOrElse(c.hash, {
          require(t.rowFilter.isDefined,
            s"missing transform result for unfiltered chunk ${c.hash}")
          store.memoPut(subOp(c), emptySub.tableHash)
          emptySub
        })
      }
      subMeta.chunks
    }.sortWith((a, b) => Hashing.compareBytes(a.minKey, b.minKey) < 0)
    val outSchemaJson = (memoized.values.flatten.headOption.map(store.loadTableMeta)
      orElse computed.values.headOption)
      .map(_.schemaJson)
      .getOrElse(derivedSchemaJson)
    // canonical-form repair: a rowFilter can drop a chunk-STARTING
    // boundary key, leaving its sub-result starting mid-run — fuse
    // (same rows must always give the same hash)
    val allChunks = canonicalizeSplice(outSchemaJson, t.outKeyCols,
      m.chunkTargetRows, allChunks0)
    val out = TableMeta(outSchemaJson, t.outKeyCols, m.chunkTargetRows, allChunks)
    store.saveTableMeta(out)
    out.tableHash
  }

  /** Resolve a transform predicate against the table schema (driver-only,
    * no job) and build the [[ZoneMaps]] proves-no-match test. Returns the
    * always-false test — "no claim" — when the predicate is absent,
    * doesn't analyze row-locally (subqueries, other tables), is
    * non-deterministic, or has a shape the zone-map evaluator doesn't
    * understand; every chunk is then treated as potentially matching. */
  private def statsProveNoMatch(schema: StructType, pred: Option[Column])
      : ChunkMeta => Boolean =
    pred.map { p =>
      // the evaluator is pure in (schema, predicate text) — cache it:
      // every DML statement / view refresh otherwise pays an empty-frame
      // ANALYSIS per zone-map probe (plan compile showed up in the
      // statement-flow JFR profiles), and min2med3 bench reruns repeat
      // the identical probes against fresh stores
      // Column#toString elides literal types ("1" renders the same for
      // int and long), so two semantically different predicates could
      // collide; append a pre-order literal-type signature to make the
      // key injective for the shapes the evaluator accepts
      val litSig = org.apache.spark.sql.GraftBridge.expression(p).collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal =>
          l.dataType.catalogString
      }.mkString(",")
      val key = (Hashing.sha256Hex(schema.json.getBytes(
        java.nio.charset.StandardCharsets.UTF_8)), p.toString + "#" + litSig)
      Ops.zoneProbeCache.getOrElseUpdate(key)(buildStatsProbe(schema, p))
    }.getOrElse(_ => false)

  private def buildStatsProbe(schema: StructType, p: Column)
      : ChunkMeta => Boolean =
    (try {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val conds = empty.where(p).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
      conds match {
        case Seq(cond) if cond.deterministic =>
          ZoneMaps.provablyNoMatch(schema, cond)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None })
      .getOrElse(_ => false)

  // ---- range filter (O3) -----------------------------------------------

  /** Keep keys within [lower, upper] (each end optional,
    * inclusive/exclusive, on a typed key prefix). Interior chunks pass
    * through untouched; at most the edge chunks are rewritten. */
  def rangeFilter(ref: TableRef, lower: Option[Bound], upper: Option[Bound]): TableRef = {
    val m = meta(ref)
    val enc = boundBytes(m.schema, m.keyCols, _: Bound)
    val loB = lower.map(b => (enc(b), b.inclusive))
    val hiB = upper.map(b => (enc(b), b.inclusive))
    val opHash = Hashing.opHash(Seq(
      "graft-op-range-v2",
      loB.map(b => Hashing.hex(b._1) + b._2).getOrElse("-inf"),
      hiB.map(b => Hashing.hex(b._1) + b._2).getOrElse("+inf"),
      ref.hash))
    TableRef(store.memoized(opHash) {
      computeRange(m, lower, upper, loB, hiB).tableHash
    })
  }

  private def computeRange(m: TableMeta, lower: Option[Bound], upper: Option[Bound],
      loB: Option[(Array[Byte], Boolean)], hiB: Option[(Array[Byte], Boolean)]): TableMeta = {
    def passesLow(kb: Array[Byte]): Boolean = RangeBounds.passesLow(kb, loB)
    def passesHigh(kb: Array[Byte]): Boolean = RangeBounds.passesHigh(kb, hiB)
    // in / out / intersects — the keyPrefixRangeRelation analogue
    // (/root/reference/messdb-base/src/MessDB/Trie/Path.hs:117-145)
    val keep = Vector.newBuilder[ChunkMeta]
    val edges = Vector.newBuilder[ChunkMeta]
    m.chunks.foreach { c =>
      val minIn = passesLow(c.minKey) && passesHigh(c.minKey)
      val maxIn = passesLow(c.maxKey) && passesHigh(c.maxKey)
      if (minIn && maxIn) keep += c
      else if (passesHigh(c.minKey) && passesLow(c.maxKey)) edges += c
      // else: fully out — dropped without reading (subtree pruning)
    }
    val edgeChunks = edges.result()
    val recomputed: Seq[ChunkMeta] =
      if (edgeChunks.isEmpty) Nil
      else {
        val edgeRows = edgeChunks.map(_.rows).sum
        val edgeBytes = chunkBytes(edgeChunks)
        // ZERO-JOB edge rewrite: at most two edge chunks per range — when
        // byte-admitted, read them driver-side ([[DriverChunks]]), filter
        // by the SAME byte-encoded bound tests that classified them, and
        // hand materialize a LocalRelation (its driver route then writes
        // the chunks without a Spark job). Row content is bit-identical
        // to the parquet scan + rangePredicate pair (DriverChunks
        // round-trip pinned; KeyCodec byte order IS the typed key order).
        val driverRows: Option[Seq[org.apache.spark.sql.Row]] =
          if (!routes.driverMaterialize ||
              !DriverChunks.supported(m.schema) ||
              edgeRows > Ops.adaptiveRowCap(m.schema, Ops.PatchMaxDeltaRows) ||
              !edgeBytes.exists(_ <= routes.driverMaxBytes)) None
          else Ops.routeOr(Option.empty[Seq[Row]]) {
            val kEnc = KeyCodec.rowEncoder(m.schema, m.keyCols)
            Some(Canonical.parIo(edgeChunks) { c =>
              DriverChunks.readRows(java.nio.file.Paths.get(
                store.chunkPath(c.hash)), m.schema)
                .filter { r =>
                  val kb = kEnc(r)
                  passesLow(kb) && passesHigh(kb)
                }
            }.flatten)
          }
        val df = driverRows match {
          case Some(rows) =>
            import scala.jdk.CollectionConverters._
            spark.createDataFrame(rows.asJava, m.schema)
          case None =>
            scanChunkSubset(m.schemaJson, m.keyCols, m.chunkTargetRows,
                edgeChunks)
              .where(rangePredicate(m.keyCols, lower, upper))
        }
        // edge rewrite keeps the TABLE's chunk granularity (passthrough
        // chunks are cut at it; a mixed-granularity meta would break the
        // boundary assumptions of later merges)
        Canonical.materialize(engine, store, routes, df, m.keyCols,
          m.chunkTargetRows, rowBound = Some(edgeRows),
          byteBound = driverRows.flatMap(_ => edgeBytes))(Canonical.Ungrouped).chunks
      }
    // canonical-form repair: an edge rewrite can remove the boundary
    // key that started the chunk AFTER the cut — fuse (see
    // canonicalizeSplice)
    val all = canonicalizeSplice(m.schemaJson, m.keyCols, m.chunkTargetRows,
      (keep.result() ++ recomputed)
        .sortWith((a, b) => Hashing.compareBytes(a.minKey, b.minKey) < 0))
    val out = TableMeta(m.schemaJson, m.keyCols, m.chunkTargetRows, all)
    store.saveTableMeta(out)
    out
  }

  /** Delete a key range: keep everything OUTSIDE [lower, upper] — the
    * complement expressed as two range filters merged back together.
    * The halves are key-disjoint, so the merge is single-source
    * passthrough everywhere except at most the two cut points: a
    * retention delete (drop a day / a tenant prefix) on a 100 TB table
    * is metadata work plus at most two edge-chunk rewrites, all
    * memoized. Bounds follow rangeFilter's key-TUPLE-prefix semantics:
    * a bound naming only the leading key column(s) deletes every key
    * extending it — e.g. dropping one tenant of a (tenant, id) table
    * with a single-column bound. */
  def deleteRange(ref: TableRef, lower: Option[Bound], upper: Option[Bound]): TableRef = {
    // keep-bounds flip the deleted bounds' inclusivity
    val below = lower.map(b =>
      rangeFilter(ref, None, Some(Bound(b.prefix, !b.inclusive))))
    val above = upper.map(b =>
      rangeFilter(ref, Some(Bound(b.prefix, !b.inclusive)), None))
    (below, above) match {
      case (Some(a), Some(b)) =>
        // the two keep-sides are DISJOINT and ORDERED (everything below
        // the deleted range, then everything above it), and boundary-ness
        // is a per-key property independent of the surrounding set — so
        // the union's canonical decomposition is the chunk-list CONCAT,
        // repaired only at the seam: the above-side's first chunk starts
        // at the first key past the range, which may not be a boundary
        // key, and then fuses into the below-side's last chunk
        // (canonicalizeSplice — metadata check, driver-side rewrite of
        // at most one run). The former region merge spent a full grouped
        // job re-deriving exactly this. Hash equality with a
        // from-scratch rebuild of the remaining rows is pinned
        // (IncrementalTransformSpec boundary-delete cases).
        val (ma, mb) = (meta(a), meta(b))
        val chunks = canonicalizeSplice(ma.schemaJson, ma.keyCols,
          ma.chunkTargetRows, ma.chunks ++ mb.chunks)
        TableRef(store.saveTableMeta(
          TableMeta(ma.schemaJson, ma.keyCols, ma.chunkTargetRows, chunks)))
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => // unbounded delete: the empty table
        val m = meta(ref)
        TableRef(store.saveTableMeta(
          TableMeta(m.schemaJson, m.keyCols, m.chunkTargetRows, Nil)))
    }
  }

  /** Point lookup (tableKeyRangeSingleton, Table.hs:151-168): prune to the
    * chunk(s) containing the key, read only those. */
  def lookup(ref: TableRef, key: Seq[Any]): DataFrame = {
    val m = meta(ref)
    val kb = boundBytes(m.schema, m.keyCols, Bound(key, inclusive = true))
    // `key` may be a key PREFIX: a chunk intersects the prefix range when
    // its minKey is <= kb OR itself extends kb (kb is lexicographically
    // smaller than its extensions), and symmetrically for maxKey
    val hit = m.chunks.filter(c =>
      (Hashing.compareBytes(c.minKey, kb) <= 0 || startsWith(c.minKey, kb)) &&
        (Hashing.compareBytes(kb, c.maxKey) <= 0 || startsWith(c.maxKey, kb)))
    if (hit.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else {
      val pred = m.keyCols.zip(key).map { case (c, v) => col(c) === lit(v) }
        .reduce(_ && _)
      scanChunkSubset(m.schemaJson, m.keyCols, m.chunkTargetRows, hit)
        .where(pred)
    }
  }

  /** Chunks that can contain any of `keys` (each a full-key or
    * key-prefix tuple) — the metadata half of [[lookupMany]], exposed
    * for plan-economics tests: a selective secondary-index probe must
    * open exactly these chunks, not the table. Driver-only: encodes each
    * probe key once and scans the in-memory chunk boundary list. */
  private[graft] def chunksForKeys(m: TableMeta, keys: Seq[Seq[Any]]): Seq[ChunkMeta] = {
    val kbs = keys.map(k => boundBytes(m.schema, m.keyCols, Bound(k, inclusive = true)))
    m.chunks.filter(c => kbs.exists(kb =>
      (Hashing.compareBytes(c.minKey, kb) <= 0 || startsWith(c.minKey, kb)) &&
        (Hashing.compareBytes(kb, c.maxKey) <= 0 || startsWith(c.maxKey, kb))))
  }

  /** Multi-point lookup: ONE pruned read serving many key probes (the
    * fetch half of a secondary-index lookup: index range scan yields
    * primary keys, this reads just the chunks those keys can live in).
    * The probe set is driver-resident by contract — callers cap it and
    * fall back to a full scan above the cap, the classic index-versus-
    * scan selectivity flip. Rows are re-filtered to exactly the probed
    * keys, so over-approximate chunk pruning never over-returns. */
  def lookupMany(ref: TableRef, keys: Seq[Seq[Any]]): DataFrame = {
    val m = meta(ref)
    if (keys.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    val hit = chunksForKeys(m, keys)
    if (hit.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else {
      // key tuples may be PREFIXES (e.g. the leading key columns): match
      // rows whose leading columns equal any probe tuple. Single-column
      // probes compile to one IN (→ InSet past the codegen threshold);
      // composite probes OR per-tuple conjunctions — fine under the
      // caller's probe cap.
      val pred = keys.groupBy(_.length).map {
        case (1, ks) => col(m.keyCols.head).isin(ks.map(_.head): _*)
        case (n, ks) => ks.map(k =>
          m.keyCols.take(n).zip(k).map { case (c, v) => col(c) === lit(v) }
            .reduce(_ && _)).reduce(_ || _)
      }.reduce(_ || _)
      scanChunkSubset(m.schemaJson, m.keyCols, m.chunkTargetRows, hit)
        .where(pred)
    }
  }

  /** Key-level diff of two table versions (git-diff over the canonical
    * format): returns (key cols..., change ∈ added|removed|changed).
    * Content addressing does the heavy lifting — chunks SHARED between
    * the versions cannot contain differences and are skipped without
    * reading, so diff cost is O(changed chunks), not O(table): the same
    * structural-sharing property that makes incremental merge cheap.
    * Rows that landed in different chunks only because a boundary moved
    * compare equal and are filtered out. */
  def diff(a: TableRef, b: TableRef): DataFrame = {
    val ma = meta(a); val mb = meta(b)
    require(ma.schemaJson == mb.schemaJson && ma.keyCols == mb.keyCols,
      "diff requires identically-shaped tables")
    val hashesA = ma.chunks.map(_.hash).toSet
    val hashesB = mb.chunks.map(_.hash).toSet
    val onlyA = ma.chunks.filterNot(c => hashesB(c.hash))
    val onlyB = mb.chunks.filterNot(c => hashesA(c.hash))
    val keyCols = ma.keyCols
    val valueCols = ma.schema.fieldNames.filterNot(keyCols.contains).toSeq
    def read(chunks: Seq[ChunkMeta]): DataFrame =
      if (chunks.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ma.schema)
      else scanChunkSubset(ma.schemaJson, ma.keyCols, ma.chunkTargetRows,
        chunks)
    def packed(df: DataFrame, tag: String): DataFrame =
      df.select(keyCols.map(col) :+
        struct(valueCols.map(col): _*).as(s"_v_$tag"): _*)
    val joined = packed(read(onlyA), "a")
      .join(packed(read(onlyB), "b"), keyCols, "full_outer")
    joined.select(keyCols.map(col) :+
      when(col("_v_a").isNull, lit("added"))
        .when(col("_v_b").isNull, lit("removed"))
        .otherwise(lit("changed")).as("change") :+
      col("_v_a") :+ col("_v_b"): _*)
      .where(col("_v_a").isNull || col("_v_b").isNull ||
        !(col("_v_a") <=> col("_v_b"))) // boundary-shift duplicates drop out
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** Change FEED between two table versions (the Delta-CDF read side,
    * `old` → `new`): full rows tagged `_change_type` ∈ insert | delete |
    * update_preimage | update_postimage (an updated key emits BOTH
    * images, like Delta/Debezium, so a consumer can compute deltas of
    * aggregates without the old version). Same structural-sharing
    * economics as [[diff]]: chunks shared by the two versions are
    * skipped unread, so feed cost is O(changed chunks); rows relocated
    * only by a chunk-boundary shift compare equal and drop out. The
    * output composes with [[graft.streaming.StreamCdc]] (insert/
    * update_postimage → upsert, delete → delete) — change feed out of
    * one table, CDC apply into a replica, is incremental replication. */
  def changes(a: TableRef, b: TableRef): DataFrame = {
    val ma = meta(a); val mb = meta(b)
    require(ma.schemaJson == mb.schemaJson && ma.keyCols == mb.keyCols,
      "changes requires identically-shaped tables")
    val hashesA = ma.chunks.map(_.hash).toSet
    val hashesB = mb.chunks.map(_.hash).toSet
    val onlyA = ma.chunks.filterNot(c => hashesB(c.hash))
    val onlyB = mb.chunks.filterNot(c => hashesA(c.hash))
    val keyCols = ma.keyCols
    val valueCols = ma.schema.fieldNames.filterNot(keyCols.contains).toSeq
    def read(chunks: Seq[ChunkMeta]): DataFrame =
      if (chunks.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ma.schema)
      else scanChunkSubset(ma.schemaJson, ma.keyCols, ma.chunkTargetRows,
        chunks)
    def packed(df: DataFrame, tag: String): DataFrame =
      df.select(keyCols.map(col) :+
        struct(valueCols.map(col): _*).as(s"_v_$tag"): _*)
    val joined = packed(read(onlyA), "a")
      .join(packed(read(onlyB), "b"), keyCols, "full_outer")
      .where(col("_v_a").isNull || col("_v_b").isNull ||
        !(col("_v_a") <=> col("_v_b")))
    def img(tag: String, v: Column): Column =
      struct(lit(tag).as("_t"), v.as("_v"))
    val exploded = joined
      .select(keyCols.map(col) :+ explode(
        when(col("_v_a").isNull, array(img("insert", col("_v_b"))))
          .when(col("_v_b").isNull, array(img("delete", col("_v_a"))))
          .otherwise(array(img("update_preimage", col("_v_a")),
            img("update_postimage", col("_v_b"))))).as("_c"): _*)
    exploded.select(keyCols.map(col) ++
      valueCols.map(v => col(s"_c._v.$v").as(v)) :+
      col("_c._t").as("_change_type"): _*)
  }

  /** Integrity check — the checkTrie analogue (Trie.hs:593-631): verify
    * every chunk's content hash, row count, key range, sort order, and
    * chunk disjointness against the stored metadata. Returns the list of
    * violations (empty = table verifies). */
  def verifyTable(ref: TableRef): Seq[String] = {
    val m = meta(ref)
    val problems = Vector.newBuilder[String]
    // chunk ranges must be sorted and disjoint
    m.chunks.sliding(2).foreach {
      case Seq(a, b) =>
        if (Hashing.compareBytes(a.maxKey, b.minKey) >= 0)
          problems += s"chunks ${a.hash.take(8)}/${b.hash.take(8)} overlap or misordered"
      case _ => ()
    }
    m.chunks.foreach { c =>
      if (!store.hasChunk(c.hash)) problems += s"missing chunk file ${c.hash}"
    }
    // the data pass reads only chunks that exist — a missing file is
    // already reported above, and handing its path to the parquet
    // reader would crash the verify instead of reporting it
    val present = m.chunks.filter(c => store.hasChunk(c.hash))
    if (present.nonEmpty) {
      val cols = m.schema.fieldNames.toSeq
      val kEnc = KeyCodec.rowEncoder(m.schema, m.keyCols)
      val rbEnc = KeyCodec.rowEncoderSliced(m.schema, cols)
      val statCols = Canonical.statColumns(m.schema, m.keyCols)
      val statPos = statCols.map(cols.indexOf).toArray
      val statDts = statCols.map(m.schema(_).dataType).toArray
      val byPath = present.map(c => store.chunkPath(c.hash) -> c.hash).toMap
      val bc = spark.sparkContext.broadcast(byPath)
      val fileOf = udf { (f: String) =>
        bc.value.getOrElse(new java.net.URI(f).getPath, "?")
      }
      val hashed = scanChunkSubset(m.schemaJson, m.keyCols,
          m.chunkTargetRows, present)
        .withColumn("_f", fileOf(input_file_name()))
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val rowSchema = StructType(Seq(StructField("_f", StringType),
        StructField("kb", BinaryType), StructField("rb", BinaryType),
        StructField("ends", ArrayType(IntegerType, containsNull = false))))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(rowSchema)
      val fIdx = hashed.schema.fieldIndex("_f")
      val cIdx = cols.map(hashed.schema.fieldIndex)
      val perRow = hashed.mapPartitions { it =>
        it.map { r =>
          val proj = Row.fromSeq(cIdx.map(i => r.get(i)))
          val (rb, ends) = rbEnc(proj)
          Row(r.getString(fIdx), kEnc(proj), rb, ends.toSeq)
        }
      }(enc)
      // one sorted pass per chunk file: rb leads with the key bytes, so
      // rb order is key order — each file's rows fold through the same
      // DigestState the chunk writers use, tagged with the file's hash
      val actual = perRow
        .repartition(spark.sessionState.conf.numShufflePartitions, col("_f"))
        .sortWithinPartitions(col("_f"), col("rb"))
        .rdd.mapPartitions { it =>
          val st = new Canonical.DigestState(statCols, statPos, statDts)
          val rows = it.buffered
          new Iterator[Canonical.FusedDigest] {
            def hasNext: Boolean = rows.hasNext
            def next(): Canonical.FusedDigest = {
              val f = rows.head.getString(0)
              st.reset()
              while (rows.hasNext && rows.head.getString(0) == f) {
                val r = rows.next()
                st.update(r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2),
                  r.getSeq[Int](3).toArray)
              }
              st.result(Canonical.Ungrouped, f)
            }
          }
        }.collect().map(d => d.tag -> d).toMap
      present.foreach { c =>
        val id = c.hash.take(8)
        actual.get(c.hash) match {
          case None => problems += s"chunk $id produced no rows"
          case Some(d) =>
            if (d.hash != c.hash) problems += s"chunk $id content hash mismatch"
            if (d.rows != c.rows)
              problems += s"chunk $id row count ${d.rows} != ${c.rows}"
            if (d.minKey != c.minKeyHex || d.maxKey != c.maxKeyHex)
              problems += s"chunk $id key range mismatch"
            // a meta may omit a column's stats (reads as "cannot
            // prune"); any stats it carries must be the chunk's own
            c.stats.foreach { case (n, s) =>
              if (!d.stats.get(n).contains(s))
                problems += s"chunk $id zone map mismatch on column $n"
            }
        }
      }
    }
    problems.result()
  }

  // ---- helpers ---------------------------------------------------------

  private def startsWith(full: Array[Byte], prefix: Array[Byte]): Boolean =
    RangeBounds.startsWith(full, prefix)

  private def boundBytes(schema: StructType, keyCols: Seq[String], b: Bound): Array[Byte] =
    RangeBounds.boundBytes(schema, keyCols, b)

  /** Lexicographic tuple-prefix predicate over typed key columns. */
  def rangePredicate(keyCols: Seq[String], lower: Option[Bound],
      upper: Option[Bound]): Column = {
    def cmp(vals: Seq[Any], strict: Boolean, gt: Boolean): Column = {
      // gt: key > prefix (or >= if !strict); !gt: key < prefix (or <=)
      val n = vals.length
      def rec(i: Int): Column =
        if (i == n - 1) {
          val c = col(keyCols(i)); val v = lit(vals(i))
          if (gt) { if (strict) c > v else c >= v }
          else { if (strict) c < v else c <= v }
        } else {
          val c = col(keyCols(i)); val v = lit(vals(i))
          val head = if (gt) c > v else c < v
          head || (c === v && rec(i + 1))
        }
      rec(0)
    }
    val lo = lower.map(b => cmp(b.prefix, strict = !b.inclusive, gt = true))
    val hi = upper.map(b => cmp(b.prefix, strict = !b.inclusive, gt = false))
    (lo, hi) match {
      case (Some(l), Some(h)) => l && h
      case (Some(l), None) => l
      case (None, Some(h)) => h
      case (None, None) => lit(true)
    }
  }
}

object Ops {
  /** Default chunk granularity: ~1M rows ⇒ chunks land in the 64–256 MB
    * parquet-file band SCALE.md prescribes for 100 TB tables (boundary
    * keys are 1/target of rows, so the driver-resident boundary list at
    * 1e12 rows is ~1e6 entries — comfortable). Tests and small stores
    * pass an explicit smaller target; the granularity is stamped into
    * each table and travels with it, so mixed-target stores stay
    * consistent (merge derives granularity from the tables). */
  val DefaultChunkTargetRows: Long = 1L << 20

  /** Caps for the incremental re-key refreshes
    * ([[Ops.patchAgainstPrevious]], [[Ops.rekeyDeltaFoldIn]]).
    * Changed-chunk cap bounds the delta read (O(changed × chunk rows));
    * delta-row cap bounds the driver-resident delta. Above either, the
    * refresh falls back to the rebuild or the mini merge — the bulk
    * path is the right plan for bulk deltas anyway. */
  val PatchMaxChangedChunks: Int = 1024
  val PatchMaxDeltaRows: Int = 65536

  /** [[Ops.rekeyCombinable]] probe results keyed by
    * (schemaJson, transform key, fold key) — pure semantics, safe to
    * share across sessions and stores. */
  private[core] val combinableCache =
    new Lru[(String, String, String), Boolean](512)

  /** Zone-map probe evaluators keyed by (schema hash, predicate text) —
    * pure semantics (the evaluator reads only chunk stats), safe to
    * share across sessions and stores. */
  private[core] val zoneProbeCache =
    new Lru[(String, String), ChunkMeta => Boolean](512)

  /** Static retraction admission for a (source schema, transform, fold)
    * triple — see [[Ops.retractionSpec]]. Pure semantics (empty-frame
    * analysis), safe to share across sessions and stores. */
  private[core] final case class RetractPlan(livenessCol: String,
      inverts: Map[String, org.apache.spark.sql.Column])

  /** The previous refresh of a re-key, as [[Ops.previousVersion]] finds
    * it: its result meta, and the source chunks removed and added
    * since. */
  private[core] final case class PreviousVersion(result: TableMeta,
      removed: Seq[ChunkMeta], added: Seq[ChunkMeta])
  private[core] val retractCache =
    new Lru[(String, String, String), Option[RetractPlan]](512)

  /** Observability counters, one per variant of the counting-IVM
    * fold-in ([[Ops.rekeyDeltaFoldIn]]): aggregate-view deltas the
    * DRIVER variant spliced, and deltas the DISTRIBUTED variant merged
    * in as a table — which also counts a uniqueKeys index's insert-only
    * delta merged in when its splice does not pay
    * ([[Ops.spliceUnique]]). Specs pin the route a refresh took;
    * graft.Bench reports them per query and statement. */
  private[graft] val driverFoldIns = new java.util.concurrent.atomic.AtomicLong
  private[graft] val distributedFoldIns =
    new java.util.concurrent.atomic.AtomicLong

  /** Whether value column `name` folds under an IDEMPOTENT member
    * (fold(n copies of x) == x): MIN, MAX, KMV, bitwise OR/AND. */
  private[core] def idempotentMember(fold: FoldSpec, name: String): Boolean =
    fold match {
      case FoldSpec.FoldByColumn(ms) =>
        ms.exists { case (c, f) => c == name && idempotentMember(f, name) }
      case f => f.idempotent
    }

  /** Row cap for the ZERO-JOB driver patch ([[Ops.patchTableBounded]]'s
    * fast path): total rows of the touched runs + upserts. Under it, a
    * point DML reads, splices, and writes its chunk runs entirely on
    * the driver (~milliseconds); above it, the Spark job path runs the
    * identical algorithm distributed. */
  val DriverPatchMaxRows: Long = 1L << 17

  /** Zero-job crossover for driver chunk reads ([[Ops.chunkFrame]]) and
    * driver-side aggregate folds ([[org.apache.spark.sql.LocalFold]])
    * (VERDICT r13 #3): under it, chunks read driver-side and fold as a
    * LocalRelation (no job at all — the point-DML latency story); above
    * it, the interpreted single-thread fold loses to the one-job parquet
    * scan whose filter is codegen'd across the cores (measured at sf0.1:
    * 1.39 s vs 1.16 s for a 230k-row scattered DELETE), so the read
    * routes to the scan job while the grouped materialization stays
    * driver-side under the byte budget. */
  val DriverZeroJobMaxRows: Long = 1L << 16

  /** The per-row tag column of [[Ops.chunkFrame]]. */
  private[core] val TagCol = "_graft_grp"

  /** How [[Ops.chunkFrame]] tags a row: with its chunk's tag, or with the
    * tag of the key-bytes range (of its chunk's [[KeyRanges]]) its key
    * falls in. Both map by chunk hash. */
  private[core] sealed trait RowTag
  private[core] object RowTag {
    final case class PerChunk(of: Map[String, String]) extends RowTag
    final case class PerRange(of: Map[String, KeyRanges]) extends RowTag
  }

  /** Disjoint key-bytes ranges `[lo, hi)`, sorted by `lo` (`hi` null:
    * unbounded), each with a tag. */
  private[core] final class KeyRanges(los: Array[Array[Byte]],
      his: Array[Array[Byte]], tags: Array[String]) extends Serializable {
    /** The tag of the range holding `kb` (the rightmost range with
      * lo <= kb: boundary keys open ranges), or null. */
    def tagOf(kb: Array[Byte]): String = {
      val i = Canonical.boundaryIndex(los, kb) - 1
      if (i >= 0 && (his(i) == null || Hashing.compareBytes(kb, his(i)) < 0))
        tags(i)
      else null
    }
  }

  /** Source-rows guard for the probeFold bet ([[Canonical.materialize]]):
    * an aggregate output is the GROUP count — usually metadata-sized —
    * but a failed probe re-runs the fold shuffle, so the bet is only
    * placed when the pre-fold input is moderate. 4M rows ≈ a sub-second
    * shuffle at local[32]; at 100 TB the gate keeps builds on the
    * straight job path. */
  val ProbeFoldMaxSourceRows: Long = 1L << 22

  /** Row ceiling independent of width (driver Row-object overhead
    * dominates below ~100 B/row; 1M rows ≈ low hundreds of MB). */
  val DriverPatchHardRowCap: Long = 1L << 20

  /** Row identity of every refresh diff: the canonical bytes of the
    * row's `cols` (all of them for whole rows, the key columns for
    * keys) — the encoding [[Canonical.DigestState]] hashes — so two rows
    * are the same exactly when a table hash cannot tell them apart:
    * -0.0 and 0.0 differ, NaNs are one value, binary values compare by
    * content. */
  private[core] def rowIdentity(schema: StructType,
      cols: Seq[String]): Row => java.nio.ByteBuffer = {
    val enc = KeyCodec.rowEncoder(schema, cols)
    r => java.nio.ByteBuffer.wrap(enc(r))
  }

  /** Rows added and rows removed. */
  private[core] type RowDelta = (Seq[Row], Seq[Row])

  /** Multiset delta of two row collections of `schema` under
    * [[rowIdentity]]: (`added` ∖ `removed`, `removed` ∖ `added`), each
    * occurrence cancelling one identical row of the other side. */
  private[core] def multisetRowDiff(schema: StructType, added: Seq[Row],
      removed: Seq[Row]): RowDelta = {
    val id = rowIdentity(schema, schema.fieldNames.toIndexedSeq)
    val net = scala.collection.mutable.LinkedHashMap
      .empty[java.nio.ByteBuffer, (Row, Int)]
    def count(rs: Seq[Row], d: Int): Unit = rs.foreach { r =>
      val k = id(r)
      net.update(k, net.get(k).fold((r, d)) { case (r0, n) => (r0, n + d) })
    }
    count(added, 1); count(removed, -1)
    def side(sign: Int): Seq[Row] = net.valuesIterator
      .flatMap { case (r, n) => Iterator.fill(sign * n)(r) }.toVector
    (side(1), side(-1))
  }

  /** The signed-multiplicity column of [[rowNet]]. */
  private[core] val NetCol = "_graft_net"

  /** Distributed [[multisetRowDiff]]: two frames of one schema netted
    * under [[rowIdentity]] in ONE shuffle — each row tagged +1 (added)
    * or −1 (removed) and grouped on its canonical bytes, zero nets
    * dropped. Returns the schema's columns plus [[NetCol]]: > 0 for
    * rows added, < 0 for rows removed, |net| copies each. */
  private[core] def rowNet(added: DataFrame, removed: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField}
    val schema = StructType(added.schema.fields.map(_.copy(nullable = true)))
    val cols = schema.fieldNames.toIndexedSeq
    val rb = "_graft_rb"
    val enc = KeyCodec.rowEncoder(schema, cols)
    val tagged = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
      schema.add(StructField(rb, BinaryType, nullable = false))
        .add(StructField(NetCol, LongType, nullable = false)))
    def tag(df: DataFrame, sign: Long): DataFrame =
      df.mapPartitions(_.map(r => Row.fromSeq(r.toSeq :+ enc(r) :+ sign)))(
        tagged)
    tag(added, 1L).union(tag(removed, -1L))
      .groupBy(col(rb))
      .agg(sum(col(NetCol)).as(NetCol), cols.map(c => first(col(c)).as(c)): _*)
      .where(col(NetCol) =!= 0L)
      .select(cols.map(col) :+ col(NetCol): _*)
  }

  /** Width-adaptive row cap for sites that know only a row count (no
    * chunk files to stat yet): scales `base` — calibrated for ~64 B
    * rows — by the schema's estimated row width, clamped to
    * [4096, [[DriverPatchHardRowCap]]]. Narrow schemas get a wider
    * zero-job window; wide schemas never blow the driver. */
  def adaptiveRowCap(schema: org.apache.spark.sql.types.StructType,
      base: Long): Long = {
    val width = math.max(16, schema.defaultSize)
    math.max(4096L, math.min(DriverPatchHardRowCap, base * 64L / width))
  }

  /** One input of [[Ops.mergeAligned]]: a source table plus the
    * projection that aligns its rows into the joint output schema
    * (evaluated at chunk-read time, never materialized) and the FuncKey
    * fingerprint of that projection. */
  final case class AlignedInput(ref: TableRef, alignSig: String,
      projection: Seq[org.apache.spark.sql.Column])

  /** The one catch of every driver and incremental route: `route`'s
    * failure falls back to `fallback` (the next route), and must be
    * OBSERVABLE — a persistent driver-path failure (an exotic codec, an
    * unsupported physical type in an old file) silently degrading every
    * point DML to the job path would be an invisible latency
    * regression, so it is warned ONCE per cause signature (class +
    * message). A USER error raised by the input itself — a null key, a
    * NOT NULL violation — is not a route failure: it propagates,
    * unwrapped from the task failure that carried it, since every other
    * route would only raise it again. A data exception (an ANSI
    * overflow, …) does fall back here: an incremental route computes in
    * its own order — a fold-in adds the inserted contributions to the
    * previous partials before it retracts the deleted ones — so it can
    * overflow where the exact paths do not ([[exactRouteOr]]). */
  private[graft] def routeOr[T](fallback: => T)(route: => T): T =
    orFallback(fallback, dataErrors = false)(route)

  /** [[routeOr]] for a route that evaluates the job path's own plan over
    * the same rows (the driver route's one collect of
    * [[Canonical.materialize]]): a Spark data exception it raises —
    * SQLSTATE class 22: `ARITHMETIC_OVERFLOW`, `DIVIDE_BY_ZERO`,
    * `CAST_INVALID_INPUT`, … — is the job path's too, so it propagates
    * as a user error instead of re-running there. */
  private[graft] def exactRouteOr[T](fallback: => T)(route: => T): T =
    orFallback(fallback, dataErrors = true)(route)

  private def orFallback[T](fallback: => T, dataErrors: Boolean)(
      route: => T): T =
    try route catch { case scala.util.control.NonFatal(e) =>
      userError(e, dataErrors).foreach(throw _)
      val sig = e.getClass.getName + ":" + String.valueOf(e.getMessage)
      if (warnedRouteCauses.add(sig))
        System.err.println(
          s"[graft] WARN driver-patch fell back to the Spark job path: $e")
      fallback
    }
  private val warnedRouteCauses =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The user error in `e`'s cause chain, if any: the null-key
    * rejection of [[Canonical.withKeyBytes]], a `raise_error` (the SQL
    * layer's NOT NULL guard) and, with `dataErrors`, a Spark data
    * exception (SQLSTATE class 22). */
  private def userError(e: Throwable, dataErrors: Boolean): Option[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).find {
      case i: IllegalArgumentException =>
        Option(i.getMessage).exists(_.startsWith(Canonical.NullKeyError))
      case s: org.apache.spark.SparkThrowable =>
        s.getCondition == "USER_RAISED_EXCEPTION" ||
          dataErrors && Option(s.getSqlState).exists(_.startsWith("22"))
      case _ => false
    }
}

/** Projection-style transform: named output columns (aliased), a subset of
  * which are the new key — the TransformFunc analogue with Ops-controlled
  * projection so the source index column survives. */
trait ColTransform extends Serializable {
  def key: String
  def outKeyCols: Seq[String]
  def columns: Seq[Column]
  /** Optional row predicate applied BEFORE the projection — the
    * row-dropping half of the reference's select/where latitude (our
    * TransformFunc comment: "may also drop rows"). Like `columns`, it
    * is part of the operation identified by `key` — changing the filter
    * requires a new key (FuncKey discipline). Filtering never changes
    * key VALUES of surviving rows, so key-preserving transforms keep
    * their per-chunk incremental memoization. */
  def rowFilter: Option[Column] = None
  /** Declare true when the transform leaves key VALUES untouched (it may
    * still change value columns): unlocks chunk-level incremental
    * memoization. The contract is the caller's responsibility, like the
    * reference's FuncKey discipline. */
  def keyPreserving: Boolean = false
  /** Caller contract for zone-map chunk PASSTHROUGH: any row where this
    * predicate is not TRUE maps to ITSELF (identity projection, kept by
    * the filter). A chunk whose stats prove no row satisfies it then
    * passes through verbatim — zero IO — on the key-preserving path
    * (SQL `UPDATE ... WHERE p` / `DELETE ... WHERE p` shapes). Like
    * `rowFilter`, it is part of the operation identified by `key`. */
  def identityUnless: Option[Column] = None
  /** Caller contract for O(delta) refresh-by-patch on RE-KEYING
    * transforms: every output key arises from AT MOST ONE source row
    * across the whole table (e.g. a secondary index whose out-key
    * appends the source primary key). The fold then never sees a
    * collision, so the new result can be derived from the PREVIOUS one
    * by deleting the keys of replaced source chunks' old rows and
    * upserting the new ones — no re-merge of every per-chunk mini.
    * Like `rowFilter`, part of the operation identified by `key`. */
  def uniqueKeys: Boolean = false
  /** Declare true when `columns` contains a GENERATOR (explode/inline):
    * one source row may produce MANY output rows, so source chunk row
    * counts are NOT an upper bound on output rows — size-gated
    * execution paths (the small-materialization fast path) must treat
    * the output size as unknown. Results are unaffected either way;
    * this only keeps task sizing honest. Generators re-key by nature
    * (`keyPreserving` must stay false). */
  def generator: Boolean = false
  /** Caller contract for the delete-aware RETRACTION route: value
    * columns whose per-row contribution is NEVER NULL — knowledge the
    * canonical table schema erases (it stores every value column
    * nullable). NULL-skipping folds (sum) revert to NULL, not 0, when a
    * group's last non-null contribution is retracted, which inversion
    * cannot express, so retraction admits a column only when the
    * analyzed projection proves it non-null OR the caller declares it
    * here (e.g. a SUM over a column the source DDL marks NOT NULL).
    * Like `uniqueKeys`, an honest declaration never changes results —
    * it only unlocks a route that is bit-identical by construction. */
  def nonNullContribs: Set[String] = Set.empty
  /** Output chunk granularity override for RE-KEYING transforms. By
    * default a transform result inherits its source's granularity; a
    * re-key whose output cardinality differs wildly from the source
    * (a generator index fanning 1→50, an aggregate collapsing 50→1)
    * can declare its own. Part of the operation identity (the op
    * hashes embed the effective target). Key-preserving transforms
    * must leave this unset — their output shares the source's chunk
    * decomposition by construction. */
  def outTargetRows: Option[Long] = None
}

object ColTransform {
  def apply(k: String, keys: Seq[String], cols: Seq[Column],
      preservesKeys: Boolean = false,
      filter: Option[Column] = None,
      passUnless: Option[Column] = None,
      uniqueOutKeys: Boolean = false,
      generates: Boolean = false,
      outTarget: Option[Long] = None,
      nonNull: Set[String] = Set.empty): ColTransform = {
    require(!(generates && preservesKeys),
      "a generator transform cannot be key-preserving")
    require(outTarget.isEmpty || !preservesKeys,
      "a key-preserving transform inherits its source's chunk granularity")
    new ColTransform {
      val key = k
      val outKeyCols = keys
      val columns = cols
      override val rowFilter = filter
      override val keyPreserving = preservesKeys
      override val identityUnless = passUnless
      override val uniqueKeys = uniqueOutKeys
      override val generator = generates
      override val outTargetRows = outTarget
      override val nonNullContribs = nonNull
    }
  }
}
