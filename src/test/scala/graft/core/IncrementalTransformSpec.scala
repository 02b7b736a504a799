package graft.core

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import scala.util.Random

/** Chunk-level incremental transform: per-chunk memoization must make a
  * re-transform after a small upsert O(delta), and its result must be
  * bit-identical (same table hash) to the non-incremental computation —
  * the sortNode subtree-memo behavior (Trie.hs:467-470). */
class IncrementalTransformSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def df(rows: Seq[(String, Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 4), schema)

  private val doubleV = ColTransform("double_v_v1", Seq("k"),
    Seq(col("k"), (col("v") * 2).as("v")), preservesKeys = true)

  test("key-preserving transform: content correct, equals whole-table result hash") {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-it-"))
    val ops = new Ops(spark, store, 16)
    val rows = (0 until 500).map(i => f"key$i%04d" -> i.toLong)
    val ref = ops.fromDataFrame(df(rows), Seq("k"))
    val out = ops.transform(ref, doubleV, FoldSpec.FoldLast)
    val got = ops.scan(out).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == rows.map { case (k, v) => k -> v * 2 }.toMap)
    // canonical: equals building the same content from scratch
    val scratch = ops.fromDataFrame(df(rows.map { case (k, v) => k -> v * 2 }), Seq("k"))
    assert(out.hash == scratch.hash)
  }

  test("re-transform after small upsert recomputes only touched chunks") {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-it2-"))
    val ops = new Ops(spark, store, 16)
    val rows = (0 until 2000).map(i => f"key$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val t1 = ops.transform(base, doubleV, FoldSpec.FoldLast)
    val nChunks = ops.meta(base).chunks.length
    assert(nChunks > 20)

    val delta = Seq("key00500" -> 999999L, "keyzz" -> 5L)
    val merged = ops.upsert(base, ops.fromDataFrame(df(delta), Seq("k")))
    store.stats.reset()
    val t2 = ops.transform(merged, doubleV, FoldSpec.FoldLast)
    val saves = store.stats.snapshot("chunkSaves")
    val hits = store.stats.snapshot("memoHits")
    assert(saves <= 6,
      s"incremental transform should rewrite few chunks, wrote $saves of $nChunks")
    assert(hits > nChunks / 2, s"expected chunk-level memo hits, got $hits")
    // content + canonical identity
    val want = (rows.toMap ++ delta.toMap).map { case (k, v) => k -> v * 2 }
    val got = ops.scan(t2).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    val scratch = ops.fromDataFrame(df(want.toSeq), Seq("k"))
    assert(t2.hash == scratch.hash)
    assert(t1.hash != t2.hash)
  }

  test("views: refresh is free when the source is unchanged, O(delta) after an upsert") {
    val ops = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-views-")), 64)
    val catalog = new Catalog(ops.store)
    val views = new Views(ops, catalog)
    val base = (0 until 1500).map(i => f"key$i%05d" -> i.toLong)
    catalog.put("src", ops.fromDataFrame(df(base), Seq("k")))

    val v1 = views.define("doubled", "src", doubleV)
    assert(ops.scan(v1).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == base.toMap.view.mapValues(_ * 2).toMap)

    // unchanged source: refresh is a whole-op memo hit, zero chunk writes
    // AND no new catalog root (no empty commits)
    val rootBefore = ops.store.currentRootHash
    ops.store.stats.reset()
    val v2 = views.refresh("doubled")
    assert(v2.hash == v1.hash)
    assert(ops.store.stats.snapshot("chunkSaves") == 0, "refresh did work on unchanged source")
    assert(ops.store.currentRootHash == rootBefore, "no-op refresh minted a root")

    // small source delta: refresh recomputes only the touched chunks
    val delta = ops.fromDataFrame(df(Seq("key00700" -> 9999L)), Seq("k"))
    catalog.put("src", ops.upsert(catalog.get("src").get, delta))
    ops.store.stats.reset()
    val v3 = views.refresh("doubled")
    val totalChunks = ops.meta(v3).chunks.length
    val written = ops.store.stats.snapshot("chunkSaves")
    assert(written > 0 && written < totalChunks / 4,
      s"delta refresh wrote $written of $totalChunks chunks — not incremental")
    val got = ops.scan(v3).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("key00700") == 19998L)
    assert(got("key00000") == 0L)
    // the view's previous versions remain addressable through root history
    assert(catalog.log(10).length >= 3)
  }

  test("re-keying aggregate view: refresh after a 1-key upsert is O(delta), hash-equals from-scratch") {
    // The north-star case (VERDICT r2 #1): an AGGREGATE view — re-keyed
    // and folded — must refresh in O(delta) after a small source upsert,
    // via per-chunk mini-transforms (sortNode per-subtree memo,
    // Trie.hs:446-470) feeding the region-memoized merge with
    // spanning-chunk piece splitting (mergeNodes reuse, Trie.hs:297-430).
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekey-"))
    val ops = new Ops(spark, store, 64)
    // group key REVERSES the digits — a scattering, locality-destroying
    // re-key: each source chunk's groups spread across the whole output
    // keyspace, the hard case for incremental refresh
    val rekeySum = ColTransform("rekey_sum_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
        col("v")))
    val rows = (0 until 20000).map(i => f"k$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val nSrcChunks = ops.meta(base).chunks.length
    assert(nSrcChunks > 100, s"want many source chunks, got $nSrcChunks")

    val v1 = ops.transform(base, rekeySum, FoldSpec.FoldSum)
    def model(data: Map[String, Long]): Map[String, Long] =
      data.toSeq.groupBy { case (k, _) => "g" + k.substring(1, 5).reverse }
        .view.mapValues(_.map(_._2).sum).toMap
    val got1 = ops.scan(v1).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got1 == model(rows.toMap))

    // 1-key update -> 1-2 source chunks change
    val delta = Seq("k00100" -> 777777L)
    val merged = ops.upsert(base, ops.fromDataFrame(df(delta), Seq("k")))
    val changedSrcChunks = {
      val baseHashes = ops.meta(base).chunks.map(_.hash).toSet
      ops.meta(merged).chunks.count(c => !baseHashes(c.hash))
    }
    assert(changedSrcChunks <= 3, s"upsert touched $changedSrcChunks chunks")

    store.stats.reset()
    val v2 = ops.transform(merged, rekeySum, FoldSpec.FoldSum)
    val snap = store.stats.snapshot
    // O(delta): only the changed chunks' minis recompute (everything else
    // is a mini memo hit); the changed mini's pieces dedupe against the
    // old pieces by content, so only regions whose participant content
    // actually changed re-merge. The whole refresh writes a handful of
    // chunks out of hundreds of regions.
    assert(snap("chunkSaves") <= 12,
      s"refresh should write O(delta) chunks, wrote ${snap("chunkSaves")} (stats $snap)")
    assert(snap("memoHits") >= nSrcChunks - changedSrcChunks,
      s"unchanged chunks must hit their mini memos: $snap")
    // result correct and bit-identical to a from-scratch build in a
    // FRESH store (history independence of the canonical form)
    val want = model(rows.toMap ++ delta.toMap)
    val got2 = ops.scan(v2).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == want)
    assert(got2("g0010") == want("g0010"))
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekey2-")), 64)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df((rows.toMap ++ delta.toMap).toSeq), Seq("k")),
      rekeySum, FoldSpec.FoldSum)
    assert(v2.hash == scratch.hash,
      "incremental aggregate refresh must hash-equal the from-scratch build")
    // most output chunks are structurally shared with the previous view
    val v1Hashes = ops.meta(v1).chunks.map(_.hash).toSet
    val shared = ops.meta(v2).chunks.count(c => v1Hashes(c.hash))
    val total = ops.meta(v2).chunks.length
    assert(shared >= total - 6,
      s"expected near-total chunk sharing after 1-key update: $shared/$total")
  }

  test("append-delta aggregate refresh folds into the previous result: no mini traffic, hash-equals every other route") {
    // INSERT-only deltas take the fold-in route: new_result =
    // merge(prev_result, fold(delta rows)) — priced by the RESULT, not
    // by a re-merge of every per-chunk mini. The group key scatters
    // (digit reversal), so the appended keys' groups spread across the
    // whole output keyspace — the shape that makes the mini re-merge
    // O(groups × chunks) and the fold-in O(delta + touched regions).
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyap-"))
    val ops = new Ops(spark, store, 64)
    val rekeySum = ColTransform("rekey_sum_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
        col("v")))
    val rows = (0 until 20000).map(i => f"k$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val v1 = ops.transform(base, rekeySum, FoldSpec.FoldSum)

    // pure append: 60 NEW keys (sort after every existing key — a tail
    // batch), groups scattered by the reversal
    val delta = (20000 until 20060).map(i => f"k$i%05d" -> (i * 3).toLong)
    val merged = ops.upsert(base, ops.fromDataFrame(df(delta), Seq("k")))

    store.stats.reset()
    val v2 = ops.transform(merged, rekeySum, FoldSpec.FoldSum,
      prev = Some(v1))
    val snap = store.stats.snapshot
    // the fold-in consults the reverse memo, the whole-op memo, and the
    // RESULT merge's region memos (~#result regions) — it must NOT walk
    // the per-chunk mini memos (the mini path does one memoGet per
    // source chunk, ~300 here)
    assert(snap("memoHits") + snap("memoMisses") <= 60,
      s"append refresh walked the mini memos: $snap")
    assert(snap("chunkSaves") <= 16,
      s"append refresh should write O(delta) chunks, wrote ${snap("chunkSaves")}")
    // value correctness against the driver model
    def model(data: Map[String, Long]): Map[String, Long] =
      data.toSeq.groupBy { case (k, _) => "g" + k.substring(1, 5).reverse }
        .view.mapValues(_.map(_._2).sum).toMap
    val want = model((rows ++ delta).toMap)
    val got = ops.scan(v2).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    // hash-equals a from-scratch build in a fresh store
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyap2-")), 64)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df(rows ++ delta), Seq("k")), rekeySum,
      FoldSpec.FoldSum)
    assert(v2.hash == scratch.hash,
      "append fold-in must hash-equal the from-scratch build")
    // and hash-equals the forced mini route (fold-in declines when the
    // driver routes are disabled)
    val store3 = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyap3-"))
    val ops3 = new Ops(spark, store3, 64)
    val base3 = ops3.fromDataFrame(df(rows), Seq("k"))
    val v13 = ops3.transform(base3, rekeySum, FoldSpec.FoldSum)
    val merged3 = ops3.upsert(base3, ops3.fromDataFrame(df(delta), Seq("k")))
    val v23 = new Ops(spark, store3, 64,
      routes = Routes(driverMaterialize = false))
      .transform(merged3, rekeySum, FoldSpec.FoldSum, prev = Some(v13))
    assert(v23.hash == v2.hash,
      "fold-in route diverged from the mini-merge route")
  }

  /** `body`'s result plus the Spark jobs it launched. */
  private def withJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private val rekeyCntSum = ColTransform("rekey_cnt_sum_v1", Seq("g"),
    Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
      lit(1L).as("cnt"), col("v")),
    nonNull = Set("v"))
  private val foldCntSum = FoldSpec.FoldByColumn(Seq(
    "cnt" -> FoldSpec.FoldSum, "v" -> FoldSpec.FoldSum))

  test("an INSERT into existing groups folds in on the driver with zero Spark jobs, hash-equals from-scratch") {
    // an append is a retraction with nothing to retract: over
    // byte-admitted chunks the fold-in's plan runs on the driver
    // (LocalFold), folds the touched groups' previous rows with the
    // delta and splices them onto the previous result (zero-job patch)
    // — no delta table is materialized and merged in, and no job runs
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyai-"))
    val ops = new Ops(spark, store, 64)
    // every key ending in 7 is missing, so each inserted key lands in
    // the existing group of its nine siblings; the inserted keys share
    // their third and fourth digits, so their groups (digit-reversed)
    // are adjacent: one or two result chunks, inside the splice bound
    val rows = (0 until 20000).filter(_ % 10 != 7).map(i => f"k$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val v1 = ops.transform(base, rekeyCntSum, foldCntSum)
    val delta = (0 until 20).map(a => f"k$a%02d127" -> 5L)
    val merged = ops.upsert(base, ops.fromDataFrame(df(delta), Seq("k")))
    val spliced0 = Ops.splicedFoldIns.get()
    val (v2, jobs) = withJobs(
      ops.transform(merged, rekeyCntSum, foldCntSum, prev = Some(v1)))
    assert(Ops.splicedFoldIns.get() == spliced0 + 1,
      "the INSERT refresh did not splice its fold-in")
    assert(jobs == 0, s"the INSERT refresh launched $jobs Spark jobs")
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyai2-")), 64)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df(rows ++ delta), Seq("k")), rekeyCntSum, foldCntSum)
    assert(v2.hash == scratch.hash,
      "the spliced fold-in of an INSERT must hash-equal the from-scratch build")
  }

  test("a driver-admitted DELETE touching more result chunks than the splice bound takes the distributed fold-in, not the mini walk") {
    // the changed source chunks fit the driver caps, but the deleted
    // keys' groups scatter over most result chunks, past
    // patchTableBounded's bound: the fold-in merges its delta in as a
    // table (region merge + liveness filter) instead of declining to
    // the per-chunk mini walk
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyds-"))
    val ops = new Ops(spark, store, 64)
    val rows = (0 until 20000).map(i => f"k$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val v1 = ops.transform(base, rekeyCntSum, foldCntSum)
    // 80 keys whose groups scatter (their third and fourth digits, the
    // group's leading ones, vary); plus all ten keys of group g3210
    // (group death)
    val delKeys = ((0 until 80).map(i => f"k${i * 239}%05d") ++
      (0 until 10).map(i => f"k0123$i")).distinct
    val merged = ops.patchTable(base, Nil, delKeys.map(Seq(_)))
    val (spliced0, merged0) = (Ops.splicedFoldIns.get(), Ops.mergedFoldIns.get())
    store.stats.reset()
    val v2 = ops.transform(merged, rekeyCntSum, foldCntSum, prev = Some(v1))
    val snap = store.stats.snapshot
    // the splice bound declines the splice sink
    assert((Ops.splicedFoldIns.get() - spliced0,
      Ops.mergedFoldIns.get() - merged0) == (0L, 1L),
      s"the scattered DELETE did not merge its fold-in delta alone " +
        s"(result chunks ${ops.meta(v1).chunks.length}, memo $snap)")
    // the mini walk does one memoGet per source chunk (~300 here)
    assert(snap("memoHits") + snap("memoMisses") <= 150,
      s"the scattered DELETE refresh walked the mini memos: $snap")
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyds2-")), 64)
    val dead = delKeys.toSet
    val scratch = ops2.transform(
      ops2.fromDataFrame(df(rows.filterNot(r => dead(r._1))), Seq("k")),
      rekeyCntSum, foldCntSum)
    assert(v2.hash == scratch.hash,
      "the merged fold-in must hash-equal the from-scratch build")
    assert(ops.scan(v2).where("g = 'g3210'").isEmpty,
      "a fully-deleted group must vanish")
  }

  test("delete-delta aggregate refresh RETRACTS into the previous result: O(delta), group death, hash-equals every route") {
    // VERDICT r11 #2: a DELETE-then-REFRESH over an invertible fold
    // (SUM/COUNT) with a liveness column must take the retraction
    // route — deleted contributions fold in negated, a group whose
    // remaining row count reaches 0 is deleted — instead of the
    // O(groups × chunks) mini re-merge. The group key scatters
    // (digit reversal), the hard shape for any chunk-local scheme.
    val rekeyAgg = ColTransform("rekey_cnt_sum_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
        lit(1L).as("cnt"), col("v")),
      // the canonical schema stores v nullable; the source contract says
      // it never is — the declaration that admits SUM retraction
      nonNull = Set("v"))
    val fold = FoldSpec.FoldByColumn(Seq(
      "cnt" -> FoldSpec.FoldSum, "v" -> FoldSpec.FoldSum))
    def model(data: Map[String, Long]): Map[String, (Long, Long)] =
      data.toSeq.groupBy { case (k, _) => "g" + k.substring(1, 5).reverse }
        .view.mapValues(vs => (vs.length.toLong, vs.map(_._2).sum)).toMap

    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyrt-"))
    val ops = new Ops(spark, store, 64)
    val rows = (0 until 20000).map(i => f"k$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val v1 = ops.transform(base, rekeyAgg, fold)

    // delta: kill ONE whole group (all 10 keys sharing leading digits
    // 0123 → group g3210), thin two others, and update one value
    val delKeys: Seq[String] =
      (0 until 10).map(i => f"k0123$i") ++ Seq("k04567", "k08888")
    val upserts = Seq("k15000" -> 42L)
    val merged = ops.patchTable(
      ops.upsert(base, ops.fromDataFrame(df(upserts), Seq("k"))),
      Nil, delKeys.map(Seq(_)))

    store.stats.reset()
    val retracts0 = Ops.splicedFoldIns.get()
    val v2 = ops.transform(merged, rekeyAgg, fold, prev = Some(v1))
    val snap = store.stats.snapshot
    assert(Ops.splicedFoldIns.get() == retracts0 + 1,
      "delete-delta refresh did not take the retraction route")
    // O(delta): no per-chunk mini walk (~300 memoGets here), few writes
    assert(snap("memoHits") + snap("memoMisses") <= 60,
      s"retraction refresh walked the mini memos: $snap")
    assert(snap("chunkSaves") <= 16,
      s"retraction refresh should write O(delta) chunks, wrote ${snap("chunkSaves")}")
    // value correctness incl. GROUP DEATH
    val want = model(rows.toMap ++ upserts.toMap -- delKeys)
    val got = ops.scan(v2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains("g3210"), "fully-retracted group must vanish")
    assert(got == want)
    // hash-equals a from-scratch build in a fresh store
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyrt2-")), 64)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df((rows.toMap ++ upserts.toMap -- delKeys).toSeq),
        Seq("k")), rekeyAgg, fold)
    assert(v2.hash == scratch.hash,
      "retraction fold-in must hash-equal the from-scratch build")
    // and hash-equals the forced mini route
    val store3 = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyrt3-"))
    val ops3 = new Ops(spark, store3, 64)
    val base3 = ops3.fromDataFrame(df(rows), Seq("k"))
    val v13 = ops3.transform(base3, rekeyAgg, fold)
    val merged3 = ops3.patchTable(
      ops3.upsert(base3, ops3.fromDataFrame(df(upserts), Seq("k"))),
      Nil, delKeys.map(Seq(_)))
    val v23 = new Ops(spark, store3, 64,
      routes = Routes(driverMaterialize = false))
      .transform(merged3, rekeyAgg, fold, prev = Some(v13))
    assert(v23.hash == v2.hash,
      "retraction route diverged from the mini-merge route")
  }

  test("retraction declines safely: nullable contributions, no liveness column, non-invertible member") {
    // each inadmissible shape must fall back to the exact general paths
    // (correct result, retraction counter unchanged)
    val nullableSchema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = true)))
    def ndf(rows: Seq[(String, java.lang.Long)]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2)), 4), nullableSchema)
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeynd-"))
    val ops = new Ops(spark, store, 64)

    def refreshAfterDelete(t: ColTransform, fold: FoldSpec,
        base: TableRef): (TableRef, Long) = {
      val v1 = ops.transform(base, t, fold)
      val merged = ops.patchTable(base, Nil, Seq(Seq("k00007")))
      val r0 = Ops.splicedFoldIns.get()
      val v2 = ops.transform(merged, t, fold, prev = Some(v1))
      (v2, Ops.splicedFoldIns.get() - r0)
    }

    // 1. nullable SUM contribution: retracting the last non-null row of
    //    a group must yield NULL, which inversion cannot express — the
    //    static gate must decline
    val rows = (0 until 4000).map(i =>
      f"k$i%05d" -> (if (i % 3 == 0) null else java.lang.Long.valueOf(i)))
    val nbase = ops.fromDataFrame(ndf(rows), Seq("k"))
    val tNullable = ColTransform("rt_nullable_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
        lit(1L).as("cnt"), col("v")))
    val foldCS = FoldSpec.FoldByColumn(Seq(
      "cnt" -> FoldSpec.FoldSum, "v" -> FoldSpec.FoldSum))
    val (nv2, nTaken) = refreshAfterDelete(tNullable, foldCS, nbase)
    assert(nTaken == 0, "nullable contribution must decline retraction")
    assert(!ops.scan(nv2).where("g = 'g7000'").isEmpty) // still refreshed

    // 2. no liveness column (SUM-only view): group death unobservable
    val rows2 = (0 until 4000).map(i => f"k$i%05d" -> i.toLong)
    val base2 = ops.fromDataFrame(df(rows2), Seq("k"))
    val tSumOnly = ColTransform("rt_sumonly_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
        col("v")), nonNull = Set("v"))
    val (_, sTaken) = refreshAfterDelete(tSumOnly, FoldSpec.FoldSum, base2)
    assert(sTaken == 0, "a view without a liveness column must decline")

    // 3. non-invertible member (MIN): a retraction can need a value the
    //    partial fold discarded
    val tMin = ColTransform("rt_min_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
        lit(1L).as("cnt"), col("v")), nonNull = Set("v"))
    val foldMin = FoldSpec.FoldByColumn(Seq(
      "cnt" -> FoldSpec.FoldSum, "v" -> FoldSpec.FoldMin))
    val (_, mTaken) = refreshAfterDelete(tMin, foldMin, base2)
    assert(mTaken == 0, "a MIN member must decline retraction")
  }

  test("append fold-in, distributed variant: changed chunks over the driver byte budget still fold in") {
    // shrinking the driver byte budget declines the source-row diff;
    // the distributed variant (row-net emptiness proof + frame fold-in)
    // must take over — the 100 TB append path, where the changed
    // chunks never fit driver memory
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyad-"))
    val ops = new Ops(spark, store, 64)
    val rekeySum = ColTransform("rekey_sum_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
        col("v")))
    val rows = (0 until 12000).map(i => f"k$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val v1 = ops.transform(base, rekeySum, FoldSpec.FoldSum)
    val delta = (12000 until 12040).map(i => f"k$i%05d" -> (i * 7).toLong)
    val merged = ops.upsert(base, ops.fromDataFrame(df(delta), Seq("k")))

    // a byte budget of 1 declines every byte-admitted route
    val bytes1 = new Ops(spark, store, 64, routes = Routes(driverMaxBytes = 1L))
    store.stats.reset()
    val v2 = bytes1.transform(merged, rekeySum, FoldSpec.FoldSum, prev = Some(v1))
    val snap = store.stats.snapshot
    // still no per-chunk mini walk (~180 memoGets here)
    assert(snap("memoHits") + snap("memoMisses") <= 60,
      s"distributed append refresh walked the mini memos: $snap")
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyad2-")), 64)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df(rows ++ delta), Seq("k")), rekeySum,
      FoldSpec.FoldSum)
    assert(v2.hash == scratch.hash,
      "distributed append fold-in must hash-equal the from-scratch build")
  }

  test("aggregate view over a source with an fp column: an INSERT refresh folds in on the driver and distributed routes, hash-equals from-scratch") {
    // the refresh diffs source rows under the canonical row identity, so
    // a float8 column the view never projects (and whose -0.0/NaN values
    // structural or SQL set-op equality would conflate) must not push
    // the refresh off the fold-in routes onto the per-chunk mini walk
    val fpSchema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false),
      StructField("d", DoubleType, nullable = true)))
    def fpDf(rows: Seq[(String, Long)]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.map {
        case (k, v) =>
          val d: java.lang.Double = v % 5 match {
            case 0 => -0.0
            case 1 => 0.0
            case 2 => Double.NaN
            case 3 => null
            case _ => v * 0.5
          }
          Row(k, v, d)
      }, 4), fpSchema)
    val rekeySum = ColTransform("rekey_sum_fp_src_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
        col("v")))
    val rows = (0 until 12000).map(i => f"k$i%05d" -> i.toLong)
    val delta = (12000 until 12040).map(i => f"k$i%05d" -> (i * 7).toLong)
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyfp2-")), 64)
    val scratch = ops2.transform(
      ops2.fromDataFrame(fpDf(rows ++ delta), Seq("k")), rekeySum,
      FoldSpec.FoldSum)
    Seq(Routes.Default, Routes(driverMaxBytes = 1L)).foreach { routes =>
      val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyfp-"))
      val ops = new Ops(spark, store, 64, routes = routes)
      val base = ops.fromDataFrame(fpDf(rows), Seq("k"))
      val v1 = ops.transform(base, rekeySum, FoldSpec.FoldSum)
      val merged = ops.upsert(base, ops.fromDataFrame(fpDf(delta), Seq("k")))
      def foldIns = Ops.splicedFoldIns.get() + Ops.mergedFoldIns.get()
      val foldIns0 = foldIns
      store.stats.reset()
      val v2 = ops.transform(merged, rekeySum, FoldSpec.FoldSum,
        prev = Some(v1))
      val snap = store.stats.snapshot
      // the mini path does one memoGet per source chunk (~190 here)
      assert(snap("memoHits") + snap("memoMisses") <= 150,
        s"$routes: fp-source append refresh walked the mini memos: $snap")
      assert(foldIns > foldIns0,
        s"$routes: fp-source append refresh did not fold in")
      assert(v2.hash == scratch.hash,
        s"$routes: fp-source fold-in must hash-equal the from-scratch build")
    }
  }

  test("distributed retraction scales net multiplicities: a skewed identical-contribution purge folds without row expansion") {
    // VERDICT r13 #2: in a count-shaped view every contribution in a
    // group is the IDENTICAL row, so purging M rows of one group nets
    // to a single row with multiplicity M. The admitted folds are
    // linear, so the net row folds ONCE, scaled by M
    // (FoldSpec.scaleContrib) — no row expansion exists on this path —
    // with group death and from-scratch hash equality preserved.
    val rekeyConst = ColTransform("rekey_const_v1", Seq("g"),
      Seq(when(col("k") < lit("k30000"), lit("a")).otherwise(lit("b")).as("g"),
        lit(1L).as("cnt"), lit(7L).as("v")))
    val fold = FoldSpec.FoldByColumn(Seq(
      "cnt" -> FoldSpec.FoldSum, "v" -> FoldSpec.FoldSum))
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeysc-"))
    val ops = new Ops(spark, store, 64)
    val rows = (0 until 40000).map(i => f"k$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val v1 = ops.transform(base, rekeyConst, fold)
    // thin group a by 20000 identical contributions; kill group b
    val delKeys: Set[String] = ((0 until 20000).map(i => f"k$i%05d") ++
      (30000 until 40000).map(i => f"k$i%05d")).toSet
    val merged = ops.patchTable(base, Nil, delKeys.toSeq.sorted.map(Seq(_)))
    // a byte budget of 1 forces the over-cap distributed path
    val bytes1 = new Ops(spark, store, 64, routes = Routes(driverMaxBytes = 1L))
    val merged0 = Ops.mergedFoldIns.get()
    val v2 = bytes1.transform(merged, rekeyConst, fold, prev = Some(v1))
    assert(Ops.mergedFoldIns.get() == merged0 + 1,
      "purge did not merge its retraction delta")
    val got = ops.scan(v2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 10000L, 70000L)),
      s"scaled retraction wrong: $got") // b died, a thinned to 10000
    // hash-equals a from-scratch build in a fresh store
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeysc2-")), 64)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df(rows.filterNot(r => delKeys.contains(r._1))),
        Seq("k")), rekeyConst, fold)
    assert(v2.hash == scratch.hash,
      "scaled retraction must hash-equal the from-scratch build")
  }

  test("non-linear invertible fold declines the expansion above the 64Ki multiplicity cap — exact fallback, hash-equal") {
    // An invertible fold that declares NO linearity (scaleContrib =
    // None) is not admitted to retraction at all: a net row of
    // multiplicity M could only fold by expanding M rows, the
    // single-task O(M) array scaling exists to avoid. The refresh must
    // DECLINE — cleanly, to the exact mini/rebuild fallback. XOR is the
    // canonical such fold: self-inverse (x ⊕ x = 0, so invert =
    // identity satisfies fold(xs ++ invert(ys)) == fold(xs ∖ ys)
    // bit-exactly), but fold(n copies of x) is x·(n mod 2) — no
    // declared scale.
    val foldXor = FoldSpec.FoldByColumn(Seq(
      "cnt" -> FoldSpec.FoldSum,
      "v" -> FoldSpec.CombinableFold("fold_xor_test_v1", c => bit_xor(c),
        exactTypesOnly = true, invert = Some(identity))))
    val rekeyConst = ColTransform("rekey_const_xor_v1", Seq("g"),
      Seq(when(col("k") < lit("k70000"), lit("a")).otherwise(lit("b")).as("g"),
        lit(1L).as("cnt"), lit(7L).as("v")))
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyxc-"))
    val ops = new Ops(spark, store, 512)
    val rows = (0 until 75000).map(i => f"k$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val v1 = ops.transform(base, rekeyConst, foldXor)
    // purge 70000 identical (a, 1, 7) contributions — one net row with
    // multiplicity 70000
    val delKeys = (0 until 70000).map(i => f"k$i%05d")
    val merged = ops.patchTable(base, Nil, delKeys.map(Seq(_)))
    // a byte budget of 1 forces past the driver routes
    val bytes1 = new Ops(spark, store, 512, routes = Routes(driverMaxBytes = 1L))
    val merged0 = Ops.mergedFoldIns.get()
    val v2 = bytes1.transform(merged, rekeyConst, foldXor, prev = Some(v1))
    assert(Ops.mergedFoldIns.get() == merged0,
      "over-cap non-linear purge must DECLINE the retraction fold-in")
    // the fallback is exact: group a (k < k70000) is fully purged and
    // must die; group b (5000 untouched rows) survives — compare the
    // whole result against a from-scratch build of the surviving rows
    val got = ops.scan(v2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyxc2-")), 512)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df(rows.drop(70000)), Seq("k")), rekeyConst, foldXor)
    val want = ops2.scan(scratch).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"fallback result wrong: $got vs $want")
    assert(v2.hash == scratch.hash,
      "declined retraction's fallback must hash-equal the from-scratch build")
    // a small, byte-admitted APPEND of three identical (b, 1, 7)
    // contributions nets to one row of multiplicity 3: XOR can neither
    // scale it nor fold it once, so the fold-in declines to the exact
    // mini path under default routes too — neither sink runs
    val ins = (75001 until 75004).map(i => f"k$i%05d" -> i.toLong)
    val appended = ops.upsert(base, ops.fromDataFrame(df(ins), Seq("k")))
    val (spliced0, merged1) = (Ops.splicedFoldIns.get(), Ops.mergedFoldIns.get())
    val v3 = ops.transform(appended, rekeyConst, foldXor, prev = Some(v1))
    assert((Ops.splicedFoldIns.get(), Ops.mergedFoldIns.get()) ==
      ((spliced0, merged1)),
      "a repeated XOR contribution must DECLINE the fold-in")
    val scratch3 = ops2.transform(ops2.fromDataFrame(df(rows ++ ins), Seq("k")),
      rekeyConst, foldXor)
    assert(v3.hash == scratch3.hash,
      "declined XOR append's fallback must hash-equal the from-scratch build")
  }

  test("distributed retraction: over-cap delete delta folds in as frames, group death, three-route hash equality") {
    // VERDICT r12 #1: a delete delta whose changed chunks exceed the
    // driver byte budget must take the DISTRIBUTED retraction
    // (contribution frames netted in one shuffle, deleted side inverted,
    // one net-delta shuffle, mergeRetract dropping liveness-0 groups) —
    // the retention-purge-at-100TB shape — instead of declining to the
    // O(groups × chunks) mini re-merge. Same scattered-group data as
    // the driver retraction test so the two routes pin the same model.
    val rekeyAgg = ColTransform("rekey_cnt_sum_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"),
        lit(1L).as("cnt"), col("v")),
      nonNull = Set("v"))
    val fold = FoldSpec.FoldByColumn(Seq(
      "cnt" -> FoldSpec.FoldSum, "v" -> FoldSpec.FoldSum))
    def model(data: Map[String, Long]): Map[String, (Long, Long)] =
      data.toSeq.groupBy { case (k, _) => "g" + k.substring(1, 5).reverse }
        .view.mapValues(vs => (vs.length.toLong, vs.map(_._2).sum)).toMap

    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyrd-"))
    val ops = new Ops(spark, store, 64)
    val rows = (0 until 20000).map(i => f"k$i%05d" -> i.toLong)
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val v1 = ops.transform(base, rekeyAgg, fold)
    val delKeys: Seq[String] =
      (0 until 10).map(i => f"k0123$i") ++ Seq("k04567", "k08888")
    val upserts = Seq("k15000" -> 42L)
    val merged = ops.patchTable(
      ops.upsert(base, ops.fromDataFrame(df(upserts), Seq("k"))),
      Nil, delKeys.map(Seq(_)))

    // a byte budget of 1 forces the over-cap path
    val bytes1 = new Ops(spark, store, 64, routes = Routes(driverMaxBytes = 1L))
    val merged0 = Ops.mergedFoldIns.get()
    val spliced0 = Ops.splicedFoldIns.get()
    store.stats.reset()
    val v2 = bytes1.transform(merged, rekeyAgg, fold, prev = Some(v1))
    val snap = store.stats.snapshot
    assert(Ops.mergedFoldIns.get() == merged0 + 1,
      "over-cap delete delta did not merge its retraction delta")
    assert(Ops.splicedFoldIns.get() == spliced0,
      "over-cap delta must not reach the splice sink")
    // no per-chunk mini walk (~300 memoGets here): the route consults
    // the reverse/whole-op memos plus mergeRetract's region memos
    assert(snap("memoHits") + snap("memoMisses") <= 150,
      s"distributed retraction walked the mini memos: $snap")
    // value correctness incl. GROUP DEATH through mergeRetract's
    // dirty-region liveness filter
    val want = model(rows.toMap ++ upserts.toMap -- delKeys)
    val got = ops.scan(v2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains("g3210"), "fully-retracted group must vanish")
    assert(got == want)
    // three-route hash equality: from-scratch ...
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyrd2-")), 64)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df((rows.toMap ++ upserts.toMap -- delKeys).toSeq),
        Seq("k")), rekeyAgg, fold)
    assert(v2.hash == scratch.hash,
      "distributed retraction must hash-equal the from-scratch build")
    // ... the forced mini route ...
    val store3 = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyrd3-"))
    val ops3 = new Ops(spark, store3, 64)
    val base3 = ops3.fromDataFrame(df(rows), Seq("k"))
    val v13 = ops3.transform(base3, rekeyAgg, fold)
    val merged3 = ops3.patchTable(
      ops3.upsert(base3, ops3.fromDataFrame(df(upserts), Seq("k"))),
      Nil, delKeys.map(Seq(_)))
    val v23 = new Ops(spark, store3, 64,
      routes = Routes(driverMaterialize = false))
      .transform(merged3, rekeyAgg, fold, prev = Some(v13))
    assert(v23.hash == v2.hash,
      "distributed retraction diverged from the mini-merge route")
    // ... and the spliced retraction (same inputs, default caps)
    val store4 = new FsStore(graft.core.FsUtil.tempStoreDir("graft-rekeyrd4-"))
    val ops4 = new Ops(spark, store4, 64)
    val base4 = ops4.fromDataFrame(df(rows), Seq("k"))
    val v14 = ops4.transform(base4, rekeyAgg, fold)
    val merged4 = ops4.patchTable(
      ops4.upsert(base4, ops4.fromDataFrame(df(upserts), Seq("k"))),
      Nil, delKeys.map(Seq(_)))
    val spliced40 = Ops.splicedFoldIns.get()
    val v24 = ops4.transform(merged4, rekeyAgg, fold, prev = Some(v14))
    assert(Ops.splicedFoldIns.get() == spliced40 + 1,
      "control flow: the same delta under default caps splices")
    assert(v24.hash == v2.hash,
      "distributed retraction diverged from the spliced retraction")
  }

  test("gc sweeps mini/piece caches; the next refresh self-heals and stays correct") {
    // minis, pieces, and region results are CACHE (memo-only tables):
    // GC may sweep them all. A later refresh must recompute what it
    // needs from the kept source chunks and still produce the right
    // (hash-identical) view — GC trades recompute for space, never
    // correctness.
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-gcheal-"))
    val ops = new Ops(spark, store, 64)
    val catalog = new Catalog(store)
    val views = new Views(ops, catalog)
    val rekeySum = ColTransform("rekey_sum_gc_v1", Seq("g"),
      Seq(concat(lit("g"), reverse(substring(col("k"), 2, 4))).as("g"), col("v")))
    val rows = (0 until 4000).map(i => f"k$i%05d" -> i.toLong)
    catalog.put("src", ops.fromDataFrame(df(rows), Seq("k")))
    views.define("agg", "src", rekeySum, FoldSpec.FoldSum)

    // sweep everything not reachable from the current root: the minis,
    // pieces, and region results are all memo-only intermediates
    val gc = Gc.run(store, Seq.empty)
    assert(gc.deletedMemos > 0 && gc.deletedTables > 0,
      s"expected cache sweep, got $gc")

    // source delta, then refresh: recompute self-heals from kept chunks
    val delta = ops.fromDataFrame(df(Seq("k00100" -> 42L)), Seq("k"))
    catalog.put("src", ops.upsert(catalog.get("src").get, delta))
    val v2 = views.refresh("agg")
    def model(data: Map[String, Long]): Map[String, Long] =
      data.toSeq.groupBy { case (k, _) => "g" + k.substring(1, 5).reverse }
        .view.mapValues(_.map(_._2).sum).toMap
    val got = ops.scan(v2).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == model(rows.toMap ++ Map("k00100" -> 42L)))
    // and hash-equals an independent from-scratch build
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-gcheal2-")), 64)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df((rows.toMap ++ Map("k00100" -> 42L)).toSeq), Seq("k")),
      rekeySum, FoldSpec.FoldSum)
    assert(v2.hash == scratch.hash)
  }

  test("FP-valued re-keying sum takes the whole-table path (no partial folds)") {
    // FP addition is non-associative: sum-of-partial-sums is not
    // bit-identical to one sum, so the incremental per-chunk pre-fold
    // would make incremental vs from-scratch hashes diverge
    // systematically. FoldSum.combinableFor gates double/float values
    // back to the whole-table path (ADVICE r3 #1).
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-fp-"))
    val ops = new Ops(spark, store, 16)
    val fpSchema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", DoubleType, nullable = false)))
    def fdf(rows: Seq[(String, Double)]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 4), fpSchema)
    val rekeySum = ColTransform("rekey_sum_fp_v1", Seq("g"),
      Seq(substring(col("k"), 2, 2).as("g"), col("v")))
    val rows = (0 until 600).map(i => f"k$i%04d" -> i * 0.1)
    val base = ops.fromDataFrame(fdf(rows), Seq("k"))
    val nChunks = ops.meta(base).chunks.length
    assert(nChunks > 10)
    store.stats.reset()
    val out = ops.transform(base, rekeySum, FoldSpec.FoldSum)
    // whole-table path: one whole-op memo miss, NO per-chunk mini lookups
    // (the incremental path would record ~nChunks misses first)
    val misses = store.stats.snapshot("memoMisses")
    assert(misses <= 2, s"expected whole-table path, saw $misses memo misses")
    val got = ops.scan(out).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = rows.groupBy(_._1.substring(1, 3))
      .view.mapValues(_.map(_._2).sum).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (g, v) => assert(math.abs(v - want(g)) < 1e-6, s"group $g") }
    // exact-typed values keep the incremental path: same shape, Long values
    val base2 = ops.fromDataFrame(df(rows.map { case (k, _) => k -> 1L }), Seq("k"))
    store.stats.reset()
    ops.transform(base2, ColTransform("rekey_sum_long_v1", Seq("g"),
      Seq(substring(col("k"), 2, 2).as("g"), col("v"))), FoldSpec.FoldSum)
    assert(store.stats.snapshot("memoMisses") > nChunks / 2,
      "integral values should use per-chunk minis")
  }

  test("custom combinable fold (bit_or) rides the incremental re-key path") {
    // a user-declared monoid gets the same O(delta) treatment as the
    // built-in sum/min/max folds
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-cf-"))
    val ops = new Ops(spark, store, 16)
    ops.registry.registerFold(FoldSpec.FoldBitOr)
    val rekeyOr = ColTransform("rekey_or_v1", Seq("g"),
      Seq(substring(col("k"), 2, 2).as("g"), col("v")))
    val rows = (0 until 1200).map(i => f"k$i%04d" -> (1L << (i % 13)))
    val base = ops.fromDataFrame(df(rows), Seq("k"))
    val nChunks = ops.meta(base).chunks.length
    assert(nChunks > 20)
    val v1 = ops.transform(base, rekeyOr, FoldSpec.FoldBitOr)
    def model(data: Map[String, Long]): Map[String, Long] =
      data.toSeq.groupBy(_._1.substring(1, 3))
        .view.mapValues(_.map(_._2).reduce(_ | _)).toMap
    val got1 = ops.scan(v1).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got1 == model(rows.toMap))
    // small upsert → O(delta) refresh, hash-equal to from-scratch
    val delta = Seq("k0100" -> (1L << 40))
    val merged = ops.upsert(base, ops.fromDataFrame(df(delta), Seq("k")))
    store.stats.reset()
    val v2 = ops.transform(merged, rekeyOr, FoldSpec.FoldBitOr)
    val snap = store.stats.snapshot
    assert(snap("memoHits") > nChunks / 2,
      s"custom fold skipped the incremental path: $snap")
    assert(snap("chunkSaves") <= 12, s"not O(delta): $snap")
    val want = model(rows.toMap ++ delta.toMap)
    assert(ops.scan(v2).collect().map(r => r.getString(0) -> r.getLong(1)).toMap == want)
    val ops2 = new Ops(spark,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-cf2-")), 16)
    val scratch = ops2.transform(
      ops2.fromDataFrame(df((rows.toMap ++ delta.toMap).toSeq), Seq("k")),
      rekeyOr, FoldSpec.FoldBitOr)
    assert(v2.hash == scratch.hash)
  }

  test("join view: full-outer keyed join content, O(delta) refresh, hash-equals from-scratch") {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-jv-"))
    val ops = new Ops(spark, store, 16)
    val cat = new Catalog(store)
    val views = new Views(ops, cat)

    val aSchema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("va", LongType, nullable = false)))
    val bSchema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("vb", LongType, nullable = false)))
    def mk(s: StructType, rows: Seq[(String, Long)]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 4), s)

    // overlapping but not identical key sets: the join view must keep
    // left-only and right-only keys (full-outer semantics)
    val aRows = (0 until 1500).map(i => f"key$i%05d" -> i.toLong)
    val bRows = (500 until 2000).map(i => f"key$i%05d" -> (i * 10).toLong)
    cat.put("ta", ops.fromDataFrame(mk(aSchema, aRows), Seq("k")))
    cat.put("tb", ops.fromDataFrame(mk(bSchema, bRows), Seq("k")))
    val v1 = views.defineJoin("ab", "ta", "tb")

    def contentsOf(ref: TableRef): Map[String, (Option[Long], Option[Long])] =
      ops.scan(ref).collect().map { r =>
        r.getString(0) -> (
          (if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      }.toMap

    val aMap = aRows.toMap
    val bMap = bRows.toMap
    def expected(a: Map[String, Long], b: Map[String, Long]) =
      (a.keySet ++ b.keySet).map(k => k -> (a.get(k), b.get(k))).toMap
    assert(contentsOf(v1) == expected(aMap, bMap))

    // idle refresh: whole-op memo hits, no new catalog root
    val rootBefore = store.currentRootHash
    assert(views.refresh("ab") == v1)
    assert(store.currentRootHash == rootBefore, "no-op refresh minted a root")

    // a 2-key delta to the LEFT side refreshes in O(delta)
    val delta = Seq("key00700" -> 777L, "keyzz" -> 1L)
    cat.put("ta", ops.upsert(cat.get("ta").get,
      ops.fromDataFrame(mk(aSchema, delta), Seq("k"))))
    val nChunks = ops.meta(cat.get("ab").get).chunks.length
    store.stats.reset()
    val v2 = views.refresh("ab")
    val saves = store.stats.snapshot("chunkSaves")
    assert(saves <= 8,
      s"join refresh should rewrite few chunks, wrote $saves of $nChunks")
    assert(contentsOf(v2) == expected(aMap ++ delta.toMap, bMap))

    // canonical: equals the same join built from scratch in a FRESH store
    val store2 = new FsStore(graft.core.FsUtil.tempStoreDir("graft-jv2-"))
    val ops2 = new Ops(spark, store2, 16)
    val cat2 = new Catalog(store2)
    cat2.put("ta", ops2.fromDataFrame(mk(aSchema,
      (aMap ++ delta.toMap).toSeq.sortBy(_._1)), Seq("k")))
    cat2.put("tb", ops2.fromDataFrame(mk(bSchema, bRows), Seq("k")))
    val scratch = new Views(ops2, cat2).defineJoin("ab", "ta", "tb")
    assert(v2.hash == scratch.hash,
      "incremental join refresh diverged from the from-scratch build")

    // guardrails: mismatched keys / shared value columns are rejected
    cat.put("tc", ops.fromDataFrame(mk(
      StructType(Seq(StructField("other", StringType, nullable = false),
        StructField("va", LongType, nullable = false))),
      Seq("x" -> 1L)), Seq("other")))
    assertThrows[IllegalArgumentException](views.defineJoin("bad", "ta", "tc"))
    cat.put("td", ops.fromDataFrame(mk(aSchema, Seq("x" -> 1L)), Seq("k")))
    assertThrows[IllegalArgumentException](views.defineJoin("bad2", "ta", "td"))
  }

  test("chained views refresh in dependency order: a join view over a transform view stays fresh") {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-chain-"))
    val ops = new Ops(spark, store, 16)
    val cat = new Catalog(store)
    val views = new Views(ops, cat)

    // base table t(k, v); transform view doubles v; join view pairs it
    // with a static dim. Note the names: "a_double" sorts BEFORE
    // "z_join" but ALSO after upstream edits must refresh first — the
    // adversarial case is a join view whose name sorts FIRST.
    val rows = (0 until 800).map(i => f"key$i%04d" -> i.toLong)
    cat.put("t", ops.fromDataFrame(df(rows), Seq("k")))
    val dimSchema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("seg", LongType, nullable = false)))
    cat.put("dim", ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 800 by 2).map(i => Row(f"key$i%04d", (i % 5).toLong)), 4),
        dimSchema), Seq("k")))
    views.define("z_double", "t", doubleV, FoldSpec.FoldLast)
    // "a_join" < "z_double" alphabetically: name order would refresh the
    // join first and read a STALE z_double after a base-table delta
    val j1 = views.defineJoin("a_join", "z_double", "dim")
    assert(ops.scan(j1).count() == 800)

    cat.put("t", ops.upsert(cat.get("t").get,
      ops.fromDataFrame(df(Seq("key0000" -> 500L, "keyxxx" -> 1L)), Seq("k"))))
    views.refreshAll()
    val got = ops.scan(cat.get("a_join").get).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got("key0000") == Some(1000L),
      "join view read a stale upstream after refreshAll")
    assert(got("keyxxx") == Some(2L))
    assert(got.size == 801)
  }

  test("same transform key on unchanged table is a whole-op memo hit") {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-it3-"))
    val ops = new Ops(spark, store, 16)
    val ref = ops.fromDataFrame(df((0 until 300).map(i => s"k$i" -> i.toLong)), Seq("k"))
    val a = ops.transform(ref, doubleV, FoldSpec.FoldLast)
    store.stats.reset()
    val b = ops.transform(ref, doubleV, FoldSpec.FoldLast)
    assert(a.hash == b.hash)
    assert(store.stats.snapshot("chunkSaves") == 0)
  }
  /** Round-6 canonical-form repair: deleting a chunk-STARTING boundary
    * key — through the filtered per-chunk transform AND through a range
    * delete — must still hash-equal a from-scratch build of the
    * surviving rows (same rows ⇒ same hash; the offender chunk fuses
    * into its predecessor via canonicalizeSplice). */
  test("canonical form survives deleting a chunk-starting boundary key") {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-cf-"))
    val ops = new Ops(spark, store, 16)
    val rows = (0 until 500).map(i => f"key$i%04d" -> i.toLong)
    val ref = ops.fromDataFrame(df(rows), Seq("k"))
    val m = ops.meta(ref)
    assert(m.chunks.length > 5)
    // the key that STARTS the second chunk (a boundary key by the
    // canonical rule)
    val kEnc = KeyCodec.rowEncoder(m.schema, m.keyCols)
    val starter = rows.find { case (k, v) =>
      java.util.Arrays.equals(kEnc(Row(k, v)), m.chunks(1).minKey) }.get
    val survivors = rows.filterNot(_ == starter)
    val want = ops.fromDataFrame(df(survivors), Seq("k")).hash

    // path 1: filtered key-preserving transform (the zone-map DML shape)
    val del = ColTransform(s"del_${starter._1}_v1", Seq("k"),
      Seq(col("k"), col("v")), preservesKeys = true,
      filter = Some(col("v") =!= lit(starter._2)))
    assert(ops.transform(ref, del, FoldSpec.FoldLast).hash == want,
      "per-chunk filtered delete of a chunk-starting key must stay canonical")

    // path 2: range delete of exactly that key
    val b = Bound(Seq(starter._1), inclusive = true)
    assert(ops.deleteRange(ref, Some(b), Some(b)).hash == want,
      "range delete of a chunk-starting key must stay canonical")

    // path 3: patchTable delete of exactly that key
    assert(ops.patchTable(ref, Nil, Seq(Seq(starter._1))).hash == want,
      "patch delete of a chunk-starting key must stay canonical")
  }

}
