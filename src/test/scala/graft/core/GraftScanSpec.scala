package graft.core

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The chunk-pruned scan (GraftFileIndex): predicates on the leading key
  * skip provably-disjoint chunk FILES at planning time, results stay
  * identical to the unpruned scan, and the custom index is actually in
  * the executed plan (not silently replaced by a stock listing). */
class GraftScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def newOps(target: Long = 64): Ops = {
    val dir = graft.core.FsUtil.tempStoreDir("graft-scan-")
    new Ops(spark, new FsStore(dir), target)
  }

  private def fixture(): (Ops, TableRef) = {
    val ops = newOps()
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 1000L).map(k => Row(k, k * 7)), 8),
      schema)
    (ops, ops.fromDataFrame(df, Seq("k")))
  }

  private def filesFor(ops: Ops, ref: TableRef, filters: Expression*): Int = {
    val m = ops.meta(ref)
    val idx = new GraftFileIndex(spark, ops.store, m)
    idx.listFiles(Nil, filters).map(_.files.length).sum
  }

  private val kAttr = AttributeReference("k", LongType, nullable = false)()

  test("leading-key predicates prune chunk files; results match the row filter") {
    val (ops, ref) = fixture()
    val total = ops.meta(ref).chunks.length
    assert(total >= 8, s"fixture should span many chunks, got $total")

    // range: only the overlapping chunks are listed
    val ranged = filesFor(ops, ref,
      GreaterThanOrEqual(kAttr, Literal(100L)), LessThan(kAttr, Literal(160L)))
    assert(ranged >= 1 && ranged < total / 2,
      s"range listed $ranged of $total files")

    // equality: at most a couple of chunks (boundary keys aside)
    val point = filesFor(ops, ref, EqualTo(kAttr, Literal(500L)))
    assert(point >= 1 && point <= 2, s"point lookup listed $point files")

    // literal-first comparison flips direction, still prunes
    val flipped = filesFor(ops, ref, GreaterThan(Literal(900L), kAttr))
    assert(flipped < total, s"flipped comparison did not prune: $flipped")

    // IN-list: bounded by the list's min/max (unsigned byte order)
    val inList = filesFor(ops, ref,
      In(kAttr, Seq(Literal(400L), Literal(410L), Literal(405L))))
    assert(inList >= 1 && inList < total / 2,
      s"IN-list listed $inList of $total files")
    val gotIn = ops.scan(ref).where(col("k").isin(400L, 410L, 405L))
      .collect().map(_.getLong(0)).sorted
    assert(gotIn.toSeq == Seq(400L, 405L, 410L))

    // long IN lists arrive as InSet (inSetConversionThreshold = 10)
    val inSet = filesFor(ops, ref,
      InSet(kAttr, (400L to 420L).map(_.asInstanceOf[Any]).toSet))
    assert(inSet >= 1 && inSet < total / 2,
      s"InSet listed $inSet of $total files")
    val gotSet = ops.scan(ref).where(col("k").isin((400L to 420L): _*))
      .collect().map(_.getLong(0)).sorted
    assert(gotSet.toSeq == (400L to 420L))

    // unrecognized predicates prune nothing (conservative)
    assert(filesFor(ops, ref, IsNotNull(kAttr)) == total)
    assert(filesFor(ops, ref) == total)

    // and the pruned scan returns exactly the row-filtered content
    val got = ops.scan(ref).where(col("k") >= 100L && col("k") < 160L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (100L until 160L).map(k => k -> k * 7).toMap)
  }

  test("empty and out-of-range predicates list zero files, return zero rows") {
    val (ops, ref) = fixture()
    assert(filesFor(ops, ref, GreaterThan(kAttr, Literal(5000L))) == 0)
    assert(ops.scan(ref).where(col("k") > 5000L).count() == 0)
  }

  test("the executed plan scans through GraftFileIndex with metadata statistics") {
    val (ops, ref) = fixture()
    val df = ops.scan(ref).where(col("k") === 500L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftFileIndex"),
      s"scan does not use the chunk index:\n$plan")
    // statistics come from chunk metadata (no listing pass)
    val m = ops.meta(ref)
    val idx = new GraftFileIndex(spark, ops.store, m)
    assert(idx.sizeInBytes > 0)
    assert(idx.inputFiles.length == m.chunks.length)
  }

  test("composite keys: equality prefix + range on the next column prunes deeper") {
    val ops = newOps(target = 32)
    val cschema = StructType(Seq(
      StructField("k1", LongType, nullable = false),
      StructField("k2", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val rows = for (a <- 0L until 10L; b <- 0L until 100L) yield Row(a, b, a * 1000 + b)
    val ref = ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), cschema),
      Seq("k1", "k2"))
    val total = ops.meta(ref).chunks.length
    assert(total >= 8, s"fixture should span many chunks, got $total")
    val k1 = AttributeReference("k1", LongType, nullable = false)()
    val k2 = AttributeReference("k2", LongType, nullable = false)()

    // equality on the leading column alone prunes to ~1/10
    val eqOnly = filesFor(ops, ref, EqualTo(k1, Literal(5L)))
    assert(eqOnly < total / 2, s"k1=5 listed $eqOnly of $total")

    // adding a k2 range tightens the prefix bound further (or at least
    // never loosens it), and a range on k2 WITHOUT a k1 equality is
    // conservatively unprunable
    val eqRange = filesFor(ops, ref, EqualTo(k1, Literal(5L)),
      GreaterThanOrEqual(k2, Literal(10L)), LessThan(k2, Literal(20L)))
    assert(eqRange <= eqOnly, s"k1=5,k2 range listed $eqRange > $eqOnly")
    assert(filesFor(ops, ref, GreaterThanOrEqual(k2, Literal(10L))) == total)

    // a ONE-SIDED k2 range must still be capped by the k1 equality
    // prefix on the open side (ADVICE r4): the prefix proves the bound,
    // so later k1 values' chunks are not listed
    val oneSided = filesFor(ops, ref, EqualTo(k1, Literal(5L)),
      GreaterThanOrEqual(k2, Literal(90L)))
    assert(oneSided <= eqOnly,
      s"k1=5,k2>=90 listed $oneSided > $eqOnly (open side not capped)")
    val oneSidedHi = filesFor(ops, ref, EqualTo(k1, Literal(5L)),
      LessThan(k2, Literal(10L)))
    assert(oneSidedHi <= eqOnly,
      s"k1=5,k2<10 listed $oneSidedHi > $eqOnly (open side not capped)")
    // and the one-sided pruned scan returns exactly the filtered rows
    val oneGot = ops.scan(ref)
      .where(col("k1") === 5L && col("k2") >= 90L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(oneGot.toSeq == (90L until 100L).map(b => (5L, b, 5000 + b)))

    // all-equality point: still correct through the prefix bound
    val got = ops.scan(ref)
      .where(col("k1") === 5L && col("k2") >= 10L && col("k2") < 20L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == (10L until 20L).map(b => (5L, b, 5000 + b)))
  }

  test("pruned scan works over the PackStore backend (extract-cache paths)") {
    val dir = graft.core.FsUtil.tempStoreDir("graft-scan-pack-")
    val ops = new Ops(spark, new PackStore(dir), 64)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 500L).map(k => Row(k, k * 2)), 4),
      schema)
    val ref = ops.fromDataFrame(df, Seq("k"))
    val total = ops.meta(ref).chunks.length
    val ranged = filesFor(ops, ref,
      GreaterThanOrEqual(kAttr, Literal(100L)), LessThan(kAttr, Literal(130L)))
    assert(ranged < total, s"no pruning on PackStore: $ranged of $total")
    val got = ops.scan(ref).where(col("k") >= 100L && col("k") < 130L)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (100L until 130L))
  }

  test("string and timestamp keys prune through their order-preserving encodings") {
    // string PK
    val ops = newOps(target = 32)
    val sschema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val sref = ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 600).map(i => Row(f"key$i%04d", i.toLong)), 4), sschema),
      Seq("k"))
    val sTotal = ops.meta(sref).chunks.length
    val sAttr = AttributeReference("k", StringType, nullable = false)()
    val sFiles = filesFor(ops, sref,
      GreaterThanOrEqual(sAttr,
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString("key0100"),
          StringType)),
      LessThan(sAttr,
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString("key0150"),
          StringType)))
    assert(sFiles >= 1 && sFiles < sTotal, s"string range: $sFiles of $sTotal")
    val sGot = ops.scan(sref).where(col("k") >= "key0100" && col("k") < "key0150")
      .count()
    assert(sGot == 50)

    // timestamp PK (micros-encoded; literal arrives as Long micros)
    val tschema = StructType(Seq(
      StructField("ts", TimestampType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val tref = ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 600).map(i =>
          Row(new java.sql.Timestamp(base + i * 60000L), i.toLong)), 4),
        tschema),
      Seq("ts"))
    val tTotal = ops.meta(tref).chunks.length
    val tAttr = AttributeReference("ts", TimestampType, nullable = false)()
    val loMicros = (base + 100 * 60000L) * 1000L
    val hiMicros = (base + 150 * 60000L) * 1000L
    val tFiles = filesFor(ops, tref,
      GreaterThanOrEqual(tAttr, Literal(loMicros, TimestampType)),
      LessThan(tAttr, Literal(hiMicros, TimestampType)))
    assert(tFiles >= 1 && tFiles < tTotal, s"timestamp range: $tFiles of $tTotal")
    val tGot = ops.scan(tref)
      .where(col("v") >= 100L && col("v") < 150L).count()
    assert(tGot == 50)
  }

  test("zone maps: VALUE-column predicates prune chunk files; results exact") {
    val ops = newOps()
    // v correlates with k (sorted), so value ranges are chunk-clustered;
    // s cycles, so its per-chunk range is wide (prunes little) — both
    // behaviors are correct, only the first is useful
    val wideSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 1000L).map(k =>
        Row(k, k * 7, if (k % 100 == 0) null else s"w${k % 5}")), 8),
      wideSchema)
    val ref = ops.fromDataFrame(df, Seq("k"))
    val m = ops.meta(ref)
    val total = m.chunks.length
    assert(total >= 8, s"fixture should span many chunks, got $total")
    // every chunk recorded stats for both value columns
    assert(m.chunks.forall(c => c.stats.contains("v") && c.stats.contains("s")))
    assert(m.chunks.map(_.stats("s").nulls).sum == 10L)

    val vAttr = AttributeReference("v", LongType, nullable = false)()
    val sAttr = AttributeReference("s", StringType, nullable = true)()

    // a clustered value range prunes most files
    val ranged = filesFor(ops, ref,
      GreaterThanOrEqual(vAttr, Literal(700L)), LessThan(vAttr, Literal(1400L)))
    assert(ranged >= 1 && ranged < total / 2,
      s"value range listed $ranged of $total files")
    val got = ops.scan(ref).where(col("v") >= 700L && col("v") < 1400L)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (100L until 200L))

    // equality outside every chunk's range lists zero files
    assert(filesFor(ops, ref, EqualTo(vAttr, Literal(999999L))) == 0)
    // IS NULL keeps only chunks that actually hold nulls
    val nullFiles = filesFor(ops, ref, IsNull(sAttr))
    assert(nullFiles < total, s"IS NULL listed $nullFiles of $total")
    assert(ops.scan(ref).where(col("s").isNull).count() == 10L)
    // a cycling string column prunes nothing for a present value — and
    // still answers exactly
    assert(ops.scan(ref).where(col("s") === "w3").count() == 200L)

    // stats survive the incremental merge: delta chunks get fresh stats,
    // passthrough chunks keep theirs
    val delta = ops.fromDataFrame(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2000L, 123456L, "zz")), 1),
      wideSchema), Seq("k"))
    val merged = ops.upsert(ref, delta)
    val m2 = ops.meta(merged)
    assert(m2.chunks.forall(_.stats.contains("v")),
      "merged table must carry stats on every chunk")
    val vAfter = filesFor(ops, merged, EqualTo(vAttr, Literal(123456L)))
    assert(vAfter == 1, s"new value should pin exactly 1 file, got $vAfter")

    // zone maps rename with the table (metadata-only rename)
    val renamed = ops.renameColumns(merged, Map("v" -> "val"))
    assert(ops.meta(renamed).chunks.forall(c =>
      c.stats.contains("val") && !c.stats.contains("v")))
    assert(ops.scan(renamed).where(col("val") === 123456L).count() == 1L)
  }

  test("zone maps recurse through OR / NOT / nested AND") {
    val ops = newOps()
    val schema2 = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 1000L).map(k => Row(k, k * 7)), 8),
      schema2)
    val ref = ops.fromDataFrame(df, Seq("k"))
    val total = ops.meta(ref).chunks.length
    val vAttr = AttributeReference("v", LongType, nullable = false)()

    // OR of two clustered ranges keeps both ends, prunes the middle
    val orFiles = filesFor(ops, ref, Or(
      LessThan(vAttr, Literal(70L)),
      GreaterThanOrEqual(vAttr, Literal(6650L))))
    assert(orFiles >= 2 && orFiles < total / 2,
      s"OR of two edges listed $orFiles of $total files")
    // an OR with an ununderstood side prunes nothing (conservative)
    assert(filesFor(ops, ref, Or(
      LessThan(vAttr, Literal(70L)),
      EqualTo(Literal(1), Literal(1)))) == total)
    // NOT(=) prunes only the chunks proven single-valued — here none
    assert(filesFor(ops, ref, Not(EqualTo(vAttr, Literal(7L)))) == total)
    // nested AND under OR: (v<70 AND v>=0) OR v>=6650
    val nested = filesFor(ops, ref, Or(
      And(LessThan(vAttr, Literal(70L)), GreaterThanOrEqual(vAttr, Literal(0L))),
      GreaterThanOrEqual(vAttr, Literal(6650L))))
    assert(nested == orFiles, s"nested AND changed the OR listing: $nested")
    // coercion casts around literals still prune (analyzed-shape input)
    val casted = filesFor(ops, ref,
      EqualTo(vAttr, Cast(Literal(35, IntegerType), LongType)))
    assert(casted >= 1 && casted < total / 2,
      s"cast-wrapped literal listed $casted of $total")
  }

  test("SQL over catalog tables gets the pruned scan end-to-end") {
    val ops = newOps()
    val cat = new Catalog(ops.store)
    graft.sql.GraftSql.execute(spark, ops, cat,
      "CREATE TABLE kv (k bigint PRIMARY KEY, v bigint NOT NULL)")
    graft.sql.GraftSql.execute(spark, ops, cat,
      "INSERT INTO kv SELECT id AS k, id * 3 AS v FROM range(0, 1000)")
    val res = graft.sql.GraftSql.execute(spark, ops, cat,
      "SELECT k, v FROM kv WHERE k >= 250 AND k < 260 ORDER BY k")
    val df = res.swap.getOrElse(fail("expected a query result"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == (250L until 260L).map(k => (k, k * 3)))
    assert(df.queryExecution.executedPlan.toString.contains("GraftFileIndex"))
  }

  test("chunk dictionaries prune categorical equality where envelopes cannot") {
    val ops = newOps()
    val dictSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("cat", StringType, nullable = true),
      StructField("u", StringType, nullable = true)))
    // cat alternates within each half — every first-half chunk holds
    // {alpha, omega}, whose [min,max] ENVELOPE contains 'beta' (alpha <
    // beta < omega), so only the exact dictionary can prune it.
    // u is near-unique (> DictMaxValues distinct per chunk) — its
    // dictionary must go dead and equality falls back to the envelope.
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 2000L).map { k =>
        val cat = if (k < 1000) (if (k % 2 == 0) "alpha" else "omega")
                  else (if (k % 2 == 0) "beta" else "zeta")
        Row(k, cat, f"u$k%06d")
      }, 8), dictSchema)
    val ref = ops.fromDataFrame(df, Seq("k"))
    val m = ops.meta(ref)
    val total = m.chunks.length
    assert(total >= 16, s"fixture should span many chunks, got $total")
    assert(m.chunks.forall(_.stats("cat").dictHex.isDefined),
      "cat must carry a dictionary on every chunk")
    // ≤2 values everywhere except the chunk straddling the k=1000 seam
    assert(m.chunks.count(_.stats("cat").dictHex.exists(_.length <= 2)) >= total - 1,
      "cat dictionaries must be 2-valued away from the half boundary")
    // u is unique per row: the dictionary survives EXACTLY on chunks
    // with ≤ DictMaxValues rows (content-defined boundaries make some
    // chunks short) and goes dead everywhere else
    assert(m.chunks.forall(c =>
      c.stats("u").dictHex.isDefined == (c.rows <= Canonical.DictMaxValues)),
      "unique-column dictionary must exist iff the chunk is dict-cap-sized")

    val catAttr = AttributeReference("cat", StringType, nullable = true)()
    val uAttr = AttributeReference("u", StringType, nullable = true)()
    // dictionary prunes the first half exactly; envelope alone could not
    val betaFiles = filesFor(ops, ref, EqualTo(catAttr, Literal("beta")))
    assert(betaFiles > 0 && betaFiles <= total * 6 / 10,
      s"dict should prune roughly the first half: $betaFiles of $total")
    assert(ops.scan(ref).where(col("cat") === "beta").count() == 500L)
    // equality on an absent value lists nothing (envelope [alpha,zeta]
    // would have kept every chunk: alpha < "nope"? no — use a value
    // strictly inside the global envelope)
    assert(filesFor(ops, ref, EqualTo(catAttr, Literal("gamma"))) == 0,
      "a value inside every envelope but in no dictionary must prune all")
    // IN intersects the dictionary exactly
    val inFiles = filesFor(ops, ref,
      In(catAttr, Seq(Literal("beta"), Literal("gamma"))))
    assert(inFiles == betaFiles, s"IN(beta,gamma) listed $inFiles")
    assert(filesFor(ops, ref,
      In(catAttr, Seq(Literal("gamma"), Literal("delta")))) == 0)
    // the dict-less column still prunes by envelope (u is k-ordered)
    val uFiles = filesFor(ops, ref, EqualTo(uAttr, Literal("u000005")))
    assert(uFiles == 1, s"envelope equality on u listed $uFiles")

    // pre-dictionary stats JSON (3-element arrays) reads back dict-less
    val legacy = TableMeta.statsFromJsonString("""{"c":["0a","0b",2]}""")
    assert(legacy("c") == ColStats(Some("0a"), Some("0b"), 2L, None))
    val rt = TableMeta.statsFromJsonString(TableMeta.statsToJsonString(
      m.chunks.head.stats))
    assert(rt == m.chunks.head.stats, "dict stats must round-trip the sidecar JSON")
  }

  test("z-order keys give zone maps tight envelopes on every dimension") {
    val ops = newOps()
    val gridSchema = StructType(Seq(
      StructField("ub", LongType, nullable = false),
      StructField("tb", LongType, nullable = false),
      StructField("w", LongType, nullable = false)))
    val grid = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (for { a <- 0L until 64L; b <- 0L until 64L }
          yield Row(a, b, a * 64 + b)).toSeq, 8),
      gridSchema)
    // z-clustered: keyed by the interleaved address — per-chunk ub AND tb
    // envelopes are both tight
    val zKeyed = grid.select(
      graft.functions.Zorder.zhex(32, col("ub"), col("tb")).as("z"),
      col("ub"), col("tb"), col("w"))
    val zRef = ops.fromDataFrame(zKeyed, Seq("z"))
    val zTotal = ops.meta(zRef).chunks.length
    // linear comparison layout: keyed (ub, tb) — tb envelopes span the
    // whole axis inside every ub stripe
    val linRef = ops.fromDataFrame(grid, Seq("ub", "tb"))
    val linTotal = ops.meta(linRef).chunks.length
    assert(zTotal >= 16 && linTotal >= 16, s"grids span $zTotal/$linTotal chunks")

    val ubA = AttributeReference("ub", LongType, nullable = false)()
    val tbA = AttributeReference("tb", LongType, nullable = false)()
    def rectFilters(u0: Long, u1: Long, t0: Long, t1: Long) = Seq(
      GreaterThanOrEqual(ubA, Literal(u0)), LessThanOrEqual(ubA, Literal(u1)),
      GreaterThanOrEqual(tbA, Literal(t0)), LessThanOrEqual(tbA, Literal(t1)))

    // an aligned 8×8 rectangle is one short z range — a handful of files
    val zRect = filesFor(ops, zRef, rectFilters(16, 23, 32, 39): _*)
    assert(zRect <= zTotal / 8,
      s"8×8 rectangle should touch few z chunks: $zRect of $zTotal")
    // the NON-leading dimension alone: z prunes, linear cannot (every ub
    // stripe spans the whole tb axis)
    val zTb = filesFor(ops, zRef,
      GreaterThanOrEqual(tbA, Literal(8L)), LessThanOrEqual(tbA, Literal(15L)))
    val linTb = filesFor(ops, linRef,
      GreaterThanOrEqual(tbA, Literal(8L)), LessThanOrEqual(tbA, Literal(15L)))
    assert(zTb <= zTotal * 2 / 3, s"z tb-slice listed $zTb of $zTotal")
    assert(linTb >= linTotal * 9 / 10, s"linear tb-slice listed $linTb of $linTotal")
    // results stay exact through the pruned scan
    assert(ops.scan(zRef)
      .where(col("ub").between(16, 23) && col("tb").between(32, 39))
      .count() == 64L)
  }

  test("rowLocalScanBounds: row-local plans over one graft scan are bounded, cardinality-raising plans are not") {
    val (ops, ref) = fixture()
    val m = ops.meta(ref)
    val scan = ops.scan(ref)
    val bridge = org.apache.spark.sql.GraftBridge
    val maxBytes = Routes.Default.driverMaxBytes

    // bare scan / projection / filter chains: bounded by the table
    val (r1, b1) = bridge.rowLocalScanBounds(scan, maxBytes)
    assert(r1.contains(1000L) && b1.exists(_ > 0))
    val (r2, b2) = bridge.rowLocalScanBounds(
      scan.where(col("k") % 7 === 0).select((col("v") * 2).as("w"), col("k")), maxBytes)
    assert(r2.contains(1000L) && b2 == b1)

    // cardinality-raising or multi-source plans: unbounded
    assert(bridge.rowLocalScanBounds(
      scan.as("a").join(scan.as("b"), "k"), maxBytes)._1.isEmpty)
    assert(bridge.rowLocalScanBounds(scan.unionAll(scan), maxBytes)._1.isEmpty)
    // grouped aggregation cannot raise cardinality: bounded by its input
    // (round 8 — admits agg-CTAS to the driver route)
    assert(bridge.rowLocalScanBounds(
      scan.groupBy(col("k") % 10).count(), maxBytes)._1.contains(1000L))
    // ... and a GLOBAL aggregate is exactly one row
    assert(bridge.rowLocalScanBounds(
      scan.agg(org.apache.spark.sql.functions.sum(col("v"))), maxBytes)._1.contains(1L))
    assert(bridge.rowLocalScanBounds(scan.select(
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(col("k"), col("v")))), maxBytes)._1.isEmpty)
    // a driver-resident local relation is trivially bounded (round 8)
    import spark.implicits._
    assert(bridge.rowLocalScanBounds(
      Seq((1L, 2L)).toDF("k", "v"), maxBytes)._1.contains(1L))

    // the bound admits the driver route end-to-end: an INSERT..SELECT
    // delta shape built with these bounds hash-equals the job path
    val delta = scan.where(col("k") < 10)
      .select((col("k") + 5000).as("k"), col("v"))
    val (rb, bb) = bridge.rowLocalScanBounds(delta, maxBytes)
    assert(rb.contains(1000L) && bb.isDefined)
    val viaBounded = ops.fromDataFrameBounded(delta, Seq("k"),
      FoldSpec.FoldLast, rb, bb)
    val viaPlain = ops.fromDataFrame(delta, Seq("k"))
    assert(viaBounded.hash == viaPlain.hash)
    assert(m.chunks.nonEmpty)
  }

  test("rowLocalScanBounds: materialized cache and small parquet leaves are bounded") {
    val bridge = org.apache.spark.sql.GraftBridge
    val maxBytes = Routes.Default.driverMaxBytes

    // a MATERIALIZED InMemoryRelation: exact rows + in-memory bytes
    val cached = spark.range(0, 500).selectExpr("id AS k", "id * 3 AS v").cache()
    try {
      assert(bridge.rowLocalScanBounds(cached, maxBytes)._1.isEmpty,
        "an unmaterialized cache has no row count yet")
      cached.count() // materialize
      val (cr, cb) = bridge.rowLocalScanBounds(
        cached.where(col("k") % 2 === 0).select(col("k")), maxBytes)
      assert(cr.contains(500L) && cb.exists(_ > 0))
    } finally cached.unpersist()

    // a small raw parquet relation: bytes from file stats, rows from footers
    val dir = graft.core.FsUtil.tempStoreDir("graft-bounds-pq-")
    spark.range(0, 700).selectExpr("id AS k", "id * 5 AS v")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val pq = spark.read.parquet(dir)
    val (pr, pb) = bridge.rowLocalScanBounds(pq.where(col("k") < 10), maxBytes)
    assert(pr.contains(700L), s"parquet footer rows: $pr")
    assert(pb.exists(_ > 0))
    // cardinality-raising plans over the same leaves stay unbounded
    assert(bridge.rowLocalScanBounds(pq.unionAll(pq), maxBytes)._1.isEmpty)
    // and a bounded-leaf CTAS hash-equals the plain build
    val ops = newOps()
    val viaBounded = ops.fromDataFrameBounded(pq, Seq("k"),
      FoldSpec.FoldLast, pr, pb)
    assert(viaBounded.hash == ops.fromDataFrame(pq, Seq("k")).hash)
  }
}
