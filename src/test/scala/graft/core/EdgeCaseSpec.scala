package graft.core

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Canonicalization edge cases: unicode keys, null values, binary keys
  * with embedded zeros, empty-string keys, heavily-skewed key groups,
  * multi-column prefix bounds. The canonical layer must stay
  * deterministic and lossless through all of them. */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newOps(target: Long = 8): Ops =
    new Ops(spark, new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-edge-")), target)

  test("unicode and empty-string keys round-trip with stable hash") {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val keys = Seq("", "a", "中文键", "éclair", "🚀🚀", "a b c", "ab\tcd", "ZZ")
    val rows = keys.zipWithIndex.map { case (k, i) => Row(k, i.toLong) }
    val ops = newOps()
    def build(slices: Int): TableRef = ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema),
      Seq("k"))
    val r1 = build(1); val r2 = build(5)
    assert(r1.hash == r2.hash)
    val got = ops.scanOrdered(r1).collect().map(r => r.getString(0)).toSeq
    assert(got.toSet == keys.toSet)
    // lookup across the exotic keys
    keys.foreach { k =>
      assert(ops.lookup(r1, Seq(k)).collect().length == 1, s"lookup '$k'")
    }
  }

  test("null values (not keys) survive canonicalization and folds") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    val rows = Seq(Row(1L, "x"), Row(2L, null), Row(3L, "z"))
    val ops = newOps()
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val ref = ops.fromDataFrame(df, Seq("k"))
    val got = ops.scanOrdered(ref).collect().map(r =>
      r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("x"), 2L -> None, 3L -> Some("z")))
    // merging a delta that overwrites null with value and value with null
    val delta = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "now"), Row(3L, null)), 1), schema)
    val merged = ops.upsert(ref, ops.fromDataFrame(delta, Seq("k")))
    val got2 = ops.scanOrdered(merged).collect().map(r =>
      r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got2 == Map(1L -> Some("x"), 2L -> Some("now"), 3L -> None))
  }

  test("null KEY is rejected with a clear error (keys are non-nullable)") {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    val ops = newOps()
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a", 1L), Row(null, 2L)), 2), schema)
    val e = intercept[Exception](ops.fromDataFrame(df, Seq("k")))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("null key in key column"))),
      s"wanted the explicit null-key error, got: $e")
  }

  test("null KEY is rejected on the grouped materialization, on every route") {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", LongType, nullable = false),
      StructField("g", StringType, nullable = false)))
    val rows = Seq(Row("a", 1L, "g0"), Row(null, 2L, "g0"), Row("b", 3L, "g1"))
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-edge-"))
    // a LocalRelation input takes the zero-job driver route, a
    // distributed one the collect driver route, and no row bound the job
    // route
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val distributed =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    Seq(("zero-job", local, Some(3L)), ("collect", distributed, Some(3L)),
        ("job", distributed, None)).foreach { case (route, df, bound) =>
      val e = intercept[Exception](Canonical.materialize(
        new EngineSessions(spark), store, Routes.Default, df, Seq("k"), 8,
        groupCol = Some("g"),
        rowBound = bound))
      assert(causes(e).exists(c =>
        Option(c.getMessage).exists(_.contains("null key in key column"))),
        s"$route route: wanted the explicit null-key error, got: $e")
    }
  }

  test("binary keys with embedded zeros") {
    val schema = StructType(Seq(
      StructField("k", BinaryType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val keys = Seq(Array[Byte](), Array[Byte](0), Array[Byte](0, 0),
      Array[Byte](0, 1), Array[Byte](1), Array[Byte](-1, 0, -1))
    val rows = keys.zipWithIndex.map { case (k, i) => Row(k, i.toLong) }
    val ops = newOps()
    val ref = ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema),
      Seq("k"))
    val got = ops.scanOrdered(ref).collect()
    assert(got.length == keys.length)
    // ordered scan must follow unsigned byte order
    val scanned = got.map(_.getAs[Array[Byte]](0)).toSeq
    val sorted = keys.sortWith(Hashing.compareBytes(_, _) < 0)
    assert(scanned.zip(sorted).forall { case (a, b) => a.sameElements(b) })
  }

  test("multi-column key: prefix bounds and full-tuple bounds") {
    val schema = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val rows = for (a <- 0L until 10L; b <- Seq("p", "q", "r"))
      yield Row(a, b, a * 10)
    val ops = newOps()
    val ref = ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema),
      Seq("a", "b"))
    // prefix bound on first column only: a in [3, 6)
    val pre = ops.rangeFilter(ref,
      Some(Bound(Seq(3L), inclusive = true)),
      Some(Bound(Seq(6L), inclusive = false)))
    val gotPre = ops.scan(pre).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotPre == (for (a <- 3L until 6L; b <- Seq("p", "q", "r")) yield (a, b)).toSet)
    // full-tuple bounds: [(4,"q"), (6,"q")] inclusive
    val full = ops.rangeFilter(ref,
      Some(Bound(Seq(4L, "q"), inclusive = true)),
      Some(Bound(Seq(6L, "q"), inclusive = true)))
    val gotFull = ops.scan(full).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def tupleGte(a: (Long, String), b: (Long, String)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2)
    val wantFull = rows.map(r => (r.getLong(0), r.getString(1)))
      .filter(t => tupleGte(t, (4L, "q")) && tupleGte((6L, "q"), t)).toSet
    assert(gotFull == wantFull)
  }

  test("deleteRange with a tuple-prefix bound drops a whole tenant, hash-equals from-scratch") {
    // the retention-delete shape: (tenant, id) keys, one bound naming
    // only the tenant column removes every key under it
    val schema = StructType(Seq(
      StructField("tenant", LongType, nullable = false),
      StructField("id", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val rows = for (t <- 0L until 8L; i <- 0 until 40)
      yield Row(t, f"id$i%03d", t * 1000 + i)
    val ops = newOps(target = 16)
    val ref = ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema),
      Seq("tenant", "id"))
    val out = ops.deleteRange(ref,
      Some(Bound(Seq(3L), inclusive = true)),
      Some(Bound(Seq(3L), inclusive = true)))
    val got = ops.scan(out).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == rows.filter(_.getLong(0) != 3L)
      .map(r => (r.getLong(0), r.getString(1))).toSet,
      "tenant 3 must vanish entirely, everything else untouched")
    val scratch = ops.fromDataFrame(
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.filter(_.getLong(0) != 3L), 4), schema),
      Seq("tenant", "id"))
    assert(out.hash == scratch.hash)
  }

  test("verifyTable: clean table verifies; corrupted chunk is detected (checkTrie parity)") {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val ops = newOps(target = 16)
    val rows = (0 until 500).map(i => Row(f"key$i%04d", i.toLong))
    val ref = ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema),
      Seq("k"))
    assert(ops.verifyTable(ref).isEmpty, "fresh table must verify")
    // corrupt: swap one chunk file for another chunk's content
    val m = ops.meta(ref)
    assert(m.chunks.length >= 2)
    val p0 = java.nio.file.Paths.get(ops.store.chunkPath(m.chunks(0).hash))
    val p1 = java.nio.file.Paths.get(ops.store.chunkPath(m.chunks(1).hash))
    Files.copy(p1, p0, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val problems = ops.verifyTable(ref)
    assert(problems.nonEmpty, "corruption must be detected")
  }

  test("verifyTable: a meta whose chunk carries a wrong zone-map min is reported") {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val dir = graft.core.FsUtil.tempStoreDir("graft-edge-zone-")
    val ops = new Ops(spark, new FsStore(dir), 16)
    val rows = (0 until 200).map(i => Row(f"key$i%04d", i.toLong))
    val ref = ops.fromDataFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema),
      Seq("k"))
    assert(ops.verifyTable(ref).isEmpty, "fresh table must verify")
    // stats are not part of the table hash: the tampered meta keeps the
    // table's identity, so it replaces the saved meta file in place
    val m = ops.meta(ref)
    val c0 = m.chunks.head
    val v0 = c0.stats("v")
    assert(v0.minHex != v0.maxHex)
    val bad = m.copy(chunks = c0.copy(stats =
      c0.stats.updated("v", v0.copy(minHex = v0.maxHex))) +: m.chunks.tail)
    assert(bad.tableHash == ref.hash)
    Files.delete(java.nio.file.Paths.get(dir, "tables", s"${ref.hash}.json"))
    ops.store.saveTableMeta(bad)
    val problems = ops.verifyTable(ref)
    assert(problems.exists(_.contains("zone map mismatch on column v")),
      s"wrong zone-map min not reported: $problems")
  }

  test("empty tables flow through scan, join views, and replication") {
    val dir = graft.core.FsUtil.tempStoreDir("graft-edge-empty-")
    val store = new FsStore(dir)
    val ops = new Ops(spark, store, 8)
    val cat = new Catalog(store)
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    def df(rows: Seq[(String, Long)]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), schema)

    // empty table: scan/rangeFilter/ordered scan all yield zero rows
    val empty = ops.emptyTable(schema, Seq("k"))
    assert(ops.scan(empty).count() == 0)
    assert(ops.scan(ops.rangeFilter(empty,
      Some(Bound(Seq("a"), inclusive = true)), None)).count() == 0)

    // join view with one EMPTY side: full-outer keeps the other side,
    // absent-side column all-null
    val bSchema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("w", LongType, nullable = false)))
    cat.put("a", ops.fromDataFrame(df(Seq("x" -> 1L, "y" -> 2L)), Seq("k")))
    cat.put("b", ops.emptyTable(bSchema, Seq("k")))
    val views = new Views(ops, cat)
    val j = views.defineJoin("j", "a", "b")
    val rows = ops.scanOrdered(j).collect()
      .map(r => (r.getString(0), r.getLong(1), r.isNullAt(2))).toSeq
    assert(rows == Seq(("x", 1L, true), ("y", 2L, true)))

    // replication of a catalog containing an empty table
    val dst = new FsStore(graft.core.FsUtil.tempStoreDir("graft-edge-dst-"))
    Replicate.push(store, dst, store.currentRootHash.get)
    val dcat = new Catalog(dst)
    assert(dcat.get("b").map(_.hash) == cat.get("b").map(_.hash))
    assert(new Ops(spark, dst, 8).scan(dcat.get("j").get).count() == 2)
  }

  test("heavy skew: one key group with thousands of colliding rows folds correctly") {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val rows = (0 until 5000).map(i => Row(if (i % 10 == 0) "hot" else s"k$i", 1L))
    val ops = newOps(target = 64)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
    val ref = ops.fromDataFrame(df, Seq("k"), FoldSpec.FoldSum)
    val hot = ops.lookup(ref, Seq("hot")).collect()(0).getLong(1)
    assert(hot == 500L)
    assert(ops.meta(ref).rows == 4500 + 1)
  }
}
