package graft.core

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import scala.util.Random

/** [[Ops.patchTable]]: targeted delta apply must hash-converge with a
  * from-scratch build of the same row set (content-defined chunking
  * makes the decomposition a pure function of the key set), while
  * rewriting only the touched chunk runs — the point-DML economics a
  * secondary-index refresh rides. */
class PatchTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def df(rows: Seq[(String, Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 4), schema)

  private def newOps(): Ops =
    new Ops(spark, new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-patch-")), 16)

  /** Reference semantics: base minus deleted keys minus replaced keys,
    * plus upserts. */
  private def applyModel(base: Seq[(String, Long)], ups: Seq[(String, Long)],
      dels: Seq[String]): Seq[(String, Long)] = {
    val dead = dels.toSet ++ ups.map(_._1)
    base.filterNot(r => dead(r._1)) ++ ups
  }

  private def check(ops: Ops, base: Seq[(String, Long)],
      ups: Seq[(String, Long)], dels: Seq[String]): Unit = {
    val ref = ops.fromDataFrame(df(base), Seq("k"))
    val patched = ops.patchTable(ref,
      ups.map(u => Row(u._1, u._2)), dels.map(Seq(_)))
    val want = applyModel(base, ups, dels)
    val scratch = ops.fromDataFrame(df(want), Seq("k"))
    assert(patched.hash == scratch.hash,
      s"patch diverged from rebuild for ups=$ups dels=$dels")
  }

  test("edge shapes: boundary deletes, out-of-range inserts, whole-chunk delete, empty delta") {
    val ops = newOps()
    val base = (0 until 500).map(i => f"key$i%04d" -> i.toLong)
    val ref = ops.fromDataFrame(df(base), Seq("k"))
    val m = ops.meta(ref)
    assert(m.chunks.length > 10, s"need many chunks, got ${m.chunks.length}")
    // empty delta is the identity
    assert(ops.patchTable(ref, Nil, Nil) == ref)
    // delete every chunk-STARTING key (the fuse-with-predecessor case)
    val kEnc = KeyCodec.rowEncoder(m.schema, m.keyCols)
    val starters = base.filter { case (k, v) =>
      m.chunks.exists(c => java.util.Arrays.equals(c.minKey, kEnc(Row(k, v)))) }
    assert(starters.nonEmpty)
    check(ops, base, Nil, starters.take(3).map(_._1))
    // inserts before the first and after the last key
    check(ops, base, Seq("aaa" -> -1L, "zzz" -> -2L), Nil)
    // delete an entire chunk's rows
    val firstChunkRows = base.take(m.chunks.head.rows.toInt)
    check(ops, base, Nil, firstChunkRows.map(_._1))
    // mixed: replace + delete + insert in one patch
    check(ops, base, Seq("key0100" -> 7L, "key0777" -> 8L), Seq("key0200"))
  }

  test("randomized convergence against from-scratch builds") {
    val ops = newOps()
    val rnd = new Random(42)
    for (round <- 0 until 6) {
      val n = 200 + rnd.nextInt(400)
      val base = rnd.shuffle((0 until 1000).toList).take(n)
        .map(i => f"k$i%04d" -> i.toLong)
      val ups = (0 until rnd.nextInt(20)).map(_ =>
        f"k${rnd.nextInt(1100)}%04d" -> rnd.nextLong(1000))
        .distinctBy(_._1)
      val dels = (0 until rnd.nextInt(20)).map(_ =>
        f"k${rnd.nextInt(1100)}%04d").distinct
        .filterNot(ups.map(_._1).contains(_))
      check(ops, base, ups, dels)
    }
  }

  test("patch economics: a point delta rewrites O(delta) chunks, not the table") {
    val ops = newOps()
    val store = ops.store
    val base = (0 until 2000).map(i => f"key$i%05d" -> i.toLong)
    val ref = ops.fromDataFrame(df(base), Seq("k"))
    val nChunks = ops.meta(ref).chunks.length
    assert(nChunks > 60, s"need many chunks, got $nChunks")
    store.stats.reset()
    val out = ops.patchTable(ref,
      Seq(Row("key00500", 1L)), Seq(Seq("key01500")))
    val saves = store.stats.snapshot("chunkSaves")
    assert(saves <= 6,
      s"point patch must rewrite few chunks, wrote $saves of $nChunks")
    val want = applyModel(base, Seq("key00500" -> 1L), Seq("key01500"))
    assert(out.hash == ops.fromDataFrame(df(want), Seq("k")).hash)
  }
  /** The round-6 ZERO-JOB driver patch: a rich primitive schema
    * round-trips through DriverChunks (decimal / date / timestamp /
    * binary / double / boolean), no Spark job runs, and the result
    * hash-equals both the forced Spark-path patch and a from-scratch
    * rebuild. */
  test("driver patch: zero jobs, rich schema round-trip, hash == job path") {
    val richSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DecimalType(24, 4)),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("b", BinaryType),
      StructField("x", DoubleType),
      StructField("f", BooleanType)))
    def row(i: Int): Row = Row(i.toLong, s"s$i",
      new java.math.BigDecimal(s"${i * 7}.25"),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000L + i)),
      { val t = new java.sql.Timestamp(1600000000000L + i * 1000L)
        t.setNanos(i % 1000 * 1000); t },
      Array[Byte](i.toByte, (i + 1).toByte),
      i * 1.5, i % 2 == 0)
    def rich(ops: Ops, n: Int): TableRef = {
      val rdf = spark.createDataFrame(
        spark.sparkContext.parallelize((0 until n).map(row), 4), richSchema)
      ops.fromDataFrame(rdf, Seq("k"))
    }
    val ups = (0 until 7).map(i => row(i * 37 + 1000))
    val dels = Seq(Seq(3L), Seq(111L))

    val ops1 = newOps()
    val base1 = rich(ops1, 400)
    // suites share the SparkContext and may run in parallel — count
    // only jobs carrying THIS thread's job group
    val group = "pt-driver-patch-" + System.nanoTime()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (g.contains(group)) jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "driver patch probe")
    val driverRes =
      try ops1.patchTable(base1, ups, dels)
      finally spark.sparkContext.clearJobGroup()
    // listener events are async — give the bus a moment to drain
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0,
      s"driver patch must run zero Spark jobs, ran ${jobs.get}")

    // forced Spark path on a fresh store: identical hash
    val ops2 = newOps()
    val base2 = rich(ops2, 400)
    assert(base1.hash == base2.hash)
    val sparkRes = new Ops(spark, ops2.store, 16,
      routes = Routes(driverPatch = false)).patchTable(base2, ups, dels)
    assert(driverRes.hash == sparkRes.hash,
      "driver patch and Spark patch must converge")

    // and both equal the from-scratch rebuild
    val ops3 = newOps()
    val want = (0 until 400).filterNot(i => i == 3 || i == 111)
      .map(row) ++ ups
    val wdf = spark.createDataFrame(
      spark.sparkContext.parallelize(want, 4), richSchema)
    assert(ops3.fromDataFrame(wdf, Seq("k")).hash == driverRes.hash)
  }

  test("array columns ride the driver routes: patch + materialization hash == job path") {
    // vector-table shape (ANN index rows): ARRAY<long> value columns,
    // incl. NULL array, EMPTY array, and a null element — the driver
    // chunk reader/writer must round-trip all three bit-exactly
    // against Spark-written chunk files
    val vecSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("q", ArrayType(LongType), nullable = true),
      StructField("tag", StringType)))
    def row(i: Int): Row = Row(i.toLong,
      if (i % 97 == 5) null
      else if (i % 41 == 7) Seq.empty[Any]
      else if (i % 31 == 3) Seq[Any](i.toLong, null, i.toLong * 3)
      else Seq[Any](i.toLong, i.toLong * 2, i.toLong * 3),
      s"t$i")
    def build(ops: Ops, n: Int): TableRef =
      ops.fromDataFrame(spark.createDataFrame(
        spark.sparkContext.parallelize((0 until n).map(row), 4), vecSchema),
        Seq("k"))
    val ups = (0 until 5).map(i => row(i * 53 + 900))
    val dels = Seq(Seq(2L), Seq(77L))

    val ops1 = newOps()
    val base1 = build(ops1, 300)
    val driverRes = ops1.patchTable(base1, ups, dels)

    val ops2 = newOps()
    val base2 = build(ops2, 300)
    assert(base1.hash == base2.hash)
    val sparkRes = new Ops(spark, ops2.store, 16,
      routes = Routes(driverPatch = false, driverMaterialize = false))
      .patchTable(base2, ups, dels)
    assert(driverRes.hash == sparkRes.hash,
      "driver and Spark routes must converge on array schemas")

    val ops3 = newOps()
    val want = (0 until 300).filterNot(i => i == 2 || i == 77).map(row) ++ ups
    assert(ops3.fromDataFrame(spark.createDataFrame(
      spark.sparkContext.parallelize(want, 4), vecSchema), Seq("k")).hash
      == driverRes.hash)

    // read-back correctness through the Spark scan (values, not just
    // hash): upserted row, null array (5 % 97 == 5), empty array
    // (48 % 41 == 7), null element (34 % 31 == 3)
    val got = ops1.scan(driverRes)
      .where(org.apache.spark.sql.functions.col("k").isin(900L, 5L, 48L, 34L))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Any](1)).map(_.toList)).toMap
    assert(got(900L) == Some(List(900L, 1800L, 2700L)))
    assert(got(5L).isEmpty, "null array must stay null")
    assert(got(48L) == Some(Nil), "empty array must stay empty, not null")
    assert(got(34L) == Some(List(34L, null, 102L)))
  }

  test("adaptive driver cap: width decides — narrow rows widen the zero-job window, the byte budget guards wide ones") {
    def jobsDuring[T](tag: String)(body: => T): (T, Int) = {
      val group = tag + System.nanoTime()
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val g = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          if (g.contains(group)) jobs.incrementAndGet(): Unit
        }
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, tag)
      val out = try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      (out, jobs.get)
    }

    // NARROW schema, touched run ABOVE the old static 2^17 row cap but
    // only a few compressed MB: the byte-aware gate admits it and the
    // patch runs with zero Spark jobs
    val wideRun = 200000
    val bigOps = new Ops(spark, new FsStore(
      graft.core.FsUtil.tempStoreDir("graft-patch-wide-")), wideRun)
    val base = bigOps.fromDataFrame(
      df((0 until 260000).map(i => (f"k$i%07d", i.toLong))), Seq("k"))
    assert(bigOps.meta(base).chunks.map(_.rows).max > Ops.DriverPatchMaxRows)
    val (patched, nJobs) = jobsDuring("pt-adaptive-narrow-") {
      bigOps.patchTable(base, Seq(Row("k0000003", -3L)), Seq(Seq("k0000007")))
    }
    assert(nJobs == 0,
      s"narrow-row patch above the static row cap should stay driver-side, ran $nJobs jobs")
    val want = (0 until 260000).filterNot(_ == 7)
      .map(i => (f"k$i%07d", if (i == 3) -3L else i.toLong))
    assert(patched.hash == bigOps.fromDataFrame(df(want), Seq("k")).hash)

    // WIDE rows: shrink the byte budget so the same patch shape is
    // byte-rejected — the job path runs (jobs > 0) and converges
    val ops2 = newOps()
    val base2 = ops2.fromDataFrame(
      df((0 until 300).map(i => (f"k$i%05d", i.toLong))), Seq("k"))
    val bytes16 = new Ops(spark, ops2.store, 16,
      routes = Routes(driverMaxBytes = 16))
    val (p2, n2) = jobsDuring("pt-adaptive-wide-") {
      bytes16.patchTable(base2, Seq(Row("k00009", 99L)), Nil)
    }
    assert(n2 > 0, "byte-rejected patch must fall back to the job path")
    val want2 = (0 until 300).map(i => (f"k$i%05d", if (i == 9) 99L else i.toLong))
    assert(p2.hash == bytes16.fromDataFrame(df(want2), Seq("k")).hash)
  }

}
