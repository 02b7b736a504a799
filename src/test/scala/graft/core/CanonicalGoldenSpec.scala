package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins the canonical format with literal hashes. Content-addressed
  * storage promises that the same logical content gets the same chunks
  * and the same SHA-256 however it was built, so these values may only
  * change with a deliberate format version bump. Each case also pins the
  * route it exercises (by the labels of the Spark jobs it launched), and
  * a digest of every chunk's zone-map stats, which the table hash does
  * not cover. */
class CanonicalGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // every value-column family the encoder distinguishes: integral,
  // decimal, string, floating point, boolean, array — with NULLs
  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("n", LongType),
    StructField("amt", DecimalType(12, 2)),
    StructField("tag", StringType),
    StructField("x", DoubleType),
    StructField("flag", BooleanType),
    StructField("xs", ArrayType(LongType))))

  private def row(i: Int): Row = Row(f"key$i%06d", (i * 37L) % 1000,
    java.math.BigDecimal.valueOf(i.toLong * 101 % 100000, 2),
    if (i % 5 == 0) null else s"t${i % 7}", i * 0.25 - 100, i % 3 == 0,
    if (i % 4 == 0) null else (0 until i % 3).map(j => (i + j).toLong))

  private def distributed(rows: Seq[Row], s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), s)

  private def local(rows: Seq[Row], s: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)

  private def newStore(): FsStore =
    new FsStore(FsUtil.tempStoreDir("graft-golden-"))

  private def materialize(df: DataFrame, keyCols: Seq[String], target: Long,
      groupCol: Option[String], rowBound: Option[Long]): Map[String, TableMeta] =
    Canonical.materialize(new EngineSessions(spark), newStore(), Routes.Default,
      df, keyCols, target, groupCol = groupCol, rowBound = rowBound)

  /** Canonical text of every chunk's stats, hashed. */
  private def statsDigest(m: TableMeta): String = Hashing.sha256Hex(
    m.chunks.map { c =>
      c.hash + c.stats.toSeq.sortBy(_._1).map { case (n, s) =>
        Seq(n, s.minHex.getOrElse("-"), s.maxHex.getOrElse("-"),
          s.nulls.toString, s.dictHex.fold("-")(_.mkString(",")),
          s.sumDec.getOrElse("-")).mkString(":")
      }.mkString(";")
    }.mkString("|").getBytes(UTF_8))

  /** `body`'s result and the labels of the Spark jobs it launched. */
  private def withJobLabels[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = "golden-" + System.nanoTime()
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(p => p.getProperty("spark.jobGroup.id") == group)
          .foreach(p => labels.add(
            String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "canonical golden")
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      (out, labels.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("multi-chunk bulk load on the job route") {
    val ops = new Ops(spark, newStore(), 64)
    val (ref, labels) = withJobLabels(
      ops.fromDataFrame(distributed((0 until 4000).map(row), schema), Seq("k")))
    assert(labels.contains("graft:sample") && labels.contains("graft:write"),
      s"expected the sampled-split job route, ran: $labels")
    val m = ops.meta(ref)
    assert(m.chunks.length > 30, s"expected many chunks, got ${m.chunks.length}")
    assert(ref.hash == "b09d32259f68022e3f0423cec2f29e765069efb4d6e84dabccf2f67996fa157c")
    assert(statsDigest(m) == "b6b9569299a768765cee0a0830ef50aa89f8e5640769c1840ba35495d9334d9d")
  }

  test("small materialization on the driver routes") {
    val rows = (0 until 600).map(row)
    val (viaCollect, collectLabels) = withJobLabels(materialize(
      distributed(rows, schema), Seq("k"), 64, None, Some(600L)))
    assert(collectLabels == Seq("graft:collect"),
      s"expected one driver collect, ran: $collectLabels")
    val (viaLocal, localLabels) = withJobLabels(materialize(
      local(rows, schema), Seq("k"), 64, None, Some(600L)))
    assert(localLabels.isEmpty, s"expected the zero-job route, ran: $localLabels")
    Seq(viaCollect, viaLocal).foreach { out =>
      assert(out.keySet == Set(Canonical.Ungrouped))
      val m = out(Canonical.Ungrouped)
      assert(m.tableHash == "37cd2ba036e79493089bd1005ee6c974b24ef0d8fcb4d868b93f7e1fb00ad1ef")
      assert(statsDigest(m) == "1fe99bdba7d791a63d2898ffa6d9ed9f128a941b613074bb92f6a52aefbade8c")
    }
  }

  test("an empty ungrouped input still yields its zero-chunk table") {
    val empty = distributed(Nil, schema)
    Seq(Some(0L), None).foreach { bound =>
      val out = materialize(empty, Seq("k"), 64, None, bound)
      assert(out.keySet == Set(Canonical.Ungrouped), s"rowBound $bound")
      assert(out(Canonical.Ungrouped).chunks.isEmpty)
      assert(out(Canonical.Ungrouped).tableHash == "e36a056bad9f19249e1160dc38511707e15a8df241addfa30c3c5c88e04e5ff1")
    }
  }

  test("grouped materialization: one table per group, same on every route") {
    // composite key; each group becomes its own canonical table
    val gSchema = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType, nullable = false),
      StructField("v", LongType),
      StructField("s", StringType),
      StructField("g", StringType, nullable = false)))
    val rows = (0 until 900).map(i => Row((i % 40).toLong, s"b${i / 40}",
      i * 7L, if (i % 9 == 0) null else s"s${i % 11}", s"grp${i % 3}"))
    val golden = Map(
      "grp0" -> "988a404764332f576c0e0a3b035867eae5ecef320469a5d5d931a071151d19f2",
      "grp1" -> "590f8053e39e04961dcce3aa5e7ef69e2116ed39ca52c5331240cb1c7ecae0e4",
      "grp2" -> "7d547857ffacbfff10e383e47607d379ef8248e1ce45ea525cca9a059ea45ac7")
    val routes = Seq(
      ("job", distributed(rows, gSchema), None, Seq("graft:sample-g", "graft:write-g")),
      ("collect", distributed(rows, gSchema), Some(900L), Seq("graft:collect-g")),
      ("zero-job", local(rows, gSchema), Some(900L), Nil))
    routes.foreach { case (route, df, bound, wantLabels) =>
      val (out, labels) = withJobLabels(
        materialize(df, Seq("a", "b"), 16, Some("g"), bound))
      assert(labels == wantLabels, s"$route route ran: $labels")
      assert(out.view.mapValues(_.tableHash).toMap == golden, s"$route route")
      assert(out.values.forall(_.chunks.length > 5), s"$route route")
      assert(statsDigest(out("grp1")) == "82fc46a193e45149f53997823135d0c07eeade86644577733d1b70a165289b5a", s"$route route")
    }
  }
}
