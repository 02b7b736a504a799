package graft.core

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[org.apache.spark.sql.LocalAggregate]]: an Aggregate over
  * driver-resident rows folds on the driver into a LocalRelation — no
  * Spark job — with exactly the rows the job path computes; and it
  * leaves every plan it cannot fold exactly to the job path. */
class LocalAggregateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // the rule lives on the engine clone, where the engine's driver-route
  // collects plan
  private lazy val engine =
    org.apache.spark.sql.GraftBridge.engineSession(spark)

  private def withJobs[T](s: SparkSession)(body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(s.sparkContext)
    s.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(s.sparkContext)
      (out, jobs.get)
    } finally s.sparkContext.removeSparkListener(l)
  }

  /** `rows` as driver-resident rows (a LocalRelation) and as an RDD the
    * optimizer cannot fold (the job path). */
  private def local(s: SparkSession, schema: StructType, rows: Seq[Row]) =
    s.createDataFrame(rows.asJava, schema)
  private def distributed(s: SparkSession, schema: StructType, rows: Seq[Row]) =
    s.createDataFrame(s.sparkContext.parallelize(rows, 3), schema)

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate])
  private def sorted(rs: Seq[Row]): Seq[Row] = rs.sortBy(_.toString)

  /** `q` over the rows folds on the driver, launches no job, and returns
    * the job path's rows. */
  private def assertFoldsLikeJob(schema: StructType, rows: Seq[Row])(
      q: DataFrame => DataFrame): Seq[Row] = {
    val drv = q(local(engine, schema, rows))
    assert(folded(drv), s"not folded:\n${drv.queryExecution.optimizedPlan}")
    val (got, jobs) = withJobs(engine)(drv.collect().toSeq)
    assert(jobs == 0, s"the driver fold launched $jobs Spark jobs")
    val want = q(distributed(spark, schema, rows)).collect().toSeq
    assert(sorted(got) == sorted(want))
    got
  }

  private val SRC = FoldSpec.SRC
  private def foldOver(fold: FoldSpec, valueCols: String*)(df: DataFrame) =
    df.groupBy(col("k"))
      .agg(fold.aggs(valueCols).head, fold.aggs(valueCols).tail: _*)

  private val rnd = new scala.util.Random(7)
  // 40 groups (one of them NULL), NULLs among the values, every source
  // index distinct (the order-sensitive folds are deterministic)
  private val longRows: Seq[Row] = (0 until 400).map { i =>
    Row(if (i % 41 == 0) null else s"g${i % 40}", i.toLong,
      if (i % 13 == 0) null else rnd.nextInt(1000).toLong - 300L,
      if (i % 17 == 0) null else s"s$i")
  }
  private val longSchema = StructType(Seq(StructField("k", StringType),
    StructField(SRC, LongType, nullable = false), StructField("v", LongType),
    StructField("w", StringType)))

  test("every registry fold folds on the driver to the job path's rows") {
    val folds: Seq[(FoldSpec, Seq[String])] = Seq(
      FoldSpec.FoldLast -> Seq("v", "w"),
      FoldSpec.FoldSum -> Seq("v"),
      FoldSpec.FoldMin -> Seq("v", "w"),
      FoldSpec.FoldMax -> Seq("v", "w"),
      FoldSpec.FoldBitOr -> Seq("v"),
      FoldSpec.FoldBitAnd -> Seq("v"),
      FoldSpec.FoldCoalesce -> Seq("v", "w"),
      FoldSpec.FoldByColumn(Seq("v" -> FoldSpec.FoldSum,
        "w" -> FoldSpec.FoldMax)) -> Seq("v", "w"),
      FoldSpec.FoldConcat -> Seq("w"))
    folds.foreach { case (f, vs) =>
      withClue(f.key) {
        assertFoldsLikeJob(longSchema, longRows)(foldOver(f, vs: _*))
      }
    }
  }

  test("the SQL views' KMV and histogram sketch folds fold on the driver to the job path's rows") {
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("kmv", ArrayType(LongType, containsNull = false)),
      StructField("hist", ArrayType(LongType, containsNull = false))))
    val rows = (0 until 500).map { i =>
      Row(s"g${i % 23}",
        if (i % 11 == 0) Seq.empty[Long] else Seq(rnd.nextLong() >>> 12),
        if (i % 7 == 0) Seq.empty[Long] else Seq((i % 9).toLong, 1L))
    }
    Seq(graft.sql.SqlViews.kmvFold -> "kmv",
        graft.sql.SqlViews.histFold -> "hist").foreach { case (f, c) =>
      withClue(f.key) {
        assertFoldsLikeJob(schema, rows)(df => foldOver(f, c)(df.drop(
          schema.fieldNames.filterNot(Set("k", c)).toSeq: _*)))
      }
    }
  }

  test("an empty global aggregate folds to its one row, an empty grouped one to none") {
    val empty = Seq.empty[Row]
    val one = assertFoldsLikeJob(longSchema, empty)(
      _.agg(count(lit(1)), sum("v"), max("w"), collect_list("v")))
    assert(one.length == 1 && one.head.getLong(0) == 0L && one.head.isNullAt(1))
    assert(assertFoldsLikeJob(longSchema, empty)(
      foldOver(FoldSpec.FoldSum, "v")).isEmpty)
  }

  test("NULL and -0.0 / 0.0 / NaN float group keys group as on the job path") {
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val keys = Seq[Any](-0.0, 0.0, Double.NaN, nan2, 1.5, null, -0.0, nan2)
    val schema = StructType(Seq(StructField("k", DoubleType),
      StructField("f", FloatType), StructField("v", LongType)))
    val rows = keys.zipWithIndex.map { case (k, i) =>
      Row(k, if (i % 2 == 0) -0.0f else 0.0f, i.toLong)
    }
    val out = assertFoldsLikeJob(schema, rows)(
      _.groupBy("k", "f").agg(sum("v"), count(lit(1))))
    // -0.0 joins 0.0, both NaNs are one group
    assert(out.count(r => !r.isNullAt(0) && r.getDouble(0).isNaN) == 1)
    assert(!out.exists(r => !r.isNullAt(0) &&
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(-0.0)))
  }

  test("a Union of driver-resident relations folds, and the Aggregate above it") {
    def q(mk: Seq[Row] => DataFrame): DataFrame =
      foldOver(FoldSpec.FoldSum, "v")(mk(longRows.take(100)).union(
        mk(longRows.drop(100)).select(col("k"), col(SRC),
          (-col("v")).as("v"), col("w"))))
    val drv = q(local(engine, longSchema, _))
    assert(folded(drv), s"not folded:\n${drv.queryExecution.optimizedPlan}")
    val (got, jobs) = withJobs(engine)(drv.collect().toSeq)
    assert(jobs == 0, s"the driver fold launched $jobs Spark jobs")
    assert(sorted(got) ==
      sorted(q(distributed(spark, longSchema, _)).collect().toSeq))
  }

  test("DISTINCT and FILTER aggregates decline to the job path") {
    val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "distinct" -> (_.groupBy("k").agg(count_distinct(col("v")))),
      "filter" -> (_.groupBy("k").agg(expr("count(v) FILTER (WHERE v > 3)"))))
    queries.foreach { case (name, q) =>
      withClue(name) {
        val drv = q(local(engine, longSchema, longRows))
        assert(hasAggregate(drv), "the aggregate was folded")
        assert(sorted(drv.collect().toSeq) == sorted(
          q(distributed(spark, longSchema, longRows)).collect().toSeq))
      }
    }
  }

  test("nondeterministic, streaming and over-cap driver-resident inputs decline") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, Rand}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Sum}
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(longSchema)
    val rows = local(engine, longSchema, longRows).queryExecution
      .optimizedPlan.asInstanceOf[LocalRelation].data
    // (the analyzer pulls a nondeterministic argument out into a Project,
    // so the rule is applied to the plan directly)
    val nondet = Aggregate(Nil,
      Seq(Alias(Sum(Rand(Literal(7L))).toAggregateExpression(), "s")()),
      LocalRelation(attrs, rows))
    assert(org.apache.spark.sql.LocalAggregate(nondet) eq nondet)
    val streaming = Aggregate(Nil,
      Seq(Alias(Count(Literal(1)).toAggregateExpression(), "n")()),
      LocalRelation(attrs, Nil, isStreaming = true))
    assert(org.apache.spark.sql.LocalAggregate(streaming) eq streaming)
    val over = (0L to Ops.DriverZeroJobMaxRows).map(i =>
      Row(s"g${i % 5}", i, i, null))
    val big = local(engine, longSchema, over).groupBy("k").agg(sum("v"))
    assert(hasAggregate(big), "an over-cap input was folded")
    val atCap = local(engine, longSchema, over.tail)
      .groupBy("k").agg(sum("v"))
    assert(folded(atCap), "an input at the cap was not folded")
  }

  test("an overflowing ANSI SUM raises the job path's error") {
    val s = org.apache.spark.sql.GraftBridge.engineSession(spark)
    s.conf.set("spark.sql.ansi.enabled", "true")
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("v", LongType)))
    val rows = Seq(Row("a", Long.MaxValue), Row("a", 1L), Row("b", 1L))
    def error(df: DataFrame): Throwable = {
      val e = intercept[Throwable](df.groupBy("k").agg(sum("v")).collect())
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    }
    val drv = local(s, schema, rows).groupBy("k").agg(sum("v"))
    assert(hasAggregate(drv), "the overflowing aggregate was folded")
    val (got, want) = (error(local(s, schema, rows)),
      error(distributed(s, schema, rows)))
    assert(got.getClass == want.getClass)
    assert(got.getMessage == want.getMessage)
  }
}
