package graft.core

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, LocalFold, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[org.apache.spark.sql.LocalFold]] evaluates a frame over
  * driver-resident rows without Catalyst's optimizer. Its rows, read
  * through [[org.apache.spark.sql.GraftBridge.localRelationRows]], must
  * equal — in order, value classes and float bits included — the rows
  * of the optimizer fold it replaces: `ConvertToLocalRelation` plus an
  * aggregate and union folding rule on an interpreted session clone,
  * which folds the OPTIMIZED plan. It must decline every plan it cannot
  * evaluate, and never raise an error the optimized plan does not. */
class LocalFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The optimizer fold: Aggregates and Unions over driver-resident rows
    * folded by LocalFold's own aggregate and union folds, as an
    * optimizer rule that declines on any evaluation failure. */
  private object OptimizerFold extends Rule[LogicalPlan] {
    private def local(p: LogicalPlan): Option[LocalRelation] = p match {
      case lr: LocalRelation if !lr.isStreaming => Some(lr)
      case _ => None
    }
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case u: Union if u.children.forall(local(_).isDefined) =>
        LocalFold.union(u, u.children.flatMap(local)).getOrElse(u)
      case a: Aggregate => local(a.child).flatMap(lr =>
        scala.util.Try(LocalFold.aggregate(a, lr)).toOption.flatten)
        .getOrElse(a)
    }
  }

  /** A session clone that folds local plans in its optimizer, built
    * after the caller's conf is set (a clone snapshots it). */
  private def optimizerSession(): SparkSession = {
    val es = org.apache.spark.sql.GraftBridge.engineSession(spark)
    es.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    es.experimental.extraOptimizations ++= Seq(OptimizerFold,
      org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation)
    es
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def local(s: SparkSession, schema: StructType, rows: Seq[Row]) =
    s.createDataFrame(rows.asJava, schema)

  /** Each value with its class; floats by their bits; binary and
    * arrays by content. */
  private def canon(v: Any): Any = v match {
    case null => null
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("float", java.lang.Float.floatToRawIntBits(f))
    case b: Array[Byte] => ("binary", b.toSeq)
    case s: scala.collection.Seq[_] => (s.getClass.getName, s.toSeq.map(canon))
    case o => (o.getClass.getName, o)
  }
  private def canonRows(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(_.toSeq.map(canon))

  /** `q` over `rows` folds on the driver, launches no job, and returns
    * the optimizer fold's rows; returns them. */
  private def assertLikeOptimizer(schema: StructType, rows: Seq[Row])(
      q: DataFrame => DataFrame): Seq[Row] = {
    val viaOptimizer = q(local(optimizerSession(), schema, rows))
    assert(viaOptimizer.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"the optimizer did not fold:\n${viaOptimizer.queryExecution.optimizedPlan}")
    val want = viaOptimizer.collect().toSeq
    val df = q(local(spark, schema, rows))
    val (got, jobs) = withJobs(
      org.apache.spark.sql.GraftBridge.localRelationRows(df).map(_.toSeq))
    assert(got.isDefined, s"LocalFold declined:\n${df.queryExecution.analyzed}")
    assert(jobs == 0, s"the fold launched $jobs Spark jobs")
    assert(canonRows(got.get) == canonRows(want))
    assert(got.get.map(_.schema) == want.map(_.schema))
    got.get
  }

  private val SRC = FoldSpec.SRC
  private val rnd = new scala.util.Random(11)
  private val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
  private val keys = Seq[Any](-0.0, 0.0, Double.NaN, nan2, 1.5, null, 2.25)
  // a double key with NULL, -0.0 / 0.0 and two NaN payloads, NULLs among
  // the values, every source index distinct
  private val rows: Seq[Row] = (0 until 300).map { i =>
    Row(keys(i % keys.length), i.toLong,
      if (i % 13 == 0) null else rnd.nextInt(1000).toLong - 300L,
      if (i % 17 == 0) null else s"s$i")
  }
  private val schema = StructType(Seq(StructField("k", DoubleType),
    StructField(SRC, LongType, nullable = false), StructField("v", LongType),
    StructField("w", StringType)))

  test("Project/Filter chains, with a Filter above and below a Project, match the optimizer fold") {
    assertLikeOptimizer(schema, rows)(_.where(col("v") > 0)
      .select(col("k"), (col("v") * 2).as("v2"), upper(col("w")).as("w"))
      .where(col("v2") < 900 && col("w").isNotNull))
    assertLikeOptimizer(schema, rows)(_.select(col("k"), col("v"),
        concat_ws("-", col("w"), col("v")).as("x"))
      .select(col("x"), (col("v") % 7).as("m"), col("k"))
      .where(col("m") =!= 3).where(col("k").isNull || col("k") > 0.0))
    // only Filters: the surviving rows are the input rows themselves
    assertLikeOptimizer(schema, rows)(_.where(col("v") > 100)
      .where(col("w").startsWith("s1")))
  }

  test("every registry fold, with NULL, -0.0 and NaN group keys, matches the optimizer fold") {
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
        val out = assertLikeOptimizer(schema, rows)(df => df.groupBy(col("k"))
          .agg(f.aggs(vs).head, f.aggs(vs).tail: _*))
        // -0.0 joins 0.0, both NaNs are one group
        assert(out.length == 5)
      }
    }
  }

  test("a Union, a Filter above it and an Aggregate over it match the optimizer fold") {
    def union(df: DataFrame): DataFrame =
      df.where(col("v") > 0).union(df.where(col("v") <= 0)
        .select(col("k"), col(SRC), (-col("v")).as("v"), col("w")))
    assertLikeOptimizer(schema, rows)(union)
    assertLikeOptimizer(schema, rows)(df => union(df).where(col("v") % 2 === 0))
    assertLikeOptimizer(schema, rows)(df => union(df).groupBy("k")
      .agg(sum("v"), count(lit(1)), max("w")))
  }

  test("monotonically_increasing_id numbers the rows as the optimizer fold does") {
    // as fromDataFrameBounded folds an ingest: source index, then fold
    val f = FoldSpec.FoldLast
    assertLikeOptimizer(schema, rows)(df => df.drop(SRC)
      .withColumn(SRC, monotonically_increasing_id())
      .groupBy(col("k")).agg(f.aggs(Seq("v", "w")).head,
        f.aggs(Seq("v", "w")).tail: _*))
    assertLikeOptimizer(schema, rows)(_.where(col("v") > 0)
      .withColumn("id", monotonically_increasing_id())
      .withColumn("r", rand(7)).where(col("id") % 3 =!= 1))
  }

  Seq(false, true).foreach { java8 =>
    test(s"dates and timestamps match the optimizer fold (java8API = $java8, non-UTC zone)") {
      withConf("spark.sql.datetime.java8API.enabled" -> java8.toString,
          "spark.sql.session.timeZone" -> "America/Los_Angeles") {
        val ts = StructType(Seq(StructField("d", DateType),
          StructField("t", TimestampType), StructField("n", TimestampNTZType),
          StructField("s", StringType)))
        val base = java.time.Instant.parse("2021-03-14T09:30:00Z")
        val in = (0 until 48).map { i =>
          val t = base.plusSeconds(i * 1800L)
          val d = java.time.LocalDate.of(2021, 3, 1).plusDays(i.toLong)
          Row(if (java8) d else java.sql.Date.valueOf(d),
            if (java8) t else java.sql.Timestamp.from(t),
            java.time.LocalDateTime.of(2021, 11, 7, 0, 0).plusMinutes(i * 45L),
            s"2021-11-07 0${i % 4}:15:00")
        }
        assertLikeOptimizer(ts, in)(_.select(col("d"), col("t"), col("n"),
          date_add(col("d"), 1).as("d1"), hour(col("t")).as("h"),
          date_format(col("t"), "yyyy-MM-dd HH:mm XXX").as("f"),
          to_timestamp(col("s")).as("ts"), col("t").cast("string").as("tstr"),
          col("n").cast(TimestampType).as("nt"), to_date(col("t")).as("td"))
          .where(hour(col("t")) =!= 5))
        assertLikeOptimizer(ts, in)(_.groupBy(to_date(col("t")).as("day"))
          .agg(max("t"), min("n"), min("d"), count(lit(1))))
      }
    }
  }

  Seq(false, true).foreach { ansi =>
    test(s"arithmetic and casts match the optimizer fold (ANSI = $ansi)") {
      withConf("spark.sql.ansi.enabled" -> ansi.toString) {
        val ns = StructType(Seq(StructField("x", LongType),
          StructField("s", StringType), StructField("m", DecimalType(10, 2))))
        val in = (0 until 60).map(i => Row(i.toLong - 20L,
          if (!ansi && i % 7 == 0) "x" + i else (i * 3).toString,
          new java.math.BigDecimal(s"${i * 11}.${i % 100}")))
        assertLikeOptimizer(ns, in)(_.select(col("x"),
          (col("x") * 3 + 1).as("y"), col("s").cast(IntegerType).as("si"),
          (col("m") * 3).as("m3"), (col("x") / 4).as("q")))
        assertLikeOptimizer(ns, in)(_.groupBy((col("x") % 3).as("g"))
          .agg(sum("m"), avg("m"), sum("x"), avg("x")))
      }
    }
  }

  test("under ANSI a division guarded by a Filter returns the optimizer's rows, never DIVIDE_BY_ZERO") {
    withConf("spark.sql.ansi.enabled" -> "true") {
      val ns = StructType(Seq(StructField("x", LongType)))
      val in = (-3L to 3L).map(Row(_))
      // the Filter below the Project: one pass in plan order
      assertLikeOptimizer(ns, in)(_.where(col("x") =!= 0)
        .select((lit(1) / col("x")).as("y")))
      // a Filter above a Project over an Aggregate: the optimizer pushes
      // it below both; a pass in plan order divides by zero, so the fold
      // declines and the caller's collect answers
      val above = (s: SparkSession) => local(s, ns, in).groupBy("x")
        .agg(count(lit(1)).as("n"))
        .select((lit(1) / col("x")).as("y"), col("x"), col("n"))
        .where(col("x") =!= 0)
      val df = above(spark)
      assert(LocalFold(df).isEmpty)
      val got = org.apache.spark.sql.GraftBridge.localRelationRows(df)
        .getOrElse(df.collect())
      val viaOptimizer = above(optimizerSession())
      assert(viaOptimizer.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      // the collect may run a job, which groups in its own order
      def sorted(rs: Seq[Row]) = canonRows(rs).sortBy(_.toString)
      assert(sorted(got.toSeq) == sorted(viaOptimizer.collect().toSeq))
    }
  }

  test("a scan leaf, a join, a generator, a window, a limit and a scalar subquery decline") {
    val df = local(spark, schema, rows)
    val dir = java.nio.file.Files.createTempDirectory("graft-localfold-")
    val path = dir.resolve("p").toString
    local(spark, schema, rows.take(10)).write.parquet(path)
    val name = s"localfold_${System.nanoTime()}"
    df.createOrReplaceTempView(name)
    try {
      val declined: Seq[(String, DataFrame)] = Seq(
        "range" -> spark.range(5).toDF("x"),
        "parquet" -> spark.read.parquet(path).where(col("v") > 0),
        "join" -> df.join(df.select(col(SRC), col("w").as("w2")), SRC),
        "generator" -> df.select(col("k"), explode(array(col("v"), col("v")))),
        "window" -> df.withColumn("r",
          row_number().over(Window.partitionBy("k").orderBy(SRC))),
        "limit" -> df.where(col("v") > 0).limit(17),
        "scalar subquery" -> spark.sql(
          s"SELECT k, (SELECT max(v) FROM $name) AS m FROM $name"))
      declined.foreach { case (what, d) =>
        assert(LocalFold(d).isEmpty, s"$what was folded")
        assert(org.apache.spark.sql.GraftBridge.localRelationRows(d).isEmpty,
          what)
      }
    } finally spark.catalog.dropTempView(name)
  }
}
