package graft.core

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[org.apache.spark.sql.GraftBridge.localRelationRows]]: the rows of a
  * plan that folds to a LocalRelation, read from the relation, equal
  * `collect()`'s rows for the same plan — values and value classes —
  * for every type the driver routes admit ([[DriverChunks.supported]]),
  * NULLs included, under both datetime API settings. */
class LocalRelationRowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val scalars: Seq[DataType] = Seq(LongType, IntegerType, ShortType,
    ByteType, BooleanType, DoubleType, FloatType, StringType, BinaryType,
    DateType, TimestampType, TimestampNTZType, DecimalType(12, 2),
    DecimalType(38, 10))
  private val schema = StructType(
    scalars.zipWithIndex.map { case (dt, i) => StructField(s"c$i", dt) } ++
    scalars.zipWithIndex.map { case (dt, i) =>
      StructField(s"a$i", ArrayType(dt, containsNull = true)) })

  /** One row of values of `java8` external types; `nulls` leaves every
    * column NULL. */
  private def row(i: Int, java8: Boolean, nulls: Boolean): Row = {
    val day = java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong)
    val ts = java.time.Instant.parse("2021-03-04T05:06:07.123456Z")
      .plusSeconds(i.toLong * 3600)
    val vals: Seq[Any] = Seq(i.toLong * 1000000007L, i * 7, (i * 3).toShort,
      (i - 2).toByte, i % 2 == 0, i * 1.5, i * 0.25f, s"s$i-é",
      Array[Byte](i.toByte, 0, -1),
      if (java8) day else java.sql.Date.valueOf(day),
      if (java8) ts else java.sql.Timestamp.from(ts),
      java.time.LocalDateTime.of(2022, 5, 6, 7, 8, 9).plusMinutes(i.toLong),
      new java.math.BigDecimal(s"${i * 100}.25"),
      new java.math.BigDecimal(s"-$i.0123456789"))
    val arrays = vals.map(v => Seq(v, null, v))
    if (nulls) Row.fromSeq(Seq.fill(schema.length)(null))
    else Row.fromSeq(vals ++ arrays)
  }

  // binary values compare by content, also inside arrays
  private def values(r: Row): Seq[Any] = r.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    case v => v
  }

  private def classes(r: Row): Seq[String] = r.toSeq.map {
    case null => "null"
    case s: scala.collection.Seq[_] => s.getClass.getName + s.map(v =>
      if (v == null) "null" else v.getClass.getName).mkString("[", ",", "]")
    case v => v.getClass.getName
  }

  Seq(false, true).foreach { java8 =>
    test(s"rows and value classes equal collect() (java8API = $java8)") {
      val key = "spark.sql.datetime.java8API.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, java8.toString)
      try {
        val rows = (0 until 5).map(i => row(i, java8, nulls = false)) :+
          row(0, java8, nulls = true)
        val base = spark.createDataFrame(rows.asJava, schema)
        // a projection over the VALUES rows folds (ConvertToLocalRelation)
        val df: DataFrame = base.select(
          base.columns.map(col).toSeq :+ (col("c0") + 1).as("extra"): _*)
          .where(col("c1").isNull || col("c1") >= 0)
        val got = org.apache.spark.sql.GraftBridge.localRelationRows(df)
          .getOrElse(fail("the plan did not fold to a LocalRelation")).toSeq
        val want = df.collect().toSeq
        assert(got.length == want.length)
        val diffs = got.zip(want).zipWithIndex.flatMap { case ((g, w), i) =>
          values(g).zip(values(w)).zip(classes(g).zip(classes(w)))
            .zipWithIndex.collect {
              case (((gv, wv), (gc, wc)), j) if gv != wv || gc != wc =>
                s"row $i ${df.columns(j)}: $gv ($gc) != $wv ($wc)"
            }
        }
        assert(diffs.isEmpty, diffs.take(5).mkString("\n"))
        assert(got.map(_.schema) == want.map(_.schema))
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a plan that does not fold is left to collect()") {
    val df = spark.range(3).toDF("k")
    assert(org.apache.spark.sql.GraftBridge.localRelationRows(df).isEmpty)
  }
}
