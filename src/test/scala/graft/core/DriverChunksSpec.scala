package graft.core

import java.nio.file.{Files, Path}
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[DriverChunks]]: the zero-job chunk reader/writer the driver routes
  * use. Writes leave exactly the chunk file (no checksum sidecar), reads
  * round-trip every [[DriverChunks.supported]] type bit-exactly, and
  * chunks written by Spark's own parquet writer read back as Spark
  * reads them. */
class DriverChunksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val allTypes = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("i", IntegerType),
    StructField("sh", ShortType),
    StructField("by", ByteType),
    StructField("bo", BooleanType),
    StructField("db", DoubleType),
    StructField("fl", FloatType),
    StructField("s", StringType),
    StructField("bin", BinaryType),
    StructField("dt", DateType),
    StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType),
    StructField("d9", DecimalType(9, 2)),
    StructField("d18", DecimalType(18, 4)),
    StructField("d30", DecimalType(30, 6)),
    StructField("arr", ArrayType(LongType))))

  /** Row `n` of [[allTypes]]: every nullable column is NULL on every
    * seventh row; arrays also take the empty and null-element shapes. */
  private def row(n: Int): Row = {
    def orNull(v: Any): Any = if (n % 7 == 3) null else v
    val ts = new java.sql.Timestamp(1600000000000L + n * 1001L)
    ts.setNanos((n % 1000) * 1000 + 123000)
    Row(n.toLong,
      orNull(n * 3 - 50),
      orNull((n - 20).toShort),
      orNull((n % 256 - 128).toByte),
      orNull(n % 2 == 0),
      orNull(n * 1.25 - 7),
      orNull(n * 0.5f),
      orNull(s"s$n-é"),
      orNull(Array[Byte](n.toByte, (n >> 8).toByte, 0)),
      orNull(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000L + n))),
      orNull(ts),
      orNull(java.time.LocalDateTime.of(2021, 3, 4, 5, 6, 7, n * 1000)),
      orNull(new java.math.BigDecimal(s"${n - 30}.25").setScale(2)),
      orNull(new java.math.BigDecimal(s"${n.toLong * 123456789L}.0001")),
      orNull(new java.math.BigDecimal(s"-${n}123456789012345678.000001")),
      if (n % 7 == 3) null
      else if (n % 5 == 1) Seq.empty[Any]
      else if (n % 5 == 2) Seq[Any](n.toLong, null, -n.toLong)
      else Seq[Any](n.toLong, n * 2L))
  }

  private def listNames(dir: Path): Seq[String] =
    FsUtil.listDir(dir).map(_.getFileName.toString)

  test("writeChunk leaves exactly the chunk file: no .crc sidecar") {
    val dir = Files.createTempDirectory("graft-dc-write-")
    try {
      val f = dir.resolve("c0.parquet")
      DriverChunks.writeChunk(f, allTypes, (0 until 40).map(row), "snappy")
      assert(listNames(dir) == Seq("c0.parquet"),
        s"driver chunk write must leave one file, found ${listNames(dir)}")
    } finally FsUtil.deleteRecursively(dir)
  }

  test("readRows round-trips every supported type, arrays and NULLs included") {
    assert(DriverChunks.supported(allTypes))
    val dir = Files.createTempDirectory("graft-dc-rt-")
    try {
      val f = dir.resolve("c0.parquet")
      val rows = (0 until 200).map(row)
      DriverChunks.writeChunk(f, allTypes, rows, "snappy")
      val back = DriverChunks.readRows(f, allTypes)
      assert(back.length == rows.length)
      rows.zip(back).foreach { case (want, got) =>
        assert(got == want, s"row ${want.getLong(0)} did not round-trip")
      }
    } finally FsUtil.deleteRecursively(dir)
  }

  test("readRows of a Spark-written chunk (INT96 timestamps) equals Spark's read") {
    // Spark's writer attaches no field ids here, so columns resolve
    // by name; TIMESTAMP columns are INT96 under this session's conf
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val dir = Files.createTempDirectory("graft-dc-spark-")
    try {
      val out = dir.resolve("t").toString
      val rows = (0 until 120).map(row)
      s.createDataFrame(spark.sparkContext.parallelize(rows, 1), allTypes)
        .write.parquet(out)
      val part = listNames(Path.of(out)).filter(n =>
        n.startsWith("part-") && n.endsWith(".parquet"))
      assert(part.length == 1)
      val f = Path.of(out, part.head)
      val footer = ParquetFileReader.open(new LocalInputFile(f),
        ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
      val tsPhys =
        try {
          val fs = footer.getFooter.getFileMetaData.getSchema
          fs.getType(fs.getFieldIndex("ts")).asPrimitiveType()
            .getPrimitiveTypeName
        }
        finally footer.close()
      assert(tsPhys == PrimitiveTypeName.INT96)
      val want = s.read.schema(allTypes).parquet(f.toString).collect().toSeq
      assert(want.length == rows.length)
      assert(DriverChunks.readRows(f, allTypes) == want)
    } finally FsUtil.deleteRecursively(dir)
  }
}
