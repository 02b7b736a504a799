package graft.core

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.{ParquetConfiguration, PlainParquetConfiguration}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{InputFile, LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Driver-side chunk IO for METADATA-SIZED engine operations: read a
  * chunk file's rows and write a canonical chunk file WITHOUT a Spark
  * job — the point-DML economics the patch path promises, without
  * paying a cluster job launch for a dozen rows. Chunk identity is over
  * canonical ROW bytes ([[Canonical]]), never parquet bytes, so files
  * written here are interchangeable with executor-written ones (the
  * same mixed-codec-store argument as replication).
  *
  * PRIMITIVE columns and arrays of them only — the DML statement
  * shapes; callers gate on [[supported]] and fall back to the Spark
  * path for struct/map schemas or any file this module cannot read
  * (a physical type it does not decode). Columns resolve by positional
  * parquet field id (the rename-proof identity chunk writers attach),
  * with a name fallback for id-less files.
  *
  * IO is parquet's own java.nio files ([[LocalInputFile]],
  * [[LocalOutputFile]]), not the Hadoop FileSystem, whose per-call
  * config parse and `chmod` forks cost more than a small chunk's rows
  * (SCALE.md "Driver chunk IO"). Chunk paths are local files — the
  * store's contract. */
private[core] object DriverChunks {

  private def supportedScalar(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DoubleType | FloatType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  def supported(schema: StructType): Boolean =
    schema.fields.forall(f => f.dataType match {
      case ArrayType(et, _) => supportedScalar(et) // vector/posting columns
      case dt => supportedScalar(dt)
    })

  // ---- read -------------------------------------------------------------

  /** Read every row of a chunk file into external-typed Rows (the same
    * types [[KeyCodec]] accepts). Throws on anything unexpected — the
    * caller treats any failure as "use the Spark path". */
  def readRows(path: java.nio.file.Path, schema: StructType): Vector[Row] = {
    val conf = new PlainParquetConfiguration()
    val in = new LocalInputFile(path)
    val footer = ParquetFileReader.open(in,
      ParquetReadOptions.builder(conf).build())
    val fileSchema =
      try footer.getFooter.getFileMetaData.getSchema
      finally footer.close()
    // target position i -> file field index: by field id, else by name
    val byId: Map[Int, Int] = fileSchema.getFields.toArray.zipWithIndex.collect {
      case (t: Type, j) if t.getId != null => t.getId.intValue() -> j
    }.toMap
    val byName: Map[String, Int] = fileSchema.getFields.toArray.zipWithIndex.map {
      case (t: Type, j) => t.asInstanceOf[Type].getName -> j
    }.toMap
    val fieldIdx: Array[Int] = schema.fields.zipWithIndex.map { case (f, i) =>
      byId.getOrElse(i, byName.getOrElse(f.name,
        sys.error(s"chunk file lacks column ${f.name} (id $i): $path")))
    }
    val extract: Array[Group => Any] = schema.fields.zipWithIndex.map {
      case (f, i) =>
        val j = fieldIdx(i)
        valueReader(f.dataType, j, fileSchema.getType(j))
    }
    val reader = groupReader(in, conf)
    try {
      val out = Vector.newBuilder[Row]
      var g = reader.read()
      while (g != null) {
        out += Row.fromSeq(extract.toSeq.map(_(g)))
        g = reader.read()
      }
      out.result()
    } finally reader.close()
  }

  /** A [[Group]] reader over a parquet [[InputFile]]. No public builder
    * takes both a ReadSupport and an InputFile, hence the subclass. */
  private[core] def groupReader(in: InputFile,
      conf: ParquetConfiguration): ParquetReader[Group] =
    new ParquetReader.Builder[Group](in, conf) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport()
    }.build()

  private def valueReader(dt: DataType, j: Int,
      fileType: Type): Group => Any = {
    def nullable(f: Group => Any): Group => Any =
      g => if (g.getFieldRepetitionCount(j) == 0) null else f(g)
    dt match {
      case ArrayType(et, _) =>
        // standard 3-level LIST (what Spark and this module's writer
        // produce): optional group f (LIST) {
        //   repeated group list { <element> } }
        val entryType = fileType.asGroupType().getType(0).asGroupType()
        val elem = scalarReader(et, 0, entryType.getType(0).asPrimitiveType())
        nullable { g =>
          val lst = g.getGroup(j, 0)
          val n = lst.getFieldRepetitionCount(0)
          val out = new Array[Any](n)
          var i = 0
          while (i < n) {
            val entry = lst.getGroup(0, i)
            out(i) =
              if (entry.getFieldRepetitionCount(0) == 0) null else elem(entry)
            i += 1
          }
          out.toSeq
        }
      case _ => nullable(scalarReader(dt, j, fileType.asPrimitiveType()))
    }
  }

  /** Non-null scalar read of field `j` (repetition index 0). */
  private def scalarReader(dt: DataType, j: Int,
      fileType: PrimitiveType): Group => Any = {
    val phys = fileType.getPrimitiveTypeName
    dt match {
      case LongType => _.getLong(j, 0)
      case IntegerType => _.getInteger(j, 0)
      case ShortType => _.getInteger(j, 0).toShort
      case ByteType => _.getInteger(j, 0).toByte
      case BooleanType => _.getBoolean(j, 0)
      case DoubleType => _.getDouble(j, 0)
      case FloatType => _.getFloat(j, 0)
      case StringType => _.getString(j, 0)
      case BinaryType => _.getBinary(j, 0).getBytes
      case DateType => g =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          g.getInteger(j, 0).toLong))
      case TimestampType | TimestampNTZType =>
        // INT64 micros (this module's writer) or INT96 (Spark's default
        // writer: 8 LE bytes nanos-of-day + 4 LE bytes Julian day)
        val micros: Group => Long = phys match {
          case INT64 => _.getLong(j, 0)
          case INT96 => g => {
            val b = g.getInt96(j, 0).getBytes
            val buf = java.nio.ByteBuffer.wrap(b)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = buf.getLong
            val julianDay = buf.getInt
            (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
          }
          case other => sys.error(s"unsupported timestamp physical $other")
        }
        if (dt == TimestampType) { g =>
          val us = micros(g)
          val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
          ts
        } else { g =>
          val us = micros(g)
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        }
      case d: DecimalType => phys match {
        case INT32 => g =>
          JBigDecimal.valueOf(g.getInteger(j, 0).toLong, d.scale)
        case INT64 => g => JBigDecimal.valueOf(g.getLong(j, 0), d.scale)
        case FIXED_LEN_BYTE_ARRAY | BINARY => g =>
          new JBigDecimal(new BigInteger(g.getBinary(j, 0).getBytes), d.scale)
        case other => sys.error(s"unsupported decimal physical $other")
      }
      case other => sys.error(s"unsupported driver-read type $other")
    }
  }

  // ---- write ------------------------------------------------------------

  /** Spark's Decimal.minBytesForPrecision: smallest FIXED width holding
    * 10^p − 1. */
  private def minBytesForPrecision(p: Int): Int = {
    var n = 1
    while (BigInteger.TEN.pow(p).subtract(BigInteger.ONE)
        .bitLength() + 1 > 8 * n) n += 1
    n
  }

  /** Parquet type of one scalar `dt` under `rep`, named `name`, with an
    * optional field id (ids go on TOP-LEVEL fields only — the
    * positional column identity; list inner fields carry none). */
  private def scalarType(dt: DataType, rep: Type.Repetition, name: String,
      id: Option[Int]): Type = {
    def prim(tn: PrimitiveType.PrimitiveTypeName,
        ann: LogicalTypeAnnotation = null, length: Int = 0) = {
      val b = Types.primitive(tn, rep)
      val b2 = if (ann != null) b.as(ann) else b
      val b3 = if (length > 0) b2.length(length) else b2
      id.fold(b3)(b3.id).named(name)
    }
    import LogicalTypeAnnotation._
    dt match {
      case LongType => prim(INT64)
      case IntegerType => prim(INT32)
      case ShortType => prim(INT32, intType(16, true))
      case ByteType => prim(INT32, intType(8, true))
      case BooleanType => prim(BOOLEAN)
      case DoubleType => prim(DOUBLE)
      case FloatType => prim(FLOAT)
      case StringType => prim(BINARY, stringType())
      case BinaryType => prim(BINARY)
      case DateType => prim(INT32, dateType())
      case TimestampType =>
        prim(INT64, timestampType(true, TimeUnit.MICROS))
      case TimestampNTZType =>
        prim(INT64, timestampType(false, TimeUnit.MICROS))
      case d: DecimalType =>
        if (d.precision <= 9) prim(INT32, decimalType(d.scale, d.precision))
        else if (d.precision <= 18)
          prim(INT64, decimalType(d.scale, d.precision))
        else prim(FIXED_LEN_BYTE_ARRAY, decimalType(d.scale, d.precision),
          minBytesForPrecision(d.precision))
      case other => sys.error(s"unsupported driver-write type $other")
    }
  }

  private def parquetField(f: StructField, id: Int): Type = {
    val rep = if (f.nullable) Type.Repetition.OPTIONAL
      else Type.Repetition.REQUIRED
    f.dataType match {
      case ArrayType(et, containsNull) =>
        // the standard 3-level LIST shape Spark writes, built manually
        // so the inner names are exactly "list"/"element"
        Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(scalarType(et,
              if (containsNull) Type.Repetition.OPTIONAL
              else Type.Repetition.REQUIRED, "element", None))
            .named("list"))
          .id(id).named(f.name)
      case dt => scalarType(dt, rep, f.name, Some(id))
    }
  }

  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      b.addField(parquetField(f, i))
    }
    b.named("spark_schema")
  }

  private def fixedBytes(unscaled: BigInteger, width: Int): Array[Byte] = {
    val raw = unscaled.toByteArray
    require(raw.length <= width, s"decimal too wide: ${raw.length} > $width")
    val out = new Array[Byte](width)
    if (unscaled.signum < 0)
      java.util.Arrays.fill(out, 0, width - raw.length, -1.toByte)
    System.arraycopy(raw, 0, out, width - raw.length, raw.length)
    out
  }

  /** Append one non-null scalar value at field `i` of `g`. */
  private def appendScalar(g: Group, i: Int, dt: DataType, v: Any): Unit =
    dt match {
      case LongType => g.add(i, v.asInstanceOf[Long])
      case IntegerType => g.add(i, v.asInstanceOf[Int])
      case ShortType => g.add(i, v.asInstanceOf[Short].toInt)
      case ByteType => g.add(i, v.asInstanceOf[Byte].toInt)
      case BooleanType => g.add(i, v.asInstanceOf[Boolean])
      case DoubleType => g.add(i, v.asInstanceOf[Double])
      case FloatType => g.add(i, v.asInstanceOf[Float])
      case StringType => g.add(i, Binary.fromString(v.asInstanceOf[String]))
      case BinaryType =>
        g.add(i, Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
      case DateType => g.add(i, DateTimeUtil.dateDays(v))
      case TimestampType => g.add(i, DateTimeUtil.timestampMicros(v))
      case TimestampNTZType => g.add(i, DateTimeUtil.localMicros(v))
      case d: DecimalType =>
        val bd = v.asInstanceOf[JBigDecimal].setScale(d.scale)
        if (d.precision <= 9) g.add(i, bd.unscaledValue().intValueExact())
        else if (d.precision <= 18) g.add(i, bd.unscaledValue().longValueExact())
        else g.add(i, Binary.fromConstantByteArray(fixedBytes(
          bd.unscaledValue(), minBytesForPrecision(d.precision))))
      case other => sys.error(s"unsupported driver-write type $other")
    }

  /** Append one row's values to a Group (skipping nulls — optional
    * fields with repetition count 0). */
  private def appendRow(g: Group, schema: StructType, row: Row): Unit = {
    var i = 0
    while (i < schema.fields.length) {
      val f = schema.fields(i)
      val v = row.get(i)
      if (v != null) f.dataType match {
        case ArrayType(et, _) =>
          // empty list = the outer group present with zero entries —
          // distinct from a NULL column (outer repetition count 0)
          val lst = g.addGroup(i)
          v.asInstanceOf[scala.collection.Seq[Any]].foreach { e =>
            val entry = lst.addGroup(0)
            if (e != null) appendScalar(entry, 0, et, e)
          }
        case dt => appendScalar(g, i, dt, v)
      }
      i += 1
    }
  }

  /** Write `rows` (already key-sorted) as one chunk parquet file. */
  def writeChunk(path: java.nio.file.Path, schema: StructType,
      rows: Seq[Row], codec: String): Unit = {
    val mt = messageType(schema)
    val factory = new SimpleGroupFactory(mt)
    val writer: ParquetWriter[Group] = ExampleParquetWriter
      .builder(new LocalOutputFile(path))
      .withConf(new PlainParquetConfiguration())
      .withType(mt)
      .withCompressionCodec(CompressionCodecName.valueOf(
        codec.toUpperCase(java.util.Locale.ROOT)))
      .build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      appendRow(g, schema, r)
      writer.write(g)
    } finally writer.close()
  }
}
