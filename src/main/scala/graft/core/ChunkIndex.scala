package graft.core

import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.MessageTypeParser

/** Parquet-backed chunk index: the chunk list of a large table stored as
  * a columnar sidecar instead of inline JSON. A 100 TB table at the
  * default granularity has ~1e5–1e6 chunks and re-merges constantly; a
  * multi-megabyte JSON array parsed with a tree parser on every
  * `loadTableMeta` is the wrong driver cost (SCALE.md "parquet-backed
  * index"). This reader/writer runs driver-side on parquet's java.nio
  * files, as [[DriverChunks]] does (no Spark job — metadata must stay
  * metadata), streams
  * row-by-row in chunk-key order, and the file is content-addressed by
  * its table's hash, so it is write-once like everything else. */
object ChunkIndex {

  private val schema = MessageTypeParser.parseMessageType(
    """message graft_chunk_index {
      |  required binary hash (UTF8);
      |  required binary min (UTF8);
      |  required binary max (UTF8);
      |  required int64 rows;
      |  optional binary stats (UTF8);
      |}""".stripMargin)

  def write(file: java.nio.file.Path, chunks: Seq[ChunkMeta]): Unit = {
    val writer = ExampleParquetWriter
      .builder(new LocalOutputFile(file))
      .withConf(new PlainParquetConfiguration())
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try chunks.foreach { c =>
      val g = factory.newGroup()
      g.append("hash", c.hash)
      g.append("min", c.minKeyHex)
      g.append("max", c.maxKeyHex)
      g.append("rows", c.rows)
      if (c.stats.nonEmpty)
        g.append("stats", TableMeta.statsToJsonString(c.stats))
      writer.write(g)
    } finally writer.close()
  }

  def read(file: java.nio.file.Path): Seq[ChunkMeta] = {
    val it = iterate(file)
    try it.toVector finally it.close()
  }

  /** Streaming reader: one ChunkMeta at a time, nothing materialized —
    * the input side of the streaming merge planner ([[MergePlanner]]).
    * Call `close()` (or drain fully; exhaustion closes too). */
  def iterate(file: java.nio.file.Path): Iterator[ChunkMeta] with AutoCloseable =
    new Iterator[ChunkMeta] with AutoCloseable {
      private val reader = DriverChunks.groupReader(
        new LocalInputFile(file), new PlainParquetConfiguration())
      private var nextGroup: Group = reader.read()
      private var closed = false
      def close(): Unit = if (!closed) { closed = true; reader.close() }
      def hasNext: Boolean = nextGroup != null
      def next(): ChunkMeta = {
        val g = nextGroup
        if (g == null) throw new NoSuchElementException("chunk index drained")
        // tolerate sidecars written before the stats column existed AND
        // rows whose optional value is absent
        val stats =
          if (g.getType.containsField("stats") &&
              g.getFieldRepetitionCount("stats") > 0)
            TableMeta.statsFromJsonString(g.getString("stats", 0))
          else Map.empty[String, ColStats]
        val c = ChunkMeta(g.getString("hash", 0), g.getString("min", 0),
          g.getString("max", 0), g.getLong("rows", 0), stats)
        nextGroup = reader.read()
        if (nextGroup == null) close()
        c
      }
    }
}
