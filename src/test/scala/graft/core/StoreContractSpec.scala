package graft.core

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The store contract run against EVERY backend — the port of the
  * reference's backend-independent store tests
  * (/root/reference/messdb-base-testlib/src/MessDB/Test/Store.hs,
  * MemoStore.hs, which the file/SQLite/LMDB/memory backends all pass).
  * Adding a backend means adding one line to `backends`. */
class StoreContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def backends: Seq[(String, () => GraftStore)] = Seq(
    "fs" -> (() => new FsStore(graft.core.FsUtil.tempStoreDir("graft-cs-fs-"))),
    "objectstore-sim" -> (() =>
      new ObjectStoreSimStore(graft.core.FsUtil.tempStoreDir("graft-cs-os-"))),
    "pack" -> (() =>
      new PackStore(graft.core.FsUtil.tempStoreDir("graft-cs-pk-"))),
    "memory" -> (() => new MemoryStore()),
    "fs-compressed" -> (() =>
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-cs-fz-"),
        smallObjectDeflate = true, chunkCodec = "zstd")),
    "overlay" -> (() => new OverlayStore(
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-cs-ovb-")),
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-cs-ovl-")))))

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def df(rows: Seq[(String, Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 4), schema)

  for ((name, mk) <- backends) {

    test(s"$name: chunk save is idempotent by content key (storeSave contract)") {
      val store = mk()
      def produced(content: String): java.nio.file.Path = {
        val p = Files.createTempFile("graft-chunk-", ".parquet")
        Files.writeString(p, content)
        p
      }
      val hash = Hashing.sha256Hex("payload-1".getBytes)
      assert(!store.hasChunk(hash))
      store.saveChunk(hash, produced("payload-1"))
      assert(store.hasChunk(hash))
      assert(Files.readString(java.nio.file.Paths.get(store.chunkPath(hash))) == "payload-1")
      // second save of the same key: skipped, produced file consumed,
      // stored bytes untouched
      val dup = produced("different bytes, same claimed key")
      store.saveChunk(hash, dup)
      assert(!Files.exists(dup), "idempotent save must consume the produced file")
      assert(Files.readString(java.nio.file.Paths.get(store.chunkPath(hash))) == "payload-1",
        "existing content must never be overwritten")
      assert(store.stats.snapshot("chunkSaves") == 1)
      assert(store.stats.snapshot("chunkSkips") == 1)
      assert(store.listChunks == Seq(hash))
      store.deleteChunk(hash)
      assert(!store.hasChunk(hash))
    }

    test(s"$name: memo computes once and replays (MemoStore contract)") {
      val store = mk()
      var computes = 0
      val op = Hashing.opHash(Seq("contract-op", name))
      val r1 = store.memoized(op) { computes += 1; "result-hash" }
      val r2 = store.memoized(op) { computes += 1; "WRONG" }
      assert(r1 == "result-hash" && r2 == "result-hash")
      assert(computes == 1, "memoized computation must run exactly once")
      assert(store.memoGet(op).contains("result-hash"))
      assert(store.listMemos.contains(op -> "result-hash"))
      store.deleteMemo(op)
      assert(store.memoGet(op).isEmpty)
    }

    test(s"$name: roots are content-addressed; the pointer swaps atomically") {
      val store = mk()
      assert(store.currentRootHash.isEmpty)
      val h1 = store.saveRoot("""{"tables":{},"parent":null}""")
      assert(store.currentRootHash.contains(h1))
      val h2 = store.saveRoot(s"""{"tables":{},"parent":"$h1"}""")
      assert(store.currentRootHash.contains(h2))
      assert(store.hasRoot(h1) && store.hasRoot(h2), "old roots stay addressable")
      store.setRootPointer(h1) // checkout
      assert(store.currentRootHash.contains(h1))
      assert(store.loadRoot(h2).contains(h1))
      assert(store.listRoots.toSet == Set(h1, h2))
    }

    test(s"$name: table meta round-trips under its content identity") {
      val store = mk()
      val meta = TableMeta(
        Canonical.normalizeSchema(schema, Seq("k")).json, Seq("k"), 64,
        Seq(ChunkMeta("ab" * 32, "00", "ff", 7)))
      val h = store.saveTableMeta(meta)
      assert(h == meta.tableHash)
      assert(store.hasTable(h))
      assert(store.loadTableMeta(h) == meta)
      assert(store.listTables == Seq(h))
    }

    test(s"$name: large metas round-trip through the parquet chunk index") {
      val store = mk()
      val chunks = (0 until TableMeta.InlineChunkLimit + 500).map { i =>
        ChunkMeta(f"cafe$i%08x" * 2, f"$i%016x", f"$i%016xff", 3)
      }
      val meta = TableMeta(
        Canonical.normalizeSchema(schema, Seq("k")).json, Seq("k"), 64, chunks)
      val h = store.saveTableMeta(meta)
      // the JSON envelope is tiny; the chunk list lives in the sidecar
      // (file-backed stores only — MemoryStore keeps the meta as an
      // object, which needs no envelope at all)
      val envelopeDir = store match {
        case f: FsStore => Some(f.rootDir)
        case o: ObjectStoreSimStore => Some(o.rootDir)
        case p: PackStore => Some(p.rootDir)
        case _ => None
      }
      envelopeDir.foreach { dir =>
        val envelope = FsStore.inflate(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "tables", s"$h.json")))
        assert(envelope.length < 10000, "indexed meta must stay an envelope")
        assert(envelope.contains("chunksIndexed"))
        // the sidecar write leaves no checksum file beside it
        val crcs = FsUtil.listDir(java.nio.file.Paths.get(dir, "tables"))
          .map(_.getFileName.toString).filter(_.endsWith(".crc"))
        assert(crcs.isEmpty, s"checksum files in tables/: $crcs")
      }
      val loaded = store.loadTableMeta(h)
      assert(loaded == meta, "indexed round-trip must be lossless")
      assert(loaded.tableHash == h)
      store.deleteTable(h)
      assert(!store.hasTable(h))
    }

    test(s"$name: the engine runs end-to-end on this backend") {
      val store = mk()
      val ops = new Ops(spark, store, 16)
      val rows = (0 until 300).map(i => f"k$i%04d" -> i.toLong)
      val base = ops.fromDataFrame(df(rows), Seq("k"))
      val delta = Seq("k0100" -> 999L, "knew" -> 1L)
      val merged = ops.upsert(base, ops.fromDataFrame(df(delta), Seq("k")))
      val got = ops.scanOrdered(merged).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == rows.toMap ++ delta.toMap)
      // catalog + gc on the same backend
      val cat = new Catalog(store)
      cat.put("t", merged)
      val gc = Gc.run(store, Seq.empty)
      assert(gc.deletedChunks > 0, "intermediate chunks should be swept")
      assert(ops.scanOrdered(cat.get("t").get).count() == got.size.toLong,
        "kept table must survive gc intact")
    }
  }

  test("cross-backend determinism: same data => same table hash on every backend") {
    val rows = (0 until 200).map(i => f"x$i%04d" -> (i * 3).toLong)
    val hashes = backends.map { case (name, mk) =>
      val ops = new Ops(spark, mk(), 16)
      name -> ops.fromDataFrame(df(rows), Seq("k")).hash
    }
    assert(hashes.map(_._2).distinct.length == 1,
      s"content identity must not depend on the backend: $hashes")
  }

  test("pack: one pack object per materialization; journal replays on reopen; cache rebuilds from packs") {
    val dir = graft.core.FsUtil.tempStoreDir("graft-cs-pack2-")
    val store = new PackStore(dir)
    val ops = new Ops(spark, store, 16)
    val rows = (0 until 400).map(i => f"k$i%04d" -> i.toLong)
    val ref = ops.fromDataFrame(df(rows), Seq("k"))
    val n = ops.meta(ref).chunks.length
    assert(n > 10, s"want many chunks, got $n")
    val packDir = java.nio.file.Paths.get(dir, "packs")
    val packCount = FsUtil.listDir(packDir).count(_.toString.endsWith(".pack"))
    assert(packCount == 1,
      s"N chunks must land in ONE pack object, got $packCount")
    assert(store.stats.snapshot("chunkSaves") == n.toLong)

    // wipe the read cache, reopen from the journal: every chunk must
    // re-extract from the pack byte ranges
    val cache = java.nio.file.Paths.get(dir, "cache")
    FsUtil.listDir(cache).foreach(f => { Files.deleteIfExists(f); () })
    val store2 = new PackStore(dir)
    assert(ops.meta(ref).chunks.forall(c => store2.hasChunk(c.hash)),
      "journal replay must restore the chunk index")
    val ops2 = new Ops(spark, store2, 16)
    val got = ops2.scanOrdered(ref).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == rows.sortBy(_._1), "extraction from pack ranges failed")

    // memo journal also replays: the same ingest is a pure memo replay
    ops2.store.stats.reset()
    val again = ops2.fromDataFrame(df(rows), Seq("k"))
    assert(again == ref)
    assert(ops2.store.stats.snapshot("chunkSaves") == 0,
      "replayed ingest must not write chunks")
  }

  test("objectstore-sim: a materialization is ONE batched commit, zero renames") {
    val store = new ObjectStoreSimStore(
      graft.core.FsUtil.tempStoreDir("graft-cs-batch-"))
    val ops = new Ops(spark, store, 16)
    val rows = (0 until 500).map(i => f"k$i%04d" -> i.toLong)
    val ref = ops.fromDataFrame(df(rows), Seq("k"))
    val n = ops.meta(ref).chunks.length
    assert(n > 10, s"want many chunks, got $n")
    val snap = store.stats.snapshot
    assert(snap("batchCommits") == 1,
      s"N chunks must commit as one batch: $snap")
    assert(snap("renames") == 0, s"object stores have no rename: $snap")
    assert(snap("chunkSaves") == n.toLong)
    // and the commit log records exactly that batch
    val manifest = java.nio.file.Paths.get(store.rootDir, "commits.log")
    assert(Files.readAllLines(manifest).size() == 1)
  }

  test("fs-compressed: deflated small objects shrink and stay readable mixed-mode") {
    val dir = graft.core.FsUtil.tempStoreDir("graft-cs-zl-")
    val plain = new FsStore(graft.core.FsUtil.tempStoreDir("graft-cs-pl-"))
    val zipped = new FsStore(dir, smallObjectDeflate = true)
    val ops1 = new Ops(spark, plain, 16)
    val ops2 = new Ops(spark, zipped, 16)
    val rows = (0 until 500).map(i => f"k$i%04d" -> i.toLong)
    val h1 = ops1.fromDataFrame(df(rows), Seq("k")).hash
    val h2 = ops2.fromDataFrame(df(rows), Seq("k")).hash
    assert(h1 == h2, "compression must not change content identity")
    def metaBytes(s: FsStore): Long =
      FsUtil.listDir(java.nio.file.Paths.get(s.rootDir, "tables"))
        .map(Files.size).sum
    assert(metaBytes(zipped) < metaBytes(plain),
      s"deflated metas not smaller: ${metaBytes(zipped)} vs ${metaBytes(plain)}")
    // a plain store REOPENED with the knob on reads its old objects and
    // writes new ones compressed (auto-detect on read)
    val flipped = new FsStore(plain.rootDir, smallObjectDeflate = true)
    assert(flipped.loadTableMeta(h1).tableHash == h1)
    assert(new Ops(spark, flipped, 16).scanOrdered(TableRef(h1)).count() == 500)
  }

  test("LoggingStore: transparent delegation, one line per operation") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val store = new LoggingStore(new MemoryStore(), lines += _)
    val ops = new Ops(spark, store, 16)
    val rows = (0 until 100).map(i => f"k$i%04d" -> i.toLong)
    val ref = ops.fromDataFrame(df(rows), Seq("k"))
    assert(ops.scanOrdered(ref).count() == 100,
      "engine must run unchanged through the wrapper")
    assert(lines.exists(_.contains("saveChunks")), s"ops not logged: $lines")
    assert(lines.exists(_.startsWith("[store] saveTableMeta")))
    // memo traffic shows up too
    val before = lines.length
    store.memoized(Hashing.opHash(Seq("log-test"))) { "r" }
    assert(lines.drop(before).exists(_.contains("memoGet")) &&
      lines.drop(before).exists(_.contains("memoPut")))
  }

  test("overlay: reads fall through to base, writes never touch base, branch starts at base root") {
    val base = new FsStore(graft.core.FsUtil.tempStoreDir("graft-cs-ovB-"))
    val baseOps = new Ops(spark, base, 16)
    val baseCat = new Catalog(base)
    val rows = (0 until 200).map(i => f"k$i%04d" -> i.toLong)
    baseCat.put("t", baseOps.fromDataFrame(df(rows), Seq("k")))
    val baseChunks = base.listChunks.toSet
    val baseRoot = base.currentRootHash

    val overlay = new OverlayStore(base,
      new FsStore(graft.core.FsUtil.tempStoreDir("graft-cs-ovL-")))
    // the branch starts where the base is, and base reads fall through
    assert(overlay.currentRootHash == baseRoot)
    val ops = new Ops(spark, overlay, 16)
    val cat = new Catalog(overlay)
    assert(ops.scanOrdered(TableRef(cat.root("t").tableHash)).count() == 200)

    // branch writes: upsert through the overlay, base untouched
    val upd = ops.upsert(TableRef(cat.root("t").tableHash),
      ops.fromDataFrame(df(Seq("k0000" -> 999L, "knew0" -> 1L)), Seq("k")))
    cat.put("t", upd)
    assert(base.listChunks.toSet == baseChunks,
      "branch write leaked chunks into the base")
    assert(base.currentRootHash == baseRoot,
      "branch write moved the base root pointer")
    assert(overlay.local.listChunks.nonEmpty, "branch wrote nothing local")
    // the branched table reads MIXED layers (untouched base chunks +
    // branch-local patched ones)
    val got = ops.scanOrdered(TableRef(cat.root("t").tableHash)).collect()
    assert(got.length == 201)
    assert(got.find(_.getString(0) == "k0000").get.getLong(1) == 999L)

    // cross-layer idempotence: re-saving a base-present chunk is a skip
    val victim = baseChunks.head
    val tmp = Files.createTempFile("graft-ov-dup-", ".parquet")
    Files.copy(java.nio.file.Paths.get(base.chunkPath(victim)), tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val skips0 = overlay.stats.chunkSkips.get
    overlay.saveChunk(victim, tmp)
    assert(overlay.stats.chunkSkips.get == skips0 + 1)
    assert(!overlay.local.hasChunk(victim),
      "base-present chunk must not be rewritten into the branch")

    // deletes are branch-local: a shared chunk stays reachable
    overlay.deleteChunk(victim)
    assert(overlay.hasChunk(victim), "delete must not reach shared history")
  }

  test("memoizedLiveTable: swept chunk files trigger a rebuild, live ones memo-hit") {
    val store = new FsStore(graft.core.FsUtil.tempStoreDir("graft-cs-live-"))
    val ops = new Ops(spark, store, 16)
    val rows = (0 until 80).map(i => f"k$i%04d" -> i.toLong)
    val op = Hashing.opHash(Seq("live-test"))
    var builds = 0
    def build(): String = {
      builds += 1
      ops.fromDataFrame(df(rows), Seq("k")).hash
    }
    val h1 = FsUtil.memoizedLiveTable(store, op)(build())
    val h2 = FsUtil.memoizedLiveTable(store, op)(build())
    assert(h1 == h2 && builds == 1, "live memo must hit, not rebuild")
    // a tmp cleaner sweeps one chunk file; the memo entry survives —
    // the next call must REBUILD (same content ⇒ same hash) and the
    // repaired store must serve the full table again
    val victim = store.loadTableMeta(h1).chunks.head.hash
    Files.delete(java.nio.file.Paths.get(store.chunkPath(victim)))
    val h3 = FsUtil.memoizedLiveTable(store, op)(build())
    assert(h3 == h1 && builds == 2, "swept chunks must force a rebuild")
    assert(ops.scanOrdered(TableRef(h3)).count() == 80)
    // and the rebuilt entry is live again
    FsUtil.memoizedLiveTable(store, op)(build())
    assert(builds == 2)
  }
}
