package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong

/** Observable counters — the Store/Stat.hs analogue
  * (/root/reference/messdb-base/src/MessDB/Store/Stat.hs:31-52). */
final class StoreStats {
  val chunkSaves = new AtomicLong
  val chunkSkips = new AtomicLong // idempotent save: key already present
  val metaSaves = new AtomicLong
  val memoHits = new AtomicLong
  val memoMisses = new AtomicLong
  val renames = new AtomicLong // per-object rename ops (FS backend)
  val batchCommits = new AtomicLong // batched chunk-commit operations
  def snapshot: Map[String, Long] = Map(
    "chunkSaves" -> chunkSaves.get, "chunkSkips" -> chunkSkips.get,
    "metaSaves" -> metaSaves.get,
    "memoHits" -> memoHits.get, "memoMisses" -> memoMisses.get,
    "renames" -> renames.get, "batchCommits" -> batchCommits.get)
  def reset(): Unit = Seq(chunkSaves, chunkSkips, metaSaves, memoHits,
    memoMisses, renames, batchCommits).foreach(_.set(0))
}

/** Content-addressed store + memo store + root pointer — the contract the
  * whole engine runs against, mirroring the reference's
  * Store/MemoStore/RepoStore classes
  * (/root/reference/messdb-base/src/MessDB/Store.hs:28-37, which has four
  * backends: file, SQLite, LMDB, memory):
  *   - idempotent save: producing work is skipped when the key exists
  *   - memo: operation-hash → result-hash small-value cache
  *   - single mutable root, atomically replaced
  *
  * Contract (StoreContractSpec runs it against every backend — the
  * messdb-base-testlib Store/MemoStore test port):
  *   - every path except the root pointer is write-once by content key;
  *   - `chunkPath` returns a location Spark can read parquet from;
  *   - `saveChunks` commits a batch of produced chunks — backends where
  *     per-object renames are the metadata bottleneck (object stores)
  *     override it with a single batched commit.
  */
trait GraftStore {
  val stats = new StoreStats

  /** Parquet codec for chunk files written INTO this store (the
    * Store/Zlib.hs compression-knob analogue on the data path). Content
    * identity is untouched — chunks are addressed by canonical ROW
    * bytes, not file bytes — so stores with different codecs replicate
    * into each other freely. "snappy" (default) for speed, "zstd" for
    * cold/archival stores. */
  def chunkCodec: String = "snappy"

  // ---- chunk store -----------------------------------------------------
  def chunkPath(hash: String): String
  def hasChunk(hash: String): Boolean
  /** Move a produced file into the store under its content hash.
    * Idempotent: if the hash is already present the new file is
    * discarded — the reference's storeSave bytes-for-keys guarantee. */
  def saveChunk(hash: String, producedFile: Path): Unit
  /** Batched commit of one materialization's chunks: default loops over
    * [[saveChunk]]; object-store backends commit the whole set in one
    * operation instead of one rename per chunk. */
  def saveChunks(batch: Seq[(String, Path)]): Unit = {
    batch.foreach { case (h, p) => saveChunk(h, p) }
    if (batch.nonEmpty) { stats.batchCommits.incrementAndGet(); () }
  }

  // ---- table meta ------------------------------------------------------
  def saveTableMeta(meta: TableMeta): String
  def loadTableMeta(tableHash: String): TableMeta
  def hasTable(tableHash: String): Boolean
  /** (schemaJson, keyCols, chunkTargetRows, chunkCount) WITHOUT
    * materializing the chunk list. Default loads the full meta;
    * sidecar-indexed backends override with an envelope-only read. */
  def tableEnvelope(tableHash: String): (String, Seq[String], Long, Long) = {
    val m = loadTableMeta(tableHash)
    (m.schemaJson, m.keyCols, m.chunkTargetRows, m.chunks.length.toLong)
  }
  /** Re-iterable stream of a table's chunk metas in minKey order — the
    * input side of the streaming merge planner. Default materializes
    * via [[loadTableMeta]]; backends with a parquet chunk-index sidecar
    * override to stream it row-by-row (nothing table-sized on the
    * driver however many chunks the table has). */
  def chunkStream(tableHash: String): () => Iterator[ChunkMeta] =
    () => loadTableMeta(tableHash).chunks.iterator

  // ---- memo store ------------------------------------------------------
  def memoGet(opHash: String): Option[String]
  def memoPut(opHash: String, resultHash: String): Unit
  /** Drop a memo entry so a fresh [[memoPut]] can replace it — needed
    * only by side stores in shared tmp, where a cleaner can sweep the
    * chunks a surviving memo points at ([[FsUtil.memoizedLiveTable]]).
    * Backends where a delete has no meaning may leave the no-op: the
    * caller then rebuilds each time, which is correct, just uncached. */
  def memoDel(opHash: String): Unit = ()
  /** Memoized computation: the reference's `memoize`
    * (/root/reference/messdb-base/src/MessDB/Trie.hs:280-295). */
  def memoized(opHash: String)(compute: => String): String =
    memoGet(opHash) match {
      case Some(h) => h
      case None => val h = compute; memoPut(opHash, h); h
    }

  // ---- root pointer ----------------------------------------------------
  /** Write a root OBJECT (content-addressed) WITHOUT touching the
    * pointer — the staging primitive transactions and replication need:
    * a TxnStore persists its private head and Replicate copies history
    * without ever exposing in-flight state through the shared pointer
    * (a crash leaves only an unreferenced object for GC). */
  def putRootObject(json: String): String
  def saveRoot(json: String): String
  def setRootPointer(rootHash: String): Unit
  /** Remove the pointer entirely (back to the fresh-store "no current
    * root" state) — needed to undo saveRoot's pointer side effect when
    * replicating into an empty store without advancing. */
  def clearRootPointer(): Unit
  def currentRootHash: Option[String]
  def loadRoot(rootHash: String): String
  def hasRoot(rootHash: String): Boolean

  // ---- enumeration + deletion (GC surface) -----------------------------
  def listRoots: Seq[String]
  def listTables: Seq[String]
  def listChunks: Seq[String]
  /** (opHash, resultTableHash) pairs. */
  def listMemos: Seq[(String, String)]
  def deleteRoot(hash: String): Unit
  def deleteTable(hash: String): Unit
  def deleteChunk(hash: String): Unit
  def deleteMemo(opHash: String): Unit
}

/** Filesystem (POSIX/DFS) backend: atomicity via tmp+rename
  * (/root/reference/messdb-base/src/MessDB/Store/File.hs:15-27).
  *
  * Layout under `root/`:
  *   chunks/<sha256>.parquet   immutable PK-sorted row chunks
  *   tables/<sha256>.json      table meta (schema, key cols, chunk list)
  *   memo/<sha256>             op-hash → result table hash
  *   root                      current catalog root hash (pointer file)
  *   roots/<sha256>.json       catalog versions (content-addressed)
  */
/** @param smallObjectDeflate DEFLATE-compress the small objects (table
  *   metas, roots, memo values, pointer) — the Store/Zlib.hs wrapper
  *   parity for the non-parquet paths. Reads auto-detect the zlib
  *   header, so compressed and plain stores interoperate (a store can
  *   even be flipped mid-life).
  * @param chunkCodec parquet codec for chunk data (see
  *   [[GraftStore.chunkCodec]]). */
final class FsStore(val rootDir: String,
    val smallObjectDeflate: Boolean = false,
    override val chunkCodec: String = "snappy") extends GraftStore {
  private val root = Paths.get(rootDir)
  Seq("chunks", "tables", "memo", "roots").foreach { d =>
    Files.createDirectories(root.resolve(d))
  }

  def chunkPath(hash: String): String =
    root.resolve("chunks").resolve(s"$hash.parquet").toString

  def hasChunk(hash: String): Boolean = Files.exists(Paths.get(chunkPath(hash)))

  def saveChunk(hash: String, producedFile: Path): Unit = {
    val dst = Paths.get(chunkPath(hash))
    if (Files.exists(dst)) { stats.chunkSkips.incrementAndGet(); Files.deleteIfExists(producedFile); () }
    else {
      stats.chunkSaves.incrementAndGet()
      val tmp = dst.resolveSibling(dst.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID)
      Files.move(producedFile, tmp, StandardCopyOption.REPLACE_EXISTING)
      try { Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE); stats.renames.incrementAndGet() }
      catch { case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp) }
      ()
    }
  }

  private def chunkIndexPath(hash: String) =
    root.resolve("tables").resolve(s"$hash.chunks.parquet")

  /** Store meta under its content identity (meta.tableHash). Large chunk
    * lists go to a parquet sidecar ([[ChunkIndex]]) instead of inline
    * JSON — the meta stays a small envelope however many chunks the
    * table has. */
  def saveTableMeta(meta: TableMeta): String = {
    val hash = meta.tableHash
    val p = root.resolve("tables").resolve(s"$hash.json")
    if (!Files.exists(p)) {
      stats.metaSaves.incrementAndGet()
      if (meta.chunks.length > TableMeta.InlineChunkLimit) {
        val idx = chunkIndexPath(hash)
        if (!Files.exists(idx)) {
          val tmp = idx.resolveSibling(
            idx.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID)
          ChunkIndex.write(tmp, meta.chunks)
          try Files.move(tmp, idx, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp) }
        }
        writeAtomic(p, meta.toJsonIndexed)
      } else writeAtomic(p, meta.toJson)
    }
    hash
  }

  def loadTableMeta(tableHash: String): TableMeta = {
    val p = root.resolve("tables").resolve(s"$tableHash.json")
    TableMeta.fromJson(readSmall(p),
      () => ChunkIndex.read(chunkIndexPath(tableHash)))
  }

  def hasTable(tableHash: String): Boolean =
    Files.exists(root.resolve("tables").resolve(s"$tableHash.json"))

  override def tableEnvelope(tableHash: String): (String, Seq[String], Long, Long) = {
    val json = readSmall(root.resolve("tables").resolve(s"$tableHash.json"))
    TableMeta.envelopeFromJson(json) match {
      case (s, k, t, Some(n)) => (s, k, t, n)
      case (s, k, t, None) => // inline metas are small; count via full parse
        (s, k, t, TableMeta.fromJson(json).chunks.length.toLong)
    }
  }

  override def chunkStream(tableHash: String): () => Iterator[ChunkMeta] = {
    val json = readSmall(root.resolve("tables").resolve(s"$tableHash.json"))
    TableMeta.envelopeFromJson(json) match {
      case (_, _, _, Some(_)) =>
        () => ChunkIndex.iterate(chunkIndexPath(tableHash))
      case _ => () => TableMeta.fromJson(json).chunks.iterator
    }
  }

  def memoGet(opHash: String): Option[String] = {
    val p = root.resolve("memo").resolve(opHash)
    if (Files.exists(p)) { stats.memoHits.incrementAndGet(); Some(readSmall(p).trim) }
    else { stats.memoMisses.incrementAndGet(); None }
  }

  def memoPut(opHash: String, resultHash: String): Unit = {
    val p = root.resolve("memo").resolve(opHash)
    if (!Files.exists(p)) writeAtomic(p, resultHash)
  }

  override def memoDel(opHash: String): Unit = {
    Files.deleteIfExists(root.resolve("memo").resolve(opHash)); ()
  }

  def putRootObject(json: String): String = {
    val hash = Hashing.sha256Hex(json.getBytes(StandardCharsets.UTF_8))
    val p = root.resolve("roots").resolve(s"$hash.json")
    if (!Files.exists(p)) writeAtomic(p, json)
    hash
  }

  def saveRoot(json: String): String = {
    val hash = putRootObject(json)
    writeAtomic(root.resolve("root"), hash)
    hash
  }

  /** Repoint `root` to an existing version (checkout). */
  def setRootPointer(rootHash: String): Unit =
    writeAtomic(root.resolve("root"), rootHash)

  def clearRootPointer(): Unit = {
    Files.deleteIfExists(root.resolve("root")); ()
  }

  def currentRootHash: Option[String] = {
    val p = root.resolve("root")
    if (Files.exists(p)) Some(readSmall(p).trim) else None
  }

  def loadRoot(rootHash: String): String =
    readSmall(root.resolve("roots").resolve(s"$rootHash.json"))

  def hasRoot(rootHash: String): Boolean =
    Files.exists(root.resolve("roots").resolve(s"$rootHash.json"))

  private def listHashes(sub: String, strip: String): Seq[String] =
    FsUtil.listDir(root.resolve(sub)).map(_.getFileName.toString)
      .filter(n => n.endsWith(strip) && !n.contains(".tmp-"))
      .map(_.stripSuffix(strip))

  def listRoots: Seq[String] = listHashes("roots", ".json")
  def listTables: Seq[String] = listHashes("tables", ".json")
  def listChunks: Seq[String] = listHashes("chunks", ".parquet")
  def listMemos: Seq[(String, String)] =
    FsUtil.listDir(root.resolve("memo")).map(_.getFileName.toString)
      .filterNot(_.contains(".tmp-"))
      .map(op => op -> readSmall(root.resolve("memo").resolve(op)).trim)

  def deleteRoot(hash: String): Unit = {
    Files.deleteIfExists(root.resolve("roots").resolve(s"$hash.json")); ()
  }
  def deleteTable(hash: String): Unit = {
    Files.deleteIfExists(root.resolve("tables").resolve(s"$hash.json"))
    Files.deleteIfExists(chunkIndexPath(hash))
    Files.deleteIfExists(root.resolve("tables").resolve(s".$hash.chunks.parquet.crc"))
    ()
  }
  def deleteChunk(hash: String): Unit = {
    Files.deleteIfExists(Paths.get(chunkPath(hash))); ()
  }
  def deleteMemo(opHash: String): Unit = {
    Files.deleteIfExists(root.resolve("memo").resolve(opHash)); ()
  }

  private def writeAtomic(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID)
    if (smallObjectDeflate) Files.write(tmp, FsStore.deflate(content))
    else Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Read a small object, auto-detecting DEFLATE (zlib header) vs plain
    * UTF-8 — so a plain store opened with the knob on (or vice versa)
    * keeps reading its history. */
  private def readSmall(p: Path): String = FsStore.inflate(Files.readAllBytes(p))
}

object FsStore {
  private[core] def deflate(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.util.zip.DeflaterOutputStream(bos)
    d.write(s.getBytes(StandardCharsets.UTF_8)); d.close()
    bos.toByteArray
  }

  /** zlib magic: 0x78 first byte — unambiguous against our plain
    * objects, which start with '{' (JSON) or a hex digit (hashes). */
  private[core] def inflate(bytes: Array[Byte]): String =
    if (bytes.length >= 2 && bytes(0) == 0x78.toByte)
      new String(new java.util.zip.InflaterInputStream(
        new java.io.ByteArrayInputStream(bytes)).readAllBytes(),
        StandardCharsets.UTF_8)
    else new String(bytes, StandardCharsets.UTF_8)
}

/** Object-store-semantics backend (an S3-alike simulated on local disk):
  * every write is a direct PUT of a whole object under its final key —
  * NO renames anywhere (object stores have none; their PUT is atomic by
  * contract, which the simulation inherits per-file on local disk for
  * test purposes). Chunk batches commit as ONE operation: all objects
  * are PUT, then a single manifest line records the batch — the
  * O(1)-commit answer to the O(#chunks) rename storm a file backend
  * would suffer against S3-likes (SCALE.md "batch commit protocol").
  * Content-addressing makes double PUTs idempotent by value, so the
  * last-writer-wins PUT semantics of object stores are safe here. */
final class ObjectStoreSimStore(val rootDir: String) extends GraftStore {
  private val root = Paths.get(rootDir)
  Seq("chunks", "tables", "memo", "roots").foreach { d =>
    Files.createDirectories(root.resolve(d))
  }
  private val manifest = root.resolve("commits.log")

  private def put(p: Path, bytes: Array[Byte]): Unit = {
    Files.write(p, bytes) // simulated atomic object PUT
    ()
  }
  private def putString(p: Path, s: String): Unit =
    put(p, s.getBytes(StandardCharsets.UTF_8))

  def chunkPath(hash: String): String =
    root.resolve("chunks").resolve(s"$hash.parquet").toString

  def hasChunk(hash: String): Boolean = Files.exists(Paths.get(chunkPath(hash)))

  def saveChunk(hash: String, producedFile: Path): Unit = {
    val dst = Paths.get(chunkPath(hash))
    if (Files.exists(dst)) { stats.chunkSkips.incrementAndGet(); Files.deleteIfExists(producedFile); () }
    else {
      stats.chunkSaves.incrementAndGet()
      put(dst, Files.readAllBytes(producedFile)) // upload = whole-object PUT
      Files.deleteIfExists(producedFile)
      ()
    }
  }

  /** The batched commit: N object PUTs + ONE manifest append — a single
    * commit operation regardless of chunk count. */
  override def saveChunks(batch: Seq[(String, Path)]): Unit = {
    if (batch.nonEmpty) {
      batch.foreach { case (h, p) => saveChunk(h, p) }
      val line = batch.map(_._1).mkString(",") + "\n"
      Files.write(manifest, line.getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      stats.batchCommits.incrementAndGet()
      ()
    }
  }

  private def chunkIndexPath(hash: String) =
    root.resolve("tables").resolve(s"$hash.chunks.parquet")

  def saveTableMeta(meta: TableMeta): String = {
    val hash = meta.tableHash
    val p = root.resolve("tables").resolve(s"$hash.json")
    if (!Files.exists(p)) {
      stats.metaSaves.incrementAndGet()
      if (meta.chunks.length > TableMeta.InlineChunkLimit) {
        val idx = chunkIndexPath(hash)
        if (!Files.exists(idx)) {
          // a real object store PUTs the whole object atomically; the
          // local simulation of that atomicity stages the streaming
          // parquet write and installs it in one move, so a crash
          // mid-write can never leave a truncated index at the final
          // key (which the exists-guard would then make permanent)
          val tmp = idx.resolveSibling(
            idx.getFileName.toString + ".staging-" + java.util.UUID.randomUUID)
          ChunkIndex.write(tmp, meta.chunks)
          try Files.move(tmp, idx, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp) }
        }
        putString(p, meta.toJsonIndexed)
      } else putString(p, meta.toJson)
    }
    hash
  }

  def loadTableMeta(tableHash: String): TableMeta =
    TableMeta.fromJson(
      Files.readString(root.resolve("tables").resolve(s"$tableHash.json")),
      () => ChunkIndex.read(chunkIndexPath(tableHash)))

  def hasTable(tableHash: String): Boolean =
    Files.exists(root.resolve("tables").resolve(s"$tableHash.json"))

  override def chunkStream(tableHash: String): () => Iterator[ChunkMeta] = {
    val json = Files.readString(root.resolve("tables").resolve(s"$tableHash.json"))
    TableMeta.envelopeFromJson(json) match {
      case (_, _, _, Some(_)) =>
        () => ChunkIndex.iterate(chunkIndexPath(tableHash))
      case _ => () => TableMeta.fromJson(json).chunks.iterator
    }
  }

  def memoGet(opHash: String): Option[String] = {
    val p = root.resolve("memo").resolve(opHash)
    if (Files.exists(p)) { stats.memoHits.incrementAndGet(); Some(Files.readString(p).trim) }
    else { stats.memoMisses.incrementAndGet(); None }
  }

  def memoPut(opHash: String, resultHash: String): Unit = {
    val p = root.resolve("memo").resolve(opHash)
    if (!Files.exists(p)) putString(p, resultHash)
  }

  def putRootObject(json: String): String = {
    val hash = Hashing.sha256Hex(json.getBytes(StandardCharsets.UTF_8))
    val p = root.resolve("roots").resolve(s"$hash.json")
    if (!Files.exists(p)) putString(p, json)
    hash
  }

  def saveRoot(json: String): String = {
    val hash = putRootObject(json)
    putString(root.resolve("root"), hash)
    hash
  }

  def setRootPointer(rootHash: String): Unit =
    putString(root.resolve("root"), rootHash)

  def clearRootPointer(): Unit = {
    Files.deleteIfExists(root.resolve("root")); ()
  }

  def currentRootHash: Option[String] = {
    val p = root.resolve("root")
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  def loadRoot(rootHash: String): String =
    Files.readString(root.resolve("roots").resolve(s"$rootHash.json"))

  def hasRoot(rootHash: String): Boolean =
    Files.exists(root.resolve("roots").resolve(s"$rootHash.json"))

  private def listKeys(sub: String, strip: String): Seq[String] =
    FsUtil.listDir(root.resolve(sub)).map(_.getFileName.toString)
      .filter(_.endsWith(strip)).map(_.stripSuffix(strip))

  def listRoots: Seq[String] = listKeys("roots", ".json")
  def listTables: Seq[String] = listKeys("tables", ".json")
  def listChunks: Seq[String] = listKeys("chunks", ".parquet")
  def listMemos: Seq[(String, String)] =
    FsUtil.listDir(root.resolve("memo")).map(_.getFileName.toString)
      .map(op => op -> Files.readString(root.resolve("memo").resolve(op)).trim)

  def deleteRoot(hash: String): Unit = {
    Files.deleteIfExists(root.resolve("roots").resolve(s"$hash.json")); ()
  }
  def deleteTable(hash: String): Unit = {
    Files.deleteIfExists(root.resolve("tables").resolve(s"$hash.json"))
    Files.deleteIfExists(chunkIndexPath(hash))
    Files.deleteIfExists(root.resolve("tables").resolve(s".$hash.chunks.parquet.crc"))
    ()
  }
  def deleteChunk(hash: String): Unit = {
    Files.deleteIfExists(Paths.get(chunkPath(hash))); ()
  }
  def deleteMemo(opHash: String): Unit = {
    Files.deleteIfExists(root.resolve("memo").resolve(opHash)); ()
  }
}

/** Small filesystem helpers shared across the store layer. */
object FsUtil {
  /** Directory listing with the stream closed deterministically
    * (Files.list leaks an fd per call otherwise). */
  def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path]).toSeq
    finally s.close()
  }

  /** Spark's own staleness rule (name + size + mtime per source file)
    * as a memo-key fingerprint for a source parquet under `dir` —
    * shared by every build-once index (vector, shingle, tf) so the
    * discipline has ONE definition. The strings feed Hashing.opHash
    * verbatim; changing this format invalidates (= safely rebuilds)
    * existing memo entries. */
  def parquetFingerprint(dir: String, table: String): Seq[String] = {
    val src = java.nio.file.Paths.get(dir, s"$table.parquet")
    val files: Seq[Path] =
      if (Files.isDirectory(src)) listDir(src).sortBy(_.getFileName.toString)
      else Seq(src)
    files.map { p =>
      s"${p.getFileName}:${Files.size(p)}:" +
        Files.getLastModifiedTime(p).toMillis
    }
  }

  /** Root for a standalone side-index store (the served vector / shingle
    * / tf indexes): `SPARK_GRAFT_INDEX_DIR` when set, else the JVM tmp
    * dir — and always USER-QUALIFIED, because the tmp dir is
    * world-shared: on a multi-user host another user's identically-named
    * directory is a permission failure, not a cache hit. */
  def sideStoreDir(kind: String, sourceDir: String): Path = {
    val root = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      System.getProperty("java.io.tmpdir"))
    val user = Option(System.getProperty("user.name")).getOrElse("nouser")
      .replaceAll("[^\\w.-]", "_")
    val p = java.nio.file.Paths.get(root,
      s"graft-$user-$kind-" + Hashing.sha256Hex(sourceDir.getBytes(
        java.nio.charset.StandardCharsets.UTF_8)).take(16))
    Files.createDirectories(p)
    p
  }

  /** Best-effort recursive delete (depth-first; symlinks not followed —
    * the store trees contain only plain files/dirs and hardlinks).
    * Swallows IO errors: cleanup must never fail the query that
    * produced the data. */
  def deleteRecursively(dir: Path): Unit =
    try {
      if (Files.exists(dir)) {
        val s = Files.walk(dir)
        try s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach { p: Path => Files.deleteIfExists(p); () }
        finally s.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Register a throwaway directory (per-run store clones, bench warm
    * stores) for deletion at JVM exit — one shared shutdown hook, so a
    * bench sweep that creates many clones does not leak them into tmp. */
  def deleteAtExit(dir: Path): Unit = exitDeletions.synchronized {
    exitDeletions += dir
    ()
  }

  /** Temp dir pre-registered for JVM-exit recursive deletion — the
    * per-run throwaway store pattern. Every bench/verify query that
    * mints a store MUST use this (or register explicitly): a min2med3
    * sweep plus verify runs otherwise accumulate thousands of dead
    * store dirs in tmp per working day (measured: 4.7k dirs / 5 GB),
    * which degrades the whole machine's file-metadata path. */
  def tempStoreDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    deleteAtExit(p)
    p.toString
  }
  private lazy val exitDeletions: scala.collection.mutable.ArrayBuffer[Path] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      buf.synchronized(buf.toSeq).foreach(deleteRecursively)))
    buf
  }

  /** Throwaway copy-on-write BRANCH of a side store ([[OverlayStore]]):
    * per-run isolation — a measured refresh must never memo-hit a
    * previous run's result, and must never write into the shared base —
    * at ZERO copies (content addressing makes the two-layer union
    * trivially consistent). The branch's local layer is registered for
    * JVM-exit deletion: a bench sweep creates several per query and
    * must not leak them into tmp. */
  def branchStore(base: Path): OverlayStore = {
    val local = Files.createTempDirectory("graft-branch-")
    deleteAtExit(local)
    new OverlayStore(
      new FsStore(base.toString), new FsStore(local.toString))
  }

  /** Build-once memo with LIVENESS validation for side stores: tmp
    * cleaners can sweep chunk files out from under a store whose memo
    * entry survives — a memo hit whose table meta or chunk files are
    * gone REBUILDS (and overwrites the memo) instead of serving a
    * dangling hash. Main catalog stores don't need this (GC owns their
    * lifecycle); side stores live in tmp by construction. */
  def memoizedLiveTable(store: GraftStore, opHash: String)
      (build: => String): String = {
    def live(tableHash: String): Boolean =
      try store.loadTableMeta(tableHash).chunks.forall(c =>
        Files.exists(java.nio.file.Paths.get(store.chunkPath(c.hash))))
      catch { case scala.util.control.NonFatal(_) => false }
    store.memoGet(opHash).filter(live) match {
      case Some(h) => h
      case None =>
        val h = build
        store.memoDel(opHash) // a stale (swept-chunks) entry may linger
        store.memoPut(opHash, h)
        h
    }
  }
}

object Hashing {
  // hex via a char table, not the f"" interpolator — the interpolator
  // compiles to java.util.Formatter (a regex parse of the format string
  // PER BYTE); hex runs per row key in the driver patch routes and per
  // digest everywhere, and showed up in bench JFR profiles
  private val hexChars = "0123456789abcdef".toCharArray
  def sha256Hex(bytes: Array[Byte]): String =
    hex(MessageDigest.getInstance("SHA-256").digest(bytes))
  def sha256Hex(parts: Seq[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    hex(md.digest())
  }
  /** Operation-hash builder: each part is length-prefixed so distinct
    * part splits can never concatenate to the same byte stream (e.g.
    * ("ab","x") vs ("a","bx")) — op identities must be injective in
    * their components or the memo store returns wrong results. */
  def opHash(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      val b = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    hex(md.digest())
  }

  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      out(i * 2) = hexChars(v >>> 4)
      out(i * 2 + 1) = hexChars(v & 0xf)
      i += 1
    }
    new String(out)
  }
  def unhex(s: String): Array[Byte] =
    s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray

  /** Unsigned lexicographic byte-array compare (matches Spark's
    * BinaryType ordering). */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}

/** Debug-logging store wrapper — the Store/Debug.hs parity line
  * (/root/reference/messdb-base/src/MessDB/Store/Debug.hs:7-38, which
  * wraps any store and prints every operation): delegates each call to
  * `inner`, emitting one line per operation. Composes with every
  * backend (it only speaks the trait), so replication between two
  * wrapped stores prints the exact object traffic — the debugging use
  * the reference built it for. Stats flow through to the inner store so
  * counters stay in one place. */
final class LoggingStore(inner: GraftStore,
    log: String => Unit = Console.err.println) extends GraftStore {
  override val stats: StoreStats = inner.stats
  override def chunkCodec: String = inner.chunkCodec

  private def tap[A](msg: String)(a: => A): A = { log(s"[store] $msg"); a }

  def chunkPath(hash: String): String = inner.chunkPath(hash)
  def hasChunk(hash: String): Boolean =
    tap(s"hasChunk $hash")(inner.hasChunk(hash))
  def saveChunk(hash: String, producedFile: Path): Unit =
    tap(s"saveChunk $hash")(inner.saveChunk(hash, producedFile))
  override def saveChunks(batch: Seq[(String, Path)]): Unit =
    tap(s"saveChunks n=${batch.length}")(inner.saveChunks(batch))

  def saveTableMeta(meta: TableMeta): String =
    tap(s"saveTableMeta ${meta.tableHash} chunks=${meta.chunks.length}")(
      inner.saveTableMeta(meta))
  def loadTableMeta(tableHash: String): TableMeta =
    tap(s"loadTableMeta $tableHash")(inner.loadTableMeta(tableHash))
  def hasTable(tableHash: String): Boolean =
    tap(s"hasTable $tableHash")(inner.hasTable(tableHash))
  override def tableEnvelope(tableHash: String): (String, Seq[String], Long, Long) =
    inner.tableEnvelope(tableHash)
  override def chunkStream(tableHash: String): () => Iterator[ChunkMeta] =
    inner.chunkStream(tableHash)

  def memoGet(opHash: String): Option[String] =
    tap(s"memoGet $opHash")(inner.memoGet(opHash))
  def memoPut(opHash: String, resultHash: String): Unit =
    tap(s"memoPut $opHash -> $resultHash")(inner.memoPut(opHash, resultHash))

  def putRootObject(json: String): String =
    tap(s"putRootObject ${json.length}B")(inner.putRootObject(json))
  def saveRoot(json: String): String =
    tap(s"saveRoot ${json.length}B")(inner.saveRoot(json))
  def setRootPointer(rootHash: String): Unit =
    tap(s"setRootPointer $rootHash")(inner.setRootPointer(rootHash))
  def clearRootPointer(): Unit =
    tap("clearRootPointer")(inner.clearRootPointer())
  def currentRootHash: Option[String] = inner.currentRootHash
  def loadRoot(rootHash: String): String =
    tap(s"loadRoot $rootHash")(inner.loadRoot(rootHash))
  def hasRoot(rootHash: String): Boolean = inner.hasRoot(rootHash)

  def listRoots: Seq[String] = inner.listRoots
  def listTables: Seq[String] = inner.listTables
  def listChunks: Seq[String] = inner.listChunks
  def listMemos: Seq[(String, String)] = inner.listMemos
  def deleteRoot(hash: String): Unit =
    tap(s"deleteRoot $hash")(inner.deleteRoot(hash))
  def deleteTable(hash: String): Unit =
    tap(s"deleteTable $hash")(inner.deleteTable(hash))
  def deleteChunk(hash: String): Unit =
    tap(s"deleteChunk $hash")(inner.deleteChunk(hash))
  def deleteMemo(opHash: String): Unit =
    tap(s"deleteMemo $opHash")(inner.deleteMemo(opHash))
}
