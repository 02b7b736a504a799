package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Pack-file backend — the third store layout behind the [[GraftStore]]
  * contract (reference parity: the backend-independent store classes of
  * /root/reference/messdb-base/src/MessDB/Store.hs:28-37, which ship
  * four interchangeable layouts).
  *
  * The object-COUNT answer for object stores: a materialization's chunk
  * batch becomes ONE immutable pack object (concatenated payloads) plus
  * one journal append, instead of one object per chunk — the
  * git-packfile / LSM-SSTable shape. At 100 TB with ~1e6 chunks that is
  * the difference between millions of small PUTs/LISTs and thousands of
  * large ones; memo entries live in the same journal discipline.
  *
  * Layout under root/:
  *   packs/<packId>.pack   immutable concatenated chunk payloads
  *   chunks.log            journal: "A <hash> <pack> <offset> <length>"
  *                         and "D <hash>" lines, replayed in order at
  *                         open (deletes tombstone; a later re-add
  *                         resurrects) — packs are never rewritten,
  *                         compaction is an offline concern
  *   cache/<hash>.parquet  extracted chunks — the Spark read path; the
  *                         local stand-in for an object-store RANGED GET
  *                         (offset+length come from the journal)
  *   memo.log              "op<TAB>result" appends ("" result = delete)
  *   tables/, roots/, root small content-addressed JSON objects
  */
final class PackStore(val rootDir: String) extends GraftStore {
  private val root = Paths.get(rootDir)
  Seq("packs", "cache", "tables", "roots").foreach { d =>
    Files.createDirectories(root.resolve(d))
  }
  private val journal = root.resolve("chunks.log")
  private val memoLog = root.resolve("memo.log")

  // hash -> (pack path, offset, length); replayed from the journal
  private val index =
    scala.collection.concurrent.TrieMap.empty[String, (Path, Long, Long)]
  private val memos = scala.collection.concurrent.TrieMap.empty[String, String]

  locally {
    if (Files.exists(journal)) Files.readAllLines(journal).forEach { line =>
      line.split(" ") match {
        case Array("A", h, pack, off, len) =>
          index.put(h, (root.resolve("packs").resolve(pack), off.toLong, len.toLong)); ()
        case Array("D", h) => index.remove(h); ()
        case _ => ()
      }
    }
    if (Files.exists(memoLog)) Files.readAllLines(memoLog).forEach { line =>
      val i = line.indexOf('\t')
      if (i > 0) {
        val op = line.substring(0, i); val res = line.substring(i + 1)
        if (res.isEmpty) memos.remove(op) else memos.put(op, res)
        ()
      }
    }
  }

  private def append(p: Path, s: String): Unit = synchronized {
    Files.write(p, s.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }

  // ---- chunks ----------------------------------------------------------

  private def cachePath(hash: String): Path =
    root.resolve("cache").resolve(s"$hash.parquet")

  /** Extract-on-read: materialize the pack byte range into the local
    * cache once, then hand Spark the cached parquet file. */
  def chunkPath(hash: String): String = {
    val c = cachePath(hash)
    if (!Files.exists(c)) index.get(hash).foreach { case (pack, off, len) =>
      val ch = Files.newByteChannel(pack, StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocate(Math.toIntExact(len))
        ch.position(off)
        while (buf.hasRemaining && ch.read(buf) >= 0) {}
        require(!buf.hasRemaining, s"short read extracting $hash")
        val tmp = c.resolveSibling(
          c.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID)
        Files.write(tmp, buf.array())
        try Files.move(tmp, c, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp); () }
      } finally ch.close()
    }
    c.toString
  }

  def hasChunk(hash: String): Boolean = index.contains(hash)

  def saveChunk(hash: String, producedFile: Path): Unit =
    saveChunks(Seq(hash -> producedFile))

  /** The batched commit: one pack object + one journal append for the
    * whole batch, however many chunks it carries. The pack id is the
    * hash of the member hashes, so a replayed batch re-creates the SAME
    * pack (write skipped) and re-appends the same journal lines —
    * crash/replay idempotent like every other content-addressed write. */
  override def saveChunks(batch: Seq[(String, Path)]): Unit = {
    val (dups, fresh0) = batch.partition { case (h, _) => hasChunk(h) }
    dups.foreach { case (_, p) =>
      stats.chunkSkips.incrementAndGet(); Files.deleteIfExists(p); ()
    }
    // a hash may appear twice in one batch (identical content): pack one
    val seen = scala.collection.mutable.Set.empty[String]
    val fresh = fresh0.filter { case (h, p) =>
      seen.add(h) || { Files.deleteIfExists(p); false }
    }
    if (fresh.nonEmpty) {
      val packId = Hashing.sha256Hex(
        fresh.map(_._1).mkString(",").getBytes(StandardCharsets.UTF_8))
      val packName = s"$packId.pack"
      val pack = root.resolve("packs").resolve(packName)
      // offsets derive from the produced files, valid whether or not the
      // pack body itself still needs writing
      var off = 0L
      val entries = fresh.map { case (h, p) =>
        val len = Files.size(p)
        val e = (h, p, off, len); off += len; e
      }
      if (!Files.exists(pack)) {
        val tmp = pack.resolveSibling(
          packName + ".tmp-" + java.util.UUID.randomUUID)
        val out = Files.newOutputStream(tmp)
        try entries.foreach { case (_, p, _, _) => Files.copy(p, out); () }
        finally out.close()
        try Files.move(tmp, pack, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp); () }
      }
      // journal AFTER the pack is durable: a crash in between replays as
      // an existing pack + fresh journal lines next time
      append(journal, entries.map { case (h, _, o, l) =>
        s"A $h $packName $o $l"
      }.mkString("", "\n", "\n"))
      entries.foreach { case (h, p, o, l) =>
        index.put(h, (pack, o, l))
        stats.chunkSaves.incrementAndGet()
        Files.deleteIfExists(p)
        ()
      }
    }
    if (batch.nonEmpty) { stats.batchCommits.incrementAndGet(); () }
  }

  // ---- table meta (small JSON objects + parquet sidecar) ---------------

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
          val tmp = idx.resolveSibling(
            idx.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID)
          ChunkIndex.write(tmp, meta.chunks)
          try Files.move(tmp, idx, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(tmp); () }
        }
        Files.writeString(p, meta.toJsonIndexed)
      } else Files.writeString(p, meta.toJson)
      ()
    }
    hash
  }

  def loadTableMeta(tableHash: String): TableMeta = {
    val p = root.resolve("tables").resolve(s"$tableHash.json")
    TableMeta.fromJson(Files.readString(p),
      () => ChunkIndex.read(chunkIndexPath(tableHash)))
  }

  override def chunkStream(tableHash: String): () => Iterator[ChunkMeta] = {
    val json = Files.readString(root.resolve("tables").resolve(s"$tableHash.json"))
    TableMeta.envelopeFromJson(json) match {
      case (_, _, _, Some(_)) =>
        () => ChunkIndex.iterate(chunkIndexPath(tableHash))
      case _ => () => TableMeta.fromJson(json).chunks.iterator
    }
  }

  def hasTable(tableHash: String): Boolean =
    Files.exists(root.resolve("tables").resolve(s"$tableHash.json"))

  // ---- memo journal ----------------------------------------------------

  def memoGet(opHash: String): Option[String] = memos.get(opHash) match {
    case s @ Some(_) => stats.memoHits.incrementAndGet(); s
    case None => stats.memoMisses.incrementAndGet(); None
  }

  def memoPut(opHash: String, resultHash: String): Unit =
    if (!memos.contains(opHash)) {
      memos.put(opHash, resultHash)
      append(memoLog, s"$opHash\t$resultHash\n")
    }

  // ---- roots -----------------------------------------------------------

  def putRootObject(json: String): String = {
    val hash = Hashing.sha256Hex(json.getBytes(StandardCharsets.UTF_8))
    val p = root.resolve("roots").resolve(s"$hash.json")
    if (!Files.exists(p)) { Files.writeString(p, json); () }
    hash
  }

  def saveRoot(json: String): String = {
    val hash = putRootObject(json)
    Files.writeString(root.resolve("root"), hash)
    hash
  }

  def setRootPointer(rootHash: String): Unit = {
    Files.writeString(root.resolve("root"), rootHash); ()
  }

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

  // ---- enumeration + deletion (GC surface) -----------------------------

  private def listHashes(sub: String, strip: String): Seq[String] =
    FsUtil.listDir(root.resolve(sub)).map(_.getFileName.toString)
      .filter(n => n.endsWith(strip) && !n.contains(".tmp-"))
      .map(_.stripSuffix(strip))

  def listRoots: Seq[String] = listHashes("roots", ".json")
  def listTables: Seq[String] = listHashes("tables", ".json")
  def listChunks: Seq[String] = index.keys.toSeq
  def listMemos: Seq[(String, String)] = memos.toSeq

  def deleteRoot(hash: String): Unit = {
    Files.deleteIfExists(root.resolve("roots").resolve(s"$hash.json")); ()
  }
  def deleteTable(hash: String): Unit = {
    Files.deleteIfExists(root.resolve("tables").resolve(s"$hash.json"))
    Files.deleteIfExists(chunkIndexPath(hash))
    ()
  }
  def deleteChunk(hash: String): Unit = {
    if (index.remove(hash).isDefined) append(journal, s"D $hash\n")
    Files.deleteIfExists(cachePath(hash))
    ()
  }
  def deleteMemo(opHash: String): Unit =
    if (memos.remove(opHash).isDefined) append(memoLog, s"$opHash\t\n")
}
