package graft.core

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.JsonDSL._

/** Git-like catalog: a single root pointer to a name → table mapping;
  * every statement produces a new immutable root, old roots stay valid
  * (structural sharing via content addressing) — the Repo layer analogue
  * (/root/reference/messdb-repo/src/MessDB/Repo.hs:43-130).
  */
/** @param declaredCols user-facing column order (the CREATE TABLE
  *   declaration / original import order), which may differ from the
  *   canonical keys-first order of `schemaJson` — positional SQL INSERTs
  *   align against it. Roots written before this field existed fall back
  *   to the canonical order on load (the declaration order was never
  *   recorded and cannot be recovered); positional inserts into such
  *   legacy tables follow print-schema order, as they always did.
  * @param notNull VALUE columns declared NOT NULL (key columns are
  *   implicitly non-null). The canonical schema relaxes value columns to
  *   nullable (Canonical.normalizeSchema keeps chunk identity
  *   declaration-free), so the declared constraint lives HERE and the
  *   SQL write paths enforce it at runtime — the reference makes the
  *   same split: constraints are schema-layer, tries are typed rows
  *   (messdb-sql/src/MessDB/SQL/Schema.hs:49-57). Legacy roots load as
  *   unconstrained. */
final case class CatalogEntry(tableHash: String, keyCols: Seq[String],
    schemaJson: String, declaredCols: Seq[String],
    notNull: Seq[String] = Nil)

final class Catalog(store: GraftStore) {
  import Catalog.Parsed

  // the CURRENT root, parsed: reused while the pointer still names it
  // (a root object is immutable under its hash), so a statement's many
  // point lookups cost one pointer read each instead of a root load and
  // JSON parse. Only the current root is held, so a GC'd historical
  // root is never served from here.
  @volatile private var cached: Parsed = null

  private def parsedCurrent: Option[Parsed] =
    store.currentRootHash.map { h =>
      val c = cached
      if (c != null && c.hash == h) c
      else { val p = new Parsed(h, JsonMethods.parse(store.loadRoot(h))); cached = p; p }
    }

  /** loadRepoRoot: missing root ⇒ empty catalog (Repo.hs:84-89). */
  def root: Map[String, CatalogEntry] =
    parsedCurrent.map(_.tables).getOrElse(Map.empty)

  /** Persisted materialized-view definitions (name → defining SELECT
    * SQL). Stored in the root alongside the tables, so views survive
    * sessions, travel with replication (a pushed root carries its view
    * defs), and version with the catalog history — the reference's
    * everything-through-the-repo model (Repo.hs:82). */
  def viewDefs: Map[String, String] =
    parsedCurrent.map(_.views).getOrElse(Map.empty)

  def viewDefsAt(rootHash: String): Map[String, String] =
    new Parsed(rootHash, JsonMethods.parse(store.loadRoot(rootHash))).views

  /** Record/replace a view definition; tables untouched. */
  def putViewDef(name: String, selectSql: String): String =
    statementFull(identity, _ + (name -> selectSql))

  /** Drop a view definition AND its materialized table in one root. */
  def dropViewDef(name: String): String =
    statementFull(_ - name, _ - name)

  def rootAt(rootHash: String): Map[String, CatalogEntry] =
    new Parsed(rootHash, JsonMethods.parse(store.loadRoot(rootHash))).tables

  /** saveRepoTable: upsert a named table, produce + install a new root
    * (Repo.hs:106-118). Returns the new root hash.
    *
    * `declared` pins the user-facing column order; when absent, an
    * existing entry's declared order survives as long as the column set
    * is unchanged (so an INSERT-driven re-put doesn't reset a CREATE
    * TABLE declaration to canonical order). */
  def put(name: String, ref: TableRef, declared: Option[Seq[String]] = None,
      notNull: Option[Seq[String]] = None): String = {
    val m = store.loadTableMeta(ref.hash)
    val fieldNames = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    // resolve the surviving declared order INSIDE the statement so the
    // root JSON is parsed once per put, not twice (streaming calls this
    // per micro-batch)
    statement { cur =>
      val order = declared
        .orElse(cur.get(name).map(_.declaredCols).filter(_.toSet == fieldNames.toSet))
        .getOrElse(fieldNames)
      // NOT NULL declarations survive re-puts while the columns exist
      val nn = notNull
        .orElse(cur.get(name).map(_.notNull.filter(fieldNames.contains)))
        .getOrElse(Nil)
      cur + (name -> CatalogEntry(ref.hash, m.keyCols, m.schemaJson, order, nn))
    }
  }

  /** Atomic multi-table commit: every update lands in ONE new root —
    * readers see all of them or none (a cross-table invariant, e.g. a
    * fact table and its aggregate view, can never be observed half-
    * updated). Same declared-order survival rule as [[put]]. */
  def putAll(updates: Map[String, TableRef]): String = statement { cur =>
    updates.toSeq.sortBy(_._1).foldLeft(cur) { case (acc, (name, ref)) =>
      val m = store.loadTableMeta(ref.hash)
      val fieldNames = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      val order = acc.get(name).map(_.declaredCols)
        .filter(_.toSet == fieldNames.toSet).getOrElse(fieldNames)
      val nn = acc.get(name).map(_.notNull.filter(fieldNames.contains))
        .getOrElse(Nil)
      acc + (name -> CatalogEntry(ref.hash, m.keyCols, m.schemaJson, order, nn))
    }
  }

  def drop(name: String): String = statement(_ - name)

  /** getRepoTable (point lookup in the catalog, Repo.hs:100-104). */
  def get(name: String): Option[TableRef] = root.get(name).map(e => TableRef(e.tableHash))

  def schemaOf(name: String): Option[org.apache.spark.sql.types.StructType] =
    root.get(name).map(e => org.apache.spark.sql.types.DataType
      .fromJson(e.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType])

  /** runRepoStatement: root → root, atomically installed (Repo.hs:120-130).
    * Each root records its parent, so the version history is a git-like
    * chain walkable from the current pointer.
    *
    * The read-modify-write of the root pointer is serialized on the store
    * instance so two concurrent in-process writers cannot both read the
    * same parent and silently drop one update (lost update). Cross-process
    * writers need an external lock on the store directory. */
  def statement(f: Map[String, CatalogEntry] => Map[String, CatalogEntry]): String =
    statementFull(f, identity)

  /** [[statement]] over BOTH sections of the root: tables and view
    * definitions. Table statements pass the view defs through untouched
    * (and vice versa), so no write path can silently drop the other
    * section. */
  def statementFull(f: Map[String, CatalogEntry] => Map[String, CatalogEntry],
      g: Map[String, String] => Map[String, String]): String = store.synchronized {
    val cur = parsedCurrent
    val next = f(cur.map(_.tables).getOrElse(Map.empty))
    val nextViews = g(cur.map(_.views).getOrElse(Map.empty))
    val parent = cur.map(_.hash)
    val tables: JObject = JObject(next.toList.sortBy(_._1).map { case (name, e) =>
      name -> (("table" -> e.tableHash) ~ ("keyCols" -> e.keyCols) ~
        ("declared" -> e.declaredCols) ~ ("notnull" -> e.notNull) ~
        ("schema" -> JsonMethods.parse(e.schemaJson)))
    })
    val j: JObject = ("tables" -> tables) ~
      ("views" -> JObject(nextViews.toList.sortBy(_._1).map {
        case (n, s) => n -> (JString(s): JValue) })) ~
      ("parent" -> parent)
    val h = store.saveRoot(JsonMethods.compact(JsonMethods.render(j)))
    cached = new Parsed(h, j)
    h
  }

  /** Parent of a root version: None for the first root, and None when
    * the parent was garbage-collected (the chain is then shallow, like
    * a git shallow clone — the kept root stays fully usable). */
  def parentOf(rootHash: String): Option[String] = {
    implicit val fmts: Formats = DefaultFormats
    (JsonMethods.parse(store.loadRoot(rootHash)) \ "parent").extractOpt[String]
      .filter(store.hasRoot)
  }

  /** Version history from the current root, newest first; stops at the
    * first GC'd ancestor. */
  def log(limit: Int = 100): Seq[String] = {
    val out = Vector.newBuilder[String]
    var cur = store.currentRootHash.filter(store.hasRoot)
    var n = 0
    while (cur.isDefined && n < limit) {
      out += cur.get
      cur = parentOf(cur.get)
      n += 1
    }
    out.result()
  }

  /** Move the root pointer to an existing version (git checkout; the old
    * chain stays content-addressed and reachable by hash). */
  def checkout(rootHash: String): Unit = {
    store.loadRoot(rootHash) // validate existence
    store.setRootPointer(rootHash)
  }
}

object Catalog {
  /** One root object, parsed once; each section extracted on first use. */
  private final class Parsed(val hash: String, json: JValue) {
    private implicit val fmts: Formats = DefaultFormats
    lazy val tables: Map[String, CatalogEntry] =
      (json \ "tables").extract[Map[String, JValue]].map { case (name, e) =>
        val schemaJson = JsonMethods.compact(JsonMethods.render(e \ "schema"))
        val declared = (e \ "declared").extractOpt[Seq[String]].getOrElse {
          org.apache.spark.sql.types.DataType.fromJson(schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
        }
        name -> CatalogEntry((e \ "table").extract[String],
          (e \ "keyCols").extract[Seq[String]], schemaJson, declared,
          (e \ "notnull").extractOpt[Seq[String]].getOrElse(Nil))
      }
    lazy val views: Map[String, String] =
      (json \ "views").extractOpt[Map[String, String]].getOrElse(Map.empty)
  }
}
