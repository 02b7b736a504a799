package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.{Catalog, Ops}

/** SQL front-end.
  *
  * Reference parity (O26–O30): the reference implements ONLY
  * `CREATE TABLE` — column list with PRIMARY KEY / NOT NULL constraints,
  * postgres-style type names; everything else throws
  * (/root/reference/messdb-sql/src/MessDB/SQL.hs:21-44,
  * /root/reference/messdb-sql/src/MessDB/SQL/Schema.hs:35-115). We parse
  * the same dialect subset with a small hand parser (the constraint
  * grammar isn't in Spark's DDL parser) and register an empty canonical
  * table in the catalog.
  *
  * Beyond the reference: any read-only SELECT can run against the
  * catalog through Spark SQL — every named table is registered as a temp
  * view over its chunk scan, so the whole Spark SQL surface applies to
  * memoized canonical tables.
  */
object GraftSql {

  final case class CreateTable(name: String, schema: StructType,
      keyCols: Seq[String])

  /** Type names accepted by the reference (SQL/Schema.hs:59-76). */
  private val typeNames: Map[String, DataType] = Map(
    "smallint" -> ShortType, "int2" -> ShortType, "int16" -> ShortType,
    "integer" -> IntegerType, "int" -> IntegerType, "int4" -> IntegerType,
    "int32" -> IntegerType,
    "bigint" -> LongType, "int8" -> LongType, "int64" -> LongType,
    "real" -> FloatType, "float4" -> FloatType,
    "double precision" -> DoubleType, "float8" -> DoubleType,
    "bytes" -> BinaryType, "bytea" -> BinaryType,
    "text" -> StringType, "varchar" -> StringType,
    // natural Spark extensions beyond the reference surface
    "date" -> DateType, "timestamp" -> TimestampType,
    "boolean" -> BooleanType)

  final class SqlException(msg: String) extends RuntimeException(msg)

  /** Parse `CREATE TABLE name ( col type [constraints], ... )`.
    * PRIMARY KEY columns become key columns (declaration order); NOT NULL
    * absent ⇒ nullable (the reference's Maybe wrapping); DEFAULT and
    * table-level constraints are rejected like the reference
    * (SQL/Schema.hs:49-57,124-132). */
  def parseCreateTable(sqlText: String): CreateTable = {
    val norm = sqlText.trim.stripSuffix(";")
    val re = ("""(?is)^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?""" +
      """("?[\w.]+"?)\s*\((.*)\)\s*$""").r
    norm match {
      case re(rawName, body) =>
        val name = rawName.stripPrefix("\"").stripSuffix("\"")
        val cols = splitTopLevel(body).map(_.trim).filter(_.nonEmpty)
        if (cols.exists(c => c.toLowerCase.matches(
            "^(primary\\s+key|unique|check|constraint|foreign\\s+key).*")))
          throw new SqlException("table-level constraints are not supported")
        val fields = cols.map(parseColumn)
        val keyCols = fields.filter(_._3).map(_._1.name)
        if (keyCols.isEmpty)
          throw new SqlException("at least one PRIMARY KEY column required")
        CreateTable(name, StructType(fields.map(_._1)), keyCols)
      case _ => throw new SqlException(s"unsupported statement: $sqlText")
    }
  }

  // \b: only the exact type names — "decimalish" must not prefix-match
  // and leak its residue into constraint parsing
  private val decimalRe =
    """^(?:decimal|numeric)\b\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?""".r

  /** (field, notNull, isKey) */
  private def parseColumn(s: String): (StructField, Boolean, Boolean) = {
    if (s.toLowerCase.contains("default"))
      throw new SqlException(s"DEFAULT is not supported: $s")
    val parts = s.split("\\s+").toList
    val name = parts.head.stripPrefix("\"").stripSuffix("\"")
    val rest = parts.tail.mkString(" ").toLowerCase
    // decimal/numeric carry (precision[, scale]) parameters
    val decimalMatch = decimalRe.findFirstMatchIn(rest).map { m =>
      val p = Option(m.group(1)).map(_.toInt).getOrElse(10)
      val sc = Option(m.group(2)).map(_.toInt).getOrElse(0)
      if (p < 1 || p > 38 || sc < 0 || sc > p)
        throw new SqlException(s"unsupported decimal precision/scale in: $s")
      (m.matched, DecimalType(p, sc))
    }
    // longest matching type name ("double precision" before "double")
    val (tyName, dt) = decimalMatch.getOrElse(
      typeNames.toSeq.sortBy(-_._1.length)
        .find { case (t, _) => rest.startsWith(t) }
        .getOrElse(throw new SqlException(s"unsupported type in: $s")))
    val constraints = rest.drop(tyName.length).trim
    val isKey = constraints.contains("primary key")
    val notNull = constraints.contains("not null") || isKey
    constraints.replace("primary key", "").replace("not null", "").trim match {
      case "" => ()
      case other => throw new SqlException(s"unsupported constraint: $other")
    }
    (StructField(name, dt, nullable = !notNull), notNull, isKey)
  }

  /** Split on top-level commas — outside parens AND outside quoted
    * strings/identifiers, so a literal `'a,b'` cannot break a SET list
    * or column list apart. */
  private[sql] def splitTopLevel(s: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        cur += c
        if (quote != '`' && c == '\\' && i + 1 < s.length) {
          cur += s.charAt(i + 1); i += 1
        } else if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '(' => depth += 1; cur += '('
        case ')' => depth -= 1; cur += ')'
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.result()
  }

  /** Split at top-level (outside quotes and parens), case-insensitive,
    * whole-word occurrences of `word` — the quote-aware replacement for
    * bare `\s+and\s+` / `\s+where\s+` regex splits, which a string
    * literal containing " and "/" where " would defeat. */
  private[sql] def splitOnKeyword(s: String, word: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var depth = 0
    var i = 0
    val n = s.length
    val w = word.length
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      val c = s.charAt(i)
      if (quote != 0) {
        cur += c
        if (quote != '`' && c == '\\' && i + 1 < n) { cur += s.charAt(i + 1); i += 1 }
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"' || c == '`') { quote = c; cur += c }
      else if (c == '(') { depth += 1; cur += c }
      else if (c == ')') { depth -= 1; cur += c }
      else if (depth == 0 && i + w <= n &&
          s.regionMatches(true, i, word, 0, w) &&
          (i == 0 || !isWordChar(s.charAt(i - 1))) &&
          (i + w == n || !isWordChar(s.charAt(i + w)))) {
        out += cur.toString; cur.clear(); i += w - 1
      } else cur += c
      i += 1
    }
    out += cur.toString
    out.result()
  }

  private val insertRe =
    """(?is)^\s*insert\s+into\s+("?[\w.]+"?)\s*(?:\(([^()]*)\)\s*)?((?:select|values|with|table)\b.*)$""".r
  private val ctasRe = ("""(?is)^\s*create\s+table\s+("?[\w.]+"?)\s+""" +
    """primary\s+key\s*\(([^)]*)\)\s+as\s+((?:select|with)\b.*)$""").r
  private val dropRe =
    """(?is)^\s*drop\s+table\s+(?:if\s+exists\s+)?("?[\w.]+"?)\s*;?\s*$""".r
  private val createMvRe =
    """(?is)^\s*create\s+materialized\s+view\s+("?[\w.]+"?)\s+as\s+(.+)$""".r
  private val refreshRe =
    """(?is)^\s*refresh\s+(?:materialized\s+view\s+("?[\w.]+"?)|all)\s*$""".r
  private val dropMvRe =
    """(?is)^\s*drop\s+materialized\s+view\s+(?:if\s+exists\s+)?("?[\w.]+"?)\s*$""".r
  private val createIdxRe =
    """(?is)^\s*create\s+index\s+("?[\w.]+"?)\s+on\s+("?[\w.]+"?)\s*\(([^)]*)\)\s*$""".r
  private val dropIdxRe =
    """(?is)^\s*drop\s+index\s+(?:if\s+exists\s+)?("?[\w.]+"?)\s*$""".r
  private val copyToRe =
    """(?is)^\s*copy\s+("?[\w.]+"?)\s+to\s+'([^']+)'(?:\s*\(\s*format\s+'?(\w+)'?\s*\))?\s*$""".r
  private val copyFromRe =
    """(?is)^\s*copy\s+("?[\w.]+"?)\s+from\s+'([^']+)'(?:\s*\(\s*format\s+'?(\w+)'?\s*\))?\s*$""".r
  private val deleteRe =
    """(?is)^\s*delete\s+from\s+("?[\w.]+"?)\s+where\s+(.+?)\s*;?\s*$""".r
  // captures the whole SET...WHERE tail; the quote-aware splitOnKeyword
  // separates SET list from WHERE so literals containing " where " parse
  private val updateRe =
    """(?is)^\s*update\s+("?[\w.]+"?)\s+set\s+(.+?)\s*;?\s*$""".r
  private val assignRe = """(?s)^\s*("?\w+"?)\s*=\s*(.+?)\s*$""".r
  private val alterRe = ("""(?is)^\s*alter\s+table\s+("?[\w.]+"?)\s+""" +
    """(add|drop|rename)\s+column\s+(.+?)\s*$""").r
  private val renameTailRe = """(?is)^("?\w+"?)\s+to\s+("?\w+"?)$""".r
  private val showVersionsRe =
    """(?is)^\s*show\s+versions\s*(?:limit\s+(\d+))?\s*$""".r
  private val showTablesRe = """(?is)^\s*show\s+tables\s*$""".r
  private val showCreateRe =
    """(?is)^\s*show\s+create\s+table\s+("?[\w.]+"?)\s*$""".r
  private val showIndexesRe = """(?is)^\s*show\s+indexes\s*$""".r
  private val showMvRe = """(?is)^\s*show\s+materialized\s+views\s*$""".r
  private val describeRe =
    """(?is)^\s*desc(?:ribe)?\s+(?:table\s+)?("?[\w.]+"?)\s*$""".r
  private val vacuumRe =
    """(?is)^\s*vacuum\s*(?:keep\s+(\d+)|prune\s+history)?\s*$""".r
  private val restoreRe = ("""(?is)^\s*restore\s+table\s+("?[\w.]+"?)\s+""" +
    """version\s+as\s+of\s+'([0-9a-f]+)'\s*$""").r
  private val checkoutRe = """(?is)^\s*checkout\s+'([0-9a-f]+)'\s*$""".r
  private val cloneRe = ("""(?is)^\s*clone\s+table\s+("?[\w.]+"?)\s+as\s+("?[\w.]+"?)""" +
    """(?:\s+version\s+as\s+of\s+'([0-9a-f]+)')?\s*$""").r

  private def unquote(s: String): String =
    s.stripPrefix("\"").stripSuffix("\"")

  /** Split a script into statements on top-level semicolons. Quoted
    * strings / double-quoted identifiers, backslash escapes inside
    * single-quoted literals (Spark's escaping), and `--` line comments
    * are all respected — the reference tool accepts N statements per
    * invocation. */
  def splitStatements(script: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (quote != 0) {
        cur += c
        // Spark treats BOTH quote styles as string literals with
        // backslash escaping, so honor \x inside either. Backtick
        // identifiers have NO backslash escaping (`` is the escape).
        if (quote != '`' && c == '\\' && i + 1 < script.length) {
          cur += script.charAt(i + 1); i += 1 // escaped char stays literal
        } else if (c == quote) quote = 0
      } else if (c == '-' && i + 1 < script.length && script.charAt(i + 1) == '-') {
        while (i < script.length && script.charAt(i) != '\n') i += 1
        cur += '\n'
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case ';' => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Execute a statement. Write statements mutate the catalog (each
    * produces a new root) and return Right(newRootHash); reads run as
    * Spark SQL over the catalog's tables registered as temp views and
    * return Left(df) — the runRepoStatement/runRepoQuery split
    * (Repo.hs:120-130).
    *
    * Beyond the reference's CREATE TABLE (O26/O27):
    *  - `INSERT INTO t [(col, ...)] <query>` — the query result upserts
    *    into t through the memoized merge (last-wins per PK), the
    *    import-csv merge path (O31) exposed as SQL. With a column list,
    *    query output binds positionally to the listed columns (unlisted
    *    value columns are filled with NULL; unlisted key columns are an
    *    error). Without one, columns align by name
    *    (case-insensitive) when they all match; otherwise BY POSITION
    *    against the table's DECLARED column order (the CREATE TABLE
    *    declaration, preserved in the catalog).
    *  - `CREATE TABLE t PRIMARY KEY (k, ...) AS <select>` — CTAS with an
    *    explicit key clause (our tables are keyed maps, so a PK is
    *    mandatory — dialect extension).
    *  - `DROP TABLE [IF EXISTS] t`.
    *  - `DELETE FROM t WHERE <cond>` — leading-key-column ranges take the
    *    O(edge-chunks) incremental deleteRange; other predicates rebuild
    *    the table from the kept rows.
    *  - `UPDATE t SET c = e, ... [WHERE <cond>]` — a leading-key range
    *    (not touching key columns) reads ONLY the affected chunk range,
    *    rewrites those rows, and upserts them back through the memoized
    *    merge — O(range), not O(table); key-column assignments and
    *    general predicates rebuild.
    *  - Time travel over the git-like root history: `SHOW VERSIONS
    *    [LIMIT n]` (the chain, newest first), `RESTORE TABLE t VERSION
    *    AS OF '<root>'` (an old table version becomes current via a NEW
    *    root — history preserved, content addressing makes it a pointer
    *    copy), `CHECKOUT '<root>'` (move the whole pointer; the
    *    abandoned chain stays reachable by hash).
    */
  /** Cap on the PRODUCT of per-position IN-list candidates an index
    * probe may carry — above it the candidate space is combinatorial
    * and the probe is skipped at plan time (the scan path is the better
    * bet before any index read happens). */
  val MaxProbeFanout: Long = 4096L

  /** Tool-installable per-statement probe: called once per executed
    * top-level statement with (statement text, wall seconds). Installed
    * by [[graft.Bench]] while timing the statement-flow queries so the
    * bench artifact carries per-STATEMENT wall + job counts — the
    * sql_dml driver-vs-local adjudication needs to name the slow
    * statement, not just the slow query. Also fires for the transaction
    * control statements via [[SqlSession.execute]]. Never set in
    * production use; a None check is the only cost. */
  @volatile private[graft] var stmtProbe: Option[(String, Double) => Unit] = None

  def execute(spark: SparkSession, ops: Ops, catalog: Catalog,
      sqlText: String): Either[DataFrame, String] = {
    val probe = stmtProbe
    statementLock(spark).synchronized {
      if (probe.isEmpty) executeImpl(spark, ops, catalog, sqlText)
      else {
        val t0 = System.nanoTime()
        try executeImpl(spark, ops, catalog, sqlText)
        finally probe.foreach(_(sqlText, (System.nanoTime() - t0) / 1e9))
      }
    }
  }

  /** One statement at a time per SparkSession. A statement registers
    * the tables it names as temp views of its SparkSession, which every
    * thread on that session shares, and resolves them as it analyzes
    * its plans; a concurrent statement re-registering a name in between
    * — another transaction's branch, at another version — would make it
    * read that version (a lost update under optimistic transactions).
    * A SELECT's frame is analyzed, its views resolved, before the lock
    * is released; it runs outside it. */
  private def statementLock(spark: SparkSession): AnyRef =
    statementLocks.computeIfAbsent(spark, _ => new AnyRef)
  private val statementLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, AnyRef]())

  private def executeImpl(spark: SparkSession, ops: Ops, catalog: Catalog,
      sqlText: String): Either[DataFrame, String] = {
    // temp views for only the catalog tables `text` names
    def registerViews(text: String): Unit =
      registerTableViews(spark, ops, catalog, namedIdentifiers(text))
    // the DML target alone: its predicate's tables are registered already
    def registerTarget(name: String): Unit =
      registerTableViews(spark, ops, catalog, Some(Set(name)))
    sqlText.trim.stripSuffix(";") match {
      case ctasRe(rawName, keys, query) =>
        registerViews(query)
        val name = unquote(rawName)
        val keyCols = keys.split(",").map(k => unquote(k.trim)).toSeq
        val df = spark.sql(rewriteReads(spark, ops, catalog, query))
        keyCols.foreach { k =>
          if (!df.columns.contains(k))
            throw new SqlException(s"PRIMARY KEY column $k not in query output")
        }
        // a row-local CTAS over one bounded leaf (graft scan, cached
        // relation, small parquet) is metadata-sized → one-job driver
        // materialization; anything unbounded takes the job chain
        val (rb, bb) = org.apache.spark.sql.GraftBridge.rowLocalScanBounds(df,
          ops.routes.driverMaxBytes)
        Right(catalog.put(name, ops.fromDataFrameBounded(df, keyCols,
          graft.core.FoldSpec.FoldLast, rb, bb),
          declared = Some(df.columns.toSeq)))
      case insertRe(rawName, colList, query) =>
        registerViews(query)
        val name = unquote(rawName)
        val entry = catalog.root.getOrElse(name,
          throw new SqlException(s"no such table: $name"))
        val schema = DataType.fromJson(entry.schemaJson).asInstanceOf[StructType]
        val raw = spark.sql(rewriteReads(spark, ops, catalog, query))
        val aligned = if (colList != null) {
          // explicit column list: bind query output positionally to the
          // listed columns; unlisted nullable columns are NULL-filled
          val listed = colList.split(",").map(c => unquote(c.trim)).toSeq
          val resolved = listed.map { c =>
            schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
              throw new SqlException(s"INSERT column $c not in table $name"))
          }
          if (resolved.distinct.length != resolved.length)
            throw new SqlException(s"duplicate column in INSERT column list")
          if (raw.columns.length != resolved.length)
            throw new SqlException(
              s"INSERT arity ${raw.columns.length} != column list arity ${resolved.length}")
          val bound = raw.toDF(resolved: _*)
          // canonical schemas keep only key columns non-nullable
          // (Canonical.normalizeSchema), so that is the omission gate
          schema.fields.filterNot(f => resolved.contains(f.name)).foreach { f =>
            if (!f.nullable) throw new SqlException(
              s"INSERT column list omits non-nullable column ${f.name}")
          }
          bound.select(schema.fieldNames.map { f =>
            if (resolved.contains(f)) org.apache.spark.sql.functions.col(f)
            else org.apache.spark.sql.functions.lit(null).as(f)
          }: _*)
        } else {
          if (raw.columns.length != schema.length)
            throw new SqlException(
              s"INSERT arity ${raw.columns.length} != table arity ${schema.length}")
          // by-name alignment is decided case-insensitively (matching
          // Spark's own resolver) so a differently-cased alias cannot
          // silently demote the insert to positional order
          val rawLower = raw.columns.map(_.toLowerCase)
          val byName = rawLower.distinct.length == raw.columns.length &&
            rawLower.toSet == schema.fieldNames.map(_.toLowerCase).toSet
          if (byName)
            raw.select(schema.fieldNames.map(f =>
              raw.col(raw.columns(rawLower.indexOf(f.toLowerCase))).as(f)): _*)
          else {
            // positional: bind to the DECLARED (CREATE TABLE) order, not
            // the canonical keys-first order — two same-typed adjacent
            // columns would otherwise swap silently
            val bound = raw.toDF(entry.declaredCols: _*)
            bound.select(schema.fieldNames.map(bound.col): _*)
          }
        }
        val casted = aligned.select(schema.fields.map(f =>
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
        val guarded = guardNotNull(casted, entry, name)
        // VALUES-only inserts (point writes) take the ZERO-JOB driver
        // patch: the literal rows collect locally (a LocalRelation —
        // no Spark job), fold last-wins per key (the same collision
        // rule as the upsert merge), and splice into the table through
        // Ops.patchTable — point-INSERT latency in milliseconds.
        // Results hash-converge with the merge path (pinned in
        // PatchTableSpec / SqlAndSourcesSpec).
        val isValues = ops.routes.pointDml &&
          query.trim.toLowerCase.startsWith("values")
        val merged =
          if (isValues) {
            val rows = org.apache.spark.sql.GraftBridge.localRelationRows(guarded)
              .getOrElse(guarded.collect()).toSeq
            if (rows.length <= graft.core.Ops.PatchMaxDeltaRows) {
              val kEnc = graft.core.KeyCodec.rowEncoder(schema, entry.keyCols)
              val lastWins = rows.zipWithIndex
                .groupBy { case (r, _) => graft.core.Hashing.hex(kEnc(r)) }
                .values.map(_.maxBy(_._2)._1).toSeq
              ops.patchTable(graft.core.TableRef(entry.tableHash), lastWins, Nil)
            } else {
              val delta = ops.fromDataFrame(guarded, entry.keyCols)
              ops.upsert(graft.core.TableRef(entry.tableHash), delta)
            }
          } else {
            // a row-local SELECT over one graft scan (the common
            // `INSERT INTO t SELECT ... FROM t WHERE ...` delta shape)
            // has known size bounds — a byte-admitted delta collects
            // ONCE and splices through the driver patch (one job total:
            // delta build + merge fused); above the budget, or when the
            // delta's keys scatter over more than half the chunks, the
            // delta materializes and merges through the job chain
            val (rb, bb) = org.apache.spark.sql.GraftBridge
              .rowLocalScanBounds(guarded, ops.routes.driverMaxBytes)
            val ref = graft.core.TableRef(entry.tableHash)
            deltaViaPatch(ops, schema, entry, ref, guarded, rb, bb)
              .getOrElse {
                val delta = ops.fromDataFrameBounded(guarded, entry.keyCols,
                  graft.core.FoldSpec.FoldLast, rb, bb)
                ops.upsert(ref, delta)
              }
          }
        Right(catalog.put(name, merged))
      case deleteRe(rawName, cond) =>
        // `DELETE FROM t WHERE <cond>`: a conjunction of comparisons on
        // the LEADING key column maps to the engine's incremental
        // deleteRange (metadata + at most two edge-chunk rewrites, all
        // memoized); any other predicate falls back to a full
        // filter-and-rebuild — correct, but O(table), like any
        // non-key-aligned delete must be
        val name = unquote(rawName)
        val entry = catalog.root.getOrElse(name,
          throw new SqlException(s"no such table: $name"))
        val schema = DataType.fromJson(entry.schemaJson).asInstanceOf[StructType]
        val ref = graft.core.TableRef(entry.tableHash)
        // a subquery in the predicate reads its tables' current versions
        registerViews(cond)
        // POINT deletes (full-PK equality, or a PK IN-list): literal
        // keys need no expression evaluation, so they splice through
        // the zero-job driver patch — millisecond point-DML latency.
        // Hash-converges with the range/rebuild paths (patch
        // convergence is pinned in PatchTableSpec). A SCATTERED
        // IN-list (keys spraying over more than half the chunks) is
        // cheaper as one range/transform pass than run-by-run
        // splicing, so the patch is profitability-bounded — the same
        // guard the view-refresh path uses; on decline we fall through
        // to the range/transform/rebuild chain below.
        val pointPatched: Option[graft.core.TableRef] =
          (if (ops.routes.pointDml)
            parseKeyPoints(spark, schema, entry.keyCols, cond) else None) match {
            case Some(keys) if keys.nonEmpty && keys.length <= 10000 =>
              val bound = math.max(8, ops.meta(ref).chunks.length / 2)
              ops.patchTableBounded(ref, Nil, keys, Some(bound))
            case _ => None
          }
        val out = pointPatched match {
          case Some(patched) => patched
          case None => parseKeyRange(spark, schema, entry.keyCols, cond) match {
          case Some((lo, hi)) => ops.deleteRange(ref, lo, hi)
          case None =>
            // row-local predicate → key-preserving per-chunk transform:
            // memoized per chunk, and zone maps pass provably-unaffected
            // chunks through VERBATIM (the output shares their objects —
            // structural sharing survives non-key DML). Predicates that
            // aren't row-local (subqueries, other tables) or aren't
            // deterministic fall back to filter-and-rebuild.
            deleteByTransform(spark, ops, schema, entry.keyCols, ref, cond)
              .getOrElse {
                registerTarget(name)
                val keep = spark.sql(
                  s"SELECT * FROM `$name` WHERE NOT coalesce(($cond), false)")
                ops.fromDataFrame(keep, entry.keyCols)
              }
          }
        }
        // no-op deletes must not mint empty commits (same rule as Views)
        if (out == ref)
          Right(ops.store.currentRootHash.getOrElse(
            throw new SqlException("no catalog root")))
        else Right(catalog.put(name, out))
      case updateRe(rawName, setTail) =>
        // `UPDATE t SET c = e, ... [WHERE cond]`: when cond is a leading-
        // key range and no key column is assigned, only the affected
        // chunk range is read (rangeFilter prunes by chunk metadata),
        // rewritten row-locally, and upserted back — the merge rewrites
        // only the touched regions. Everything else (key reassignment,
        // general predicates, expressions needing other tables) takes the
        // correct full rebuild.
        val name = unquote(rawName)
        val entry = catalog.root.getOrElse(name,
          throw new SqlException(s"no such table: $name"))
        val schema = DataType.fromJson(entry.schemaJson).asInstanceOf[StructType]
        val ref = graft.core.TableRef(entry.tableHash)
        // a subquery in SET or WHERE reads its tables' current versions
        registerViews(setTail)
        val whereParts = splitOnKeyword(setTail, "where")
        val setList = whereParts.head
        val cond: String =
          if (whereParts.length == 1) null
          else if (whereParts.length == 2) whereParts(1).trim
          else throw new SqlException(s"multiple top-level WHERE in: $setTail")
        val assigns: Seq[(String, String)] = splitTopLevel(setList).map {
          case assignRe(c, e) =>
            val colName = unquote(c)
            val resolved = schema.fieldNames.find(_.equalsIgnoreCase(colName))
              .getOrElse(throw new SqlException(
                s"UPDATE column $colName not in table $name"))
            resolved -> e
          case other => throw new SqlException(s"bad SET clause: $other")
        }
        if (assigns.map(_._1).distinct.length != assigns.length)
          throw new SqlException("duplicate column in SET")
        val sets = assigns.toMap
        val touchesKey = assigns.exists { case (c, _) =>
          entry.keyCols.exists(_.equalsIgnoreCase(c)) }
        def qid(c: String) = s"`$c`"
        def rebuild(): graft.core.TableRef = {
          registerTarget(name)
          val whereSql = Option(cond).getOrElse("true")
          val proj = schema.fields.map { f =>
            sets.get(f.name) match {
              case Some(e) =>
                s"CASE WHEN coalesce(($whereSql), false) THEN " +
                  s"CAST(($e) AS ${f.dataType.sql}) ELSE ${qid(f.name)} END AS ${qid(f.name)}"
              case None => qid(f.name)
            }
          }
          ops.fromDataFrame(guardNotNull(
            spark.sql(s"SELECT ${proj.mkString(", ")} FROM ${qid(name)}"),
            entry, name), entry.keyCols)
        }
        val out =
          if (touchesKey || cond == null) rebuild()
          // POINT updates (full-PK equality / PK IN-list): read the
          // addressed rows driver-side, evaluate the SET projection on
          // a LocalRelation (collect on a local plan runs no job), and
          // splice back through the point patch — the zero-job
          // point-DML triad completed (INSERT VALUES, point DELETE,
          // point UPDATE). Falls back on any surprise.
          else (if (ops.routes.pointDml)
              parseKeyPoints(spark, schema, entry.keyCols, cond) else None)
            .filter(ks => ks.nonEmpty && ks.lengthCompare(1000) <= 0)
            .flatMap(ks => updateDriver(spark, ops, schema, entry, name,
              ref, ops.readKeysDriver(ref, ks), sets))
            .getOrElse(parseKeyRange(spark, schema, entry.keyCols, cond) match {
            case Some((lo, hi)) =>
              // ZERO-JOB range UPDATE first (the point update's
              // driver route over a key range): byte-admitted range rows read driver-side,
              // SET evaluated on a LocalRelation, spliced through the
              // patch — no rangeFilter materialization, no collect job.
              // None (over-cap range, non-row-local
              // SET, any read surprise) falls through to the
              // range-scan + delta-patch chain below.
              (if (ops.routes.pointDml)
                updateDriver(spark, ops, schema, entry, name, ref,
                  ops.readRangeDriver(ref, lo, hi), sets)
              else None).getOrElse(try {
                val rf = ops.rangeFilter(ref, lo, hi)
                val rows = ops.scan(rf)
                val updated = rows.selectExpr(schema.fieldNames.map { f =>
                  sets.get(f)
                    .map(e => s"CAST(($e) AS ${schema(f).dataType.sql}) AS ${qid(f)}")
                    .getOrElse(qid(f))
                }.toIndexedSeq: _*)
                // the range-filter result is EXACT (not a chunk-pruned
                // approximation), so emptiness is its metadata — the
                // former `updated.isEmpty` ran a whole Spark job (plan
                // compile included) to learn a row count the chunk list
                // already holds
                if (ops.meta(rf).chunks.isEmpty) ref
                else {
                  // the delta is a row-local projection of the range's
                  // chunks — its size bounds are chunk metadata. A
                  // byte-admitted range collects once and splices
                  // through the driver patch (keys unchanged by
                  // contract, so the touched runs ARE the range's);
                  // otherwise the one-job driver materialization + merge
                  val (rb, bb) = ops.sizeHints(rf)
                  val g = guardNotNull(updated, entry, name)
                  deltaViaPatch(ops, schema, entry, ref, g, rb, bb)
                    .getOrElse(ops.upsert(ref, ops.fromDataFrameBounded(
                      g, entry.keyCols,
                      graft.core.FoldSpec.FoldLast, rb, bb)))
                }
              } catch {
                // SET expression needs more than row-local columns
                // (subquery, other table): the rebuild path registers
                // the views the statement names and handles it
                case _: org.apache.spark.sql.AnalysisException => rebuild()
              })
            case None =>
              // non-key predicate, row-local SETs → per-chunk transform
              // with zone-map passthrough of provably-unaffected chunks
              updateByTransform(spark, ops, schema, entry.keyCols, ref,
                sets, cond, entry.notNull).getOrElse(rebuild())
          })
        if (out == ref)
          Right(ops.store.currentRootHash.getOrElse(
            throw new SqlException("no catalog root")))
        else Right(catalog.put(name, out))
      case createMvRe(rawName, select) =>
        // `CREATE MATERIALIZED VIEW v AS <select>` (O24/Views): lower the
        // SELECT onto the incremental view algebra, materialize the first
        // version, and persist the defining SQL in the root — REFRESH in
        // any later session re-lowers it (SqlViews)
        val name = unquote(rawName)
        if (catalog.root.contains(name) && !catalog.viewDefs.contains(name))
          throw new SqlException(s"table $name already exists")
        val views = SqlViews.fromCatalog(ops, catalog)
        SqlViews.declare(views, ops, catalog, name, select)
        views.refresh(name)
        Right(catalog.putViewDef(name, select.trim))
      case refreshRe(rawName) =>
        // `REFRESH MATERIALIZED VIEW v` / `REFRESH ALL`: memoized — an
        // unchanged source is a whole-op memo hit (zero jobs), a delta
        // recomputes only its chunk region; ALL runs in dependency order
        val views = SqlViews.fromCatalog(ops, catalog)
        if (rawName == null) views.refreshAll()
        else {
          val name = unquote(rawName)
          if (!catalog.viewDefs.contains(name))
            throw new SqlException(s"no such materialized view: $name")
          views.refresh(name)
        }
        Right(ops.store.currentRootHash.getOrElse(
          throw new SqlException("no catalog root")))
      case copyToRe(rawName, path, fmtRaw) =>
        // `COPY t TO '<path>' (FORMAT csv|json|parquet)` — distributed
        // ordered export (O32/O33 as a SQL statement). The path becomes
        // a directory of part files, the Spark-native shape that scales
        // to any table size; format defaults from the path extension.
        val name = unquote(rawName)
        val ref = catalog.get(name).getOrElse(
          throw new SqlException(s"no such table: $name"))
        val df = ops.scanOrdered(ref)
        // text formats render binary columns as lowercase hex
        // (Table/Bytes.hs:16-28 parity); parquet keeps them native
        copyFormat(path, fmtRaw) match {
          case "csv" =>
            graft.sources.Hex.encode(df).write.mode("overwrite")
              .option("header", "true").csv(path)
          case "json" =>
            graft.sources.Hex.encode(df).write.mode("overwrite").json(path)
          case "parquet" => df.write.mode("overwrite").parquet(path)
          case "orc" => df.write.mode("overwrite").orc(path)
          case other => throw new SqlException(s"unsupported COPY format: $other")
        }
        Right(ops.store.currentRootHash.getOrElse(
          throw new SqlException("no catalog root")))
      case copyFromRe(rawName, path, fmtRaw) =>
        // `COPY t FROM '<path>' (FORMAT …)` — merge-in import (O31 as a
        // SQL statement): columns matched BY NAME against the existing
        // table's schema, rows upserted through the memoized merge. The
        // table must exist (CREATE TABLE binds the key first) — the
        // import is a delta, so repeated COPY FROM converges instead of
        // duplicating.
        val name = unquote(rawName)
        val entry = catalog.root.getOrElse(name,
          throw new SqlException(
            s"no such table: $name (COPY FROM merges into an existing table)"))
        val schema = DataType.fromJson(entry.schemaJson).asInstanceOf[StructType]
        val df = copyFormat(path, fmtRaw) match {
          case "csv" => graft.sources.Csv.readNameMatched(spark, path, schema)
          case "json" => graft.sources.Json.readNameMatched(spark, path, schema)
          case fmt @ ("parquet" | "orc") =>
            val raw = if (fmt == "orc") spark.read.orc(path)
              else spark.read.parquet(path)
            val missing = schema.fieldNames.filterNot(raw.columns.contains)
            if (missing.nonEmpty) throw new SqlException(
              s"$fmt at $path is missing required columns: ${missing.mkString(", ")}")
            raw.select(schema.fields.toSeq.map(f =>
              org.apache.spark.sql.functions.col(f.name)
                .cast(f.dataType).as(f.name)): _*)
          case other => throw new SqlException(s"unsupported COPY format: $other")
        }
        val ref = graft.core.TableRef(entry.tableHash)
        Right(catalog.put(name,
          ops.upsert(ref,
            ops.fromDataFrame(guardNotNull(df, entry, name), entry.keyCols))))
      case createIdxRe(rawIdx, rawTable, colList) =>
        // `CREATE INDEX idx ON t (cols)` — a key-only secondary index as
        // a re-keying materialized view (SqlIndex): content-addressed,
        // versioned, replicated, and maintained O(delta) by the memoized
        // rekey. The definition persists in the root like any view.
        val idx = unquote(rawIdx)
        val table = unquote(rawTable)
        val cols = colList.split(",").map(c => unquote(c.trim)).toSeq.filter(_.nonEmpty)
        if (catalog.root.contains(idx) && !catalog.viewDefs.contains(idx))
          throw new SqlException(s"table $idx already exists")
        val ivs = SqlViews.fromCatalog(ops, catalog)
        val markerSql = SqlIndex.marker(table, cols)
        SqlIndex.declare(ivs, catalog, idx, markerSql)
        ivs.refresh(idx)
        Right(catalog.putViewDef(idx, markerSql))
      case dropIdxRe(rawName) =>
        val name = unquote(rawName)
        if (!catalog.viewDefs.get(name).exists(SqlIndex.isIndexDef))
          throw new SqlException(s"no such index: $name")
        Right(catalog.dropViewDef(name))
      case dropMvRe(rawName) =>
        val name = unquote(rawName)
        // a HAVING/AVG view owns an internal aggregate-stage table and
        // an INNER/LEFT join view a presence-marked join stage
        // (SqlViews.innerStageNames); they live and die with the
        // definition
        val inners = catalog.viewDefs.get(name).toSeq
          .flatMap(sql => SqlViews.innerStageNames(name, sql))
        Right(catalog.statementFull(
          ts => inners.foldLeft(ts - name)(_ - _),
          vs => vs - name))
      case dropRe(rawName) =>
        Right(catalog.drop(unquote(rawName)))
      case alterRe(rawName, verb, tail) =>
        // `ALTER TABLE t ADD|DROP|RENAME COLUMN ...`: schema evolution as
        // a KEY-PRESERVING transform — per-chunk memoized, one grouped
        // rewrite job (schema is part of content identity, so chunk
        // files must rewrite ONCE; chunk boundaries depend only on key
        // VALUES and stay put, and a replayed ALTER is a pure memo hit).
        // The reference has no ALTER at all; this is a dialect extension.
        val name = unquote(rawName)
        val entry = catalog.root.getOrElse(name,
          throw new SqlException(s"no such table: $name"))
        if (catalog.viewDefs.contains(name))
          throw new SqlException(
            s"$name is a materialized view: change its defining SELECT instead")
        val schema = DataType.fromJson(entry.schemaJson).asInstanceOf[StructType]
        val ref = graft.core.TableRef(entry.tableHash)
        import org.apache.spark.sql.functions.{col, lit}
        def resolve(raw: String): String = {
          val c = unquote(raw.trim)
          schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new SqlException(s"column $c not in table $name"))
        }
        val (transform, newDeclared) = verb.toLowerCase match {
          case "add" =>
            val (field, notNull, isKey) = parseColumn(tail)
            if (isKey) throw new SqlException(
              "cannot ADD a PRIMARY KEY column: the key set is the table's identity")
            if (notNull) throw new SqlException(
              "added column must be nullable (there is no DEFAULT to fill it)")
            if (schema.fieldNames.exists(_.equalsIgnoreCase(field.name)))
              throw new SqlException(s"column ${field.name} already exists")
            (graft.core.ColTransform(
              s"sql-alter-add-v1:${field.name}:${field.dataType.json}",
              entry.keyCols,
              schema.fieldNames.toSeq.map(col) :+
                lit(null).cast(field.dataType).as(field.name),
              preservesKeys = true),
              entry.declaredCols :+ field.name)
          case "drop" =>
            val c = resolve(tail)
            if (entry.keyCols.exists(_.equalsIgnoreCase(c)))
              throw new SqlException(s"cannot DROP key column $c")
            (graft.core.ColTransform(s"sql-alter-drop-v1:$c", entry.keyCols,
              schema.fieldNames.toSeq.filterNot(_ == c).map(col),
              preservesKeys = true),
              entry.declaredCols.filterNot(_ == c))
          case "rename" =>
            val (from, to) = tail match {
              case renameTailRe(f, t) => (resolve(f), unquote(t))
              case _ => throw new SqlException(
                s"expected RENAME COLUMN <from> TO <to>, got: $tail")
            }
            if (schema.fieldNames.exists(_.equalsIgnoreCase(to)))
              throw new SqlException(s"column $to already exists")
            // METADATA-ONLY (zero Spark jobs): chunk files are matched by
            // positional parquet field id, so the renamed table keeps the
            // same chunk objects — key columns rename freely too
            val renamed = ops.renameColumns(ref, Map(from -> to))
            return Right(catalog.put(name, renamed, declared =
              Some(entry.declaredCols.map(c => if (c == from) to else c))))
        }
        val out = ops.transform(ref, transform, graft.core.FoldSpec.FoldLast)
        Right(catalog.put(name, out, declared = Some(newDeclared)))
      case showCreateRe(rawName) =>
        // `SHOW CREATE TABLE t`: reconstruct the declaration from the
        // catalog entry — declared column order, canonical type names
        // (O29 inverted), PRIMARY KEY and persisted NOT NULL constraints
        val name = unquote(rawName)
        val entry = catalog.root.getOrElse(name,
          throw new SqlException(s"no such table: $name"))
        val schema = DataType.fromJson(entry.schemaJson).asInstanceOf[StructType]
        def typeName(dt: DataType): String = dt match {
          case ShortType => "smallint"
          case IntegerType => "integer"
          case LongType => "bigint"
          case FloatType => "real"
          case DoubleType => "double precision"
          case BinaryType => "bytes"
          case StringType => "text"
          case DateType => "date"
          case TimestampType => "timestamp"
          case BooleanType => "boolean"
          case d: DecimalType => s"decimal(${d.precision},${d.scale})"
          case other => other.sql.toLowerCase
        }
        val cols = entry.declaredCols.map { c =>
          val f = schema(c)
          val tags = (if (entry.keyCols.contains(c)) " PRIMARY KEY" else "") +
            (if (!entry.keyCols.contains(c) && entry.notNull.contains(c))
              " NOT NULL" else "")
          s"  $c ${typeName(f.dataType)}$tags"
        }
        val ddl = s"CREATE TABLE $name (\n${cols.mkString(",\n")}\n)"
        Left(spark.createDataFrame(
          java.util.List.of(Row(ddl)),
          StructType(Seq(StructField("create_statement", StringType,
            nullable = false)))))
      case showIndexesRe() =>
        // `SHOW INDEXES`: every secondary index with its source table,
        // indexed columns, and materialized size (metadata only)
        val rows = catalog.viewDefs.toSeq.sortBy(_._1)
          .filter { case (_, sql) => SqlIndex.isIndexDef(sql) }
          .map { case (idx, sql) =>
            val (table, cols) = SqlIndex.parse(sql)
            val n = catalog.get(idx)
              .map(r => ops.meta(r).rows).getOrElse(0L)
            Row(idx, table, cols.mkString(","), n)
          }
        Left(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("index", StringType, nullable = false),
            StructField("table", StringType, nullable = false),
            StructField("columns", StringType, nullable = false),
            StructField("rows", LongType, nullable = false)))))
      case showMvRe() =>
        // `SHOW MATERIALIZED VIEWS`: persisted view definitions
        // (indexes excluded — they have SHOW INDEXES)
        val rows = catalog.viewDefs.toSeq.sortBy(_._1)
          .filterNot { case (_, sql) => SqlIndex.isIndexDef(sql) }
          .map { case (v, sql) => Row(v, sql) }
        Left(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("view", StringType, nullable = false),
            StructField("definition", StringType, nullable = false)))))
      case showTablesRe() =>
        // `SHOW TABLES`: names + key columns + size from chunk METADATA
        // (no data read — counts come from the chunk index)
        val rows = catalog.root.toSeq.sortBy(_._1).map { case (name, e) =>
          val m = ops.meta(graft.core.TableRef(e.tableHash))
          Row(name, e.keyCols.mkString(","), m.rows, m.chunks.length.toLong,
            catalog.viewDefs.contains(name))
        }
        val schema = StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("key_cols", StringType, nullable = false),
          StructField("rows", LongType, nullable = false),
          StructField("chunks", LongType, nullable = false),
          StructField("is_view", BooleanType, nullable = false)))
        Left(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema))
      case describeRe(rawName) =>
        // `DESCRIBE [TABLE] t`: columns in DECLARED order with key marks
        val name = unquote(rawName)
        val entry = catalog.root.getOrElse(name,
          throw new SqlException(s"no such table: $name"))
        val s = DataType.fromJson(entry.schemaJson).asInstanceOf[StructType]
        val rows = entry.declaredCols.map { c =>
          val f = s(s.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(c))
          Row(f.name, f.dataType.sql.toLowerCase, f.nullable,
            entry.keyCols.contains(f.name))
        }
        val outSchema = StructType(Seq(
          StructField("column", StringType, nullable = false),
          StructField("type", StringType, nullable = false),
          StructField("nullable", BooleanType, nullable = false),
          StructField("key", BooleanType, nullable = false)))
        Left(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), outSchema))
      case vacuumRe(keepRaw) =>
        // `VACUUM [KEEP n | PRUNE HISTORY]`: mark-and-sweep GC as a SQL
        // statement (snapshot-expiry maintenance). Default keeps every
        // version in the root log (collects only unreachable objects);
        // KEEP n is the retention policy; PRUNE HISTORY keeps only the
        // current root. Mutates the store, mints no root; returns the
        // kept/deleted counts.
        val t = sqlText.trim.toLowerCase
        val keep =
          if (t.contains("prune")) Seq.empty[String]
          else Option(keepRaw) match {
            case Some(n) => catalog.log(n.toInt)
            case None => catalog.log(Int.MaxValue)
          }
        val s = graft.core.Gc.run(ops.store, keep)
        val outSchema = StructType(Seq(
          StructField("kept_roots", LongType, nullable = false),
          StructField("kept_tables", LongType, nullable = false),
          StructField("kept_chunks", LongType, nullable = false),
          StructField("deleted_roots", LongType, nullable = false),
          StructField("deleted_tables", LongType, nullable = false),
          StructField("deleted_chunks", LongType, nullable = false),
          StructField("deleted_memos", LongType, nullable = false)))
        Left(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(
          s.keptRoots.toLong, s.keptTables.toLong, s.keptChunks.toLong,
          s.deletedRoots.toLong, s.deletedTables.toLong,
          s.deletedChunks.toLong, s.deletedMemos.toLong)), 1), outSchema))
      case showVersionsRe(limitRaw) =>
        // `SHOW VERSIONS [LIMIT n]`: the git-like root history, newest
        // first (every statement minted one; old roots stay addressable)
        val limit = Option(limitRaw).map(_.toInt).getOrElse(100)
        val rows = catalog.log(limit).map { h =>
          val tables = catalog.rootAt(h)
          Row(h, catalog.parentOf(h).orNull,
            tables.keys.toSeq.sorted.mkString(","),
            catalog.viewDefsAt(h).keys.toSeq.sorted.mkString(","))
        }
        val schema = StructType(Seq(
          StructField("version", StringType, nullable = false),
          StructField("parent", StringType, nullable = true),
          StructField("tables", StringType, nullable = false),
          StructField("views", StringType, nullable = false)))
        Left(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema))
      case restoreRe(rawName, rootHash) =>
        // `RESTORE TABLE t VERSION AS OF '<root>'`: bring the table's
        // version from an older root back as the CURRENT one — a NEW
        // root records the restore, so history is preserved (the Delta
        // RESTORE shape; content addressing makes it a pointer copy)
        val name = unquote(rawName)
        if (!ops.store.hasRoot(rootHash))
          throw new SqlException(s"no such version: $rootHash")
        val past = catalog.rootAt(rootHash)
        val e = past.getOrElse(name, throw new SqlException(
          s"table $name does not exist in version $rootHash"))
        Right(catalog.put(name, graft.core.TableRef(e.tableHash),
          declared = Some(e.declaredCols)))
      case cloneRe(rawSrc, rawDst, rootHash) =>
        // `CLONE TABLE src AS dst [VERSION AS OF '<root>']`: ZERO-copy —
        // content addressing means a clone is a new catalog entry
        // pointing at the same table hash; no chunk is read or written,
        // and the two tables share every object until DML diverges them
        // (then they share everything but the touched chunks). Cloning a
        // materialized view yields a detached plain table.
        val src = unquote(rawSrc); val dst = unquote(rawDst)
        val entries = Option(rootHash) match {
          case Some(r) =>
            if (!ops.store.hasRoot(r))
              throw new SqlException(s"no such version: $r")
            catalog.rootAt(r)
          case None => catalog.root
        }
        val e = entries.getOrElse(src, throw new SqlException(
          s"no such table: $src" +
            Option(rootHash).map(r => s" in version $r").getOrElse("")))
        if (catalog.root.contains(dst))
          throw new SqlException(s"table already exists: $dst")
        Right(catalog.put(dst, graft.core.TableRef(e.tableHash),
          declared = Some(e.declaredCols)))
      case checkoutRe(rootHash) =>
        // `CHECKOUT '<root>'`: move the whole catalog pointer (tables
        // AND view defs) to an existing version — git checkout; the
        // abandoned chain stays content-addressed and reachable by hash
        if (!ops.store.hasRoot(rootHash))
          throw new SqlException(s"no such version: $rootHash")
        catalog.checkout(rootHash)
        Right(rootHash)
      case t if Merge.matches(t) =>
        Merge.execute(spark, ops, catalog, t, () => registerViews(t))
      case t if t.toLowerCase.startsWith("create table") =>
        val ct = parseCreateTable(sqlText)
        val ref = ops.emptyTable(ct.schema, ct.keyCols)
        // the canonical schema relaxes value columns to nullable; the
        // declared NOT NULL set persists in the catalog entry and the
        // write paths enforce it (guardNotNull)
        val nn = ct.schema.fields
          .filter(f => !f.nullable && !ct.keyCols.contains(f.name))
          .map(_.name).toSeq
        Right(catalog.put(ct.name, ref,
          declared = Some(ct.schema.fieldNames.toSeq), notNull = Some(nn)))
      case _ =>
        registerViews(sqlText)
        Left(spark.sql(rewriteIndexedFrom(spark, ops, catalog,
          rewriteReads(spark, ops, catalog, sqlText))))
    }
  }

  /** Make the catalog tables a statement names readable by Spark SQL.
    * `names` are the identifiers of its text ([[namedIdentifiers]]),
    * widened through each user SQL-text temp view they name to the
    * identifiers of that view's text, since Spark reads the view's
    * tables without the statement naming them. Each root table among
    * them (case-insensitively) is registered as a temp view over its
    * chunk scan. For a name that is no longer a root table (a dropped
    * table or view, or a table of another catalog on the same
    * SparkSession) the SQL layer's stale view is dropped, so Spark
    * reports the table as not found instead of reading an old version;
    * user temp views are never dropped. The widened set is a superset of
    * what the statement reads, so every read sees its table's current
    * version, as when the whole root was registered. None, a text that
    * does not lex to its end, registers the whole root. */
  private def registerTableViews(spark: SparkSession, ops: Ops,
      catalog: Catalog, names: Option[Set[String]]): Unit = {
    import org.apache.spark.sql.GraftBridge
    val root = catalog.root // ONE root load+parse, not one per table
    val rootLower = root.keySet.map(_.toLowerCase)
    val named = scala.collection.mutable.Map.empty[String, String]
    var all = false
    def visit(ns: Option[Set[String]]): Unit = ns match {
      case None => all = true
      case Some(s) => s.foreach { n =>
        val l = n.toLowerCase
        if (!all && !named.contains(l)) {
          named(l) = n
          if (!rootLower.contains(l) && !n.forall(_.isDigit))
            GraftBridge.userViewText(spark, n).foreach(t =>
              visit(namedIdentifiers(t)))
        }
      }
    }
    visit(names)
    root.foreach { case (name, entry) =>
      if (all || named.contains(name.toLowerCase))
        GraftBridge.registerTableView(spark, name,
          ops.scan(graft.core.TableRef(entry.tableHash)))
    }
    if (!all) named.foreach { case (l, n) =>
      if (!rootLower.contains(l) && !n.forall(_.isDigit))
        GraftBridge.dropTableView(spark, n)
    }
  }

  /** The names a statement's text can reference a table by, lexed as
    * Spark's SQL lexer lexes it: each maximal run of word characters
    * outside string literals and comments, plus the whole content of
    * each backtick- or double-quoted token. `'…'` and `"…"` take
    * backslash escapes (the raw `r'…'` and `r"…"` none), a backtick
    * identifier doubles its backtick, `--` runs to the end of the line
    * (a backslash before the newline continues it), `/* … */` nests,
    * and a `/*+ … */` hint is read as text. Keywords, columns and
    * aliases ride along; a superset of the table names is all the
    * caller needs. None when a quote or comment is left open, since the
    * lexing may then have hidden a name. */
  private[sql] def namedIdentifiers(text: String): Option[Set[String]] = {
    val out = Set.newBuilder[String]
    val cur = new StringBuilder
    def flush(): Unit = if (cur.nonEmpty) { out += cur.toString; cur.clear() }
    def at(i: Int, s: String): Boolean = text.startsWith(s, i)
    def comment(i: Int): Boolean = at(i, "/*") && !at(i, "/*+")
    val n = text.length
    var open = false
    var i = 0
    while (i < n && !open) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"') { // string literal or "identifier"
        val raw = cur.toString.equalsIgnoreCase("r") // r'…': the r is no name
        if (raw) cur.clear() else flush()
        i += 1
        while (i < n && text.charAt(i) != c) {
          if (!raw && text.charAt(i) == '\\') i += 1
          if (i < n) { if (c == '"') cur += text.charAt(i); i += 1 }
        }
        open = i >= n
        i += 1
        flush()
      } else if (c == '`') { // quoted identifier: one name
        flush()
        i += 1
        while (i < n && (text.charAt(i) != '`' || at(i + 1, "`"))) {
          if (text.charAt(i) == '`') i += 1 // `` is one `
          cur += text.charAt(i)
          i += 1
        }
        open = i >= n
        i += 1
        flush()
      } else if (at(i, "--")) {
        flush()
        while (i < n && text.charAt(i) != '\n' && text.charAt(i) != '\r')
          i += (if (at(i, "\\\n")) 2 else 1)
      } else if (comment(i)) {
        flush()
        var depth = 0
        do {
          if (comment(i)) { depth += 1; i += 2 }
          else if (at(i, "*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (i < n && depth > 0)
        open = depth > 0
      } else {
        if (c.isLetterOrDigit || c == '_') cur += c else flush()
        i += 1
      }
    }
    flush()
    if (open) None else Some(out.result())
  }

  /** Index acceleration for the plain-SELECT shape `… FROM t WHERE
    * <conjuncts>`: when `t` has a secondary index whose leading
    * column(s) are pinned by equality conjuncts, the table reference is
    * rewritten to a temp view over the index-driven point read
    * ([[SqlIndex.probe]]: refresh-by-memo, chunk-pruned index range
    * scan, then only the table chunks the matching primary keys live
    * in). The WHERE clause stays in the SQL and is re-applied, so the
    * rewrite can only PRUNE IO, never change results; any shape this
    * doesn't recognize (joins, top-level OR, unparseable literals,
    * low-selectivity probes past the key cap) falls back to the plain
    * scan untouched. */
  private def rewriteIndexedFrom(spark: SparkSession, ops: Ops,
      catalog: Catalog, sqlText: String): String = {
    val m = fromWhereRe.findFirstMatchIn(sqlText).getOrElse(return sqlText)
    if (inQuotes(sqlText, m.start)) return sqlText
    val table = unquote(m.group(1))
    val entry = catalog.root.getOrElse(table, return sqlText)
    if (catalog.viewDefs.contains(table)) return sqlText // views refresh explicitly
    val indexes = SqlIndex.indexesOn(catalog, table)
    if (indexes.isEmpty) return sqlText
    // the WHERE expression ends at the first top-level follow-on clause
    val whereExpr = Seq("group", "order", "limit", "having", "window",
      "union", "intersect", "except", "qualify")
      .foldLeft(m.group(2))((acc, kw) => splitOnKeyword(acc, kw).head).trim
    if (splitOnKeyword(whereExpr, "or").length > 1) return sqlText
    val schema = DataType.fromJson(entry.schemaJson).asInstanceOf[StructType]
    def lit(c: String, raw: String): Option[(String, Any)] = {
      val name = unquote(c)
      schema.fields.find(_.name == name)
        .flatMap(f => parseLiteral(spark, f.dataType, raw))
        .map(name -> _)
    }
    val conjuncts = splitConjuncts(whereExpr)
    val eqOf: Map[String, Any] = conjuncts.flatMap {
      case cmpRe(c, "=", raw) => lit(c, raw)
      case _ => None
    }.toMap
    // IN-lists act as multi-value equalities: the probe unions the
    // per-value index reads in ONE scan (col IN (...)), under the same
    // probe-key cap as a single equality
    val inOf: Map[String, Seq[Any]] = conjuncts.flatMap {
      case inListRe(c, vals) =>
        val name = unquote(c)
        schema.fields.find(_.name == name).flatMap { f =>
          val parsed = splitTopLevel(vals)
            .map(v => parseLiteral(spark, f.dataType, v.trim))
          if (parsed.nonEmpty && parsed.forall(_.isDefined))
            Some(name -> parsed.flatten.distinct)
          else None
        }
      case _ => None
    }.toMap
    val valsOf: Map[String, Seq[Any]] =
      inOf ++ eqOf.view.mapValues(Seq(_)).toMap
    // per-column range bounds from </<=/>/>=/BETWEEN conjuncts
    import SqlIndex.RangeBound
    val rangeOf: Map[String, (Option[RangeBound], Option[RangeBound])] =
      conjuncts.flatMap {
        case betweenRe(c, loRaw, hiRaw) =>
          for { (n, lo) <- lit(c, loRaw); (_, hi) <- lit(c, hiRaw) }
            yield (n, Some(RangeBound(lo, true)), Some(RangeBound(hi, true)))
        case cmpRe(c, op, raw) if op != "=" =>
          lit(c, raw).map { case (n, v) => op match {
            case ">" => (n, Some(RangeBound(v, false)), None)
            case ">=" => (n, Some(RangeBound(v, true)), None)
            case "<" => (n, None, Some(RangeBound(v, false)))
            case "<=" => (n, None, Some(RangeBound(v, true)))
          }}
        case _ => None
      }.groupBy(_._1).map { case (n, bs) =>
        // multiple bounds on one column: intersect (any lo, any hi)
        n -> (bs.flatMap(_._2).headOption, bs.flatMap(_._3).headOption)
      }
    // longest satisfied equality/IN prefix wins; a range on the next
    // index column extends the probe; smaller IN fanout, then name,
    // break ties (multi-index choice). The PRODUCT of per-position IN
    // candidates is capped: a combinatorial candidate space means the
    // probe is a bad selectivity bet (and its row cap would only
    // discover that after the scan) — such an index is not considered.
    val best = indexes
      .map { case (n, cols) =>
        val p = cols.takeWhile(valsOf.contains)
        val r = cols.drop(p.length).headOption.flatMap(rangeOf.get)
        val fanout = p.map(c => valsOf(c).length.toLong).product
        (n, cols, p, r, fanout)
      }
      .filter { case (_, _, p, r, fanout) =>
        (p.nonEmpty || r.isDefined) && fanout <= GraftSql.MaxProbeFanout }
      .sortBy { case (n, _, p, r, fanout) => (-p.length, r.isEmpty, fanout, n) }
      .headOption.getOrElse(return sqlText)
    val views = SqlViews.fromCatalog(ops, catalog)
    SqlIndex.probe(spark, ops, catalog, views, table, best._1, best._2,
      best._3.map(valsOf), best._4) match {
      case Some(df) =>
        val view = s"${table}__ix_${best._1}"
        df.createOrReplaceTempView(view)
        // alias the view back to the original table name so qualified
        // references elsewhere in the query (SELECT t.id, GROUP BY
        // t.grp) keep resolving after the rewrite
        sqlText.substring(0, m.start(1)) + s"$view AS $table" +
          sqlText.substring(m.end(1))
      case None => sqlText
    }
  }

  private val fromWhereRe =
    """(?is)\bfrom\s+("?\w+"?)\s+where\s+(.+)$""".r

  /** COPY format: explicit `(FORMAT x)` wins, else the path extension,
    * defaulting to parquet. */
  private def copyFormat(path: String, fmtRaw: String): String =
    Option(fmtRaw).map(_.toLowerCase).getOrElse {
      val p = path.toLowerCase
      if (p.endsWith(".csv")) "csv"
      else if (p.endsWith(".json") || p.endsWith(".jsonl")) "json"
      else if (p.endsWith(".orc")) "orc"
      else "parquet"
    }

  /** Whether position `pos` in `s` falls inside a quoted literal or
    * identifier — guards regex rewrites from touching string content. */
  private def inQuotes(s: String, pos: Int): Boolean = {
    var quote: Char = 0
    var i = 0
    while (i < pos) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (quote != '`' && c == '\\') i += 1
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"' || c == '`') quote = c
      i += 1
    }
    quote != 0
  }

  /** The read-side rewrites every query position gets: `VERSION AS OF`
    * time travel and `CHANGES(...)` feeds — applied to bare SELECTs and
    * to the inner query of CTAS/INSERT alike, so `CREATE TABLE clone
    * ... AS SELECT * FROM t VERSION AS OF '<v>'` (version cloning) and
    * `INSERT INTO replica SELECT ... FROM CHANGES(src, '<v>')` work. */
  private def rewriteReads(spark: SparkSession, ops: Ops,
      catalog: Catalog, sqlText: String): String =
    rewriteVersionAsOf(spark, ops, catalog,
      rewriteChanges(spark, ops, catalog, sqlText))

  private val changesRe =
    """(?is)changes\s*\(\s*("?[\w.]+"?)\s*,\s*'([0-9a-f]+)'(?:\s*,\s*'([0-9a-f]+)')?\s*\)""".r

  /** Change-feed READS: `SELECT ... FROM CHANGES(t, '<from>'[, '<to>'])`
    * — rows added/removed/updated between two versions of `t`, tagged
    * `_change_type` (update emits pre+post images). `<to>` defaults to
    * the current version. Lowers to [[graft.core.Ops.changes]], so only
    * chunks NOT shared by the two versions are read. */
  private def rewriteChanges(spark: SparkSession, ops: Ops,
      catalog: Catalog, sqlText: String): String =
    changesRe.replaceAllIn(sqlText, m => {
      val name = unquote(m.group(1))
      val fromRoot = m.group(2)
      def hashAt(root: String): String = {
        if (!ops.store.hasRoot(root))
          throw new SqlException(s"no such version: $root")
        catalog.rootAt(root).getOrElse(name,
          throw new SqlException(s"table $name does not exist in version $root"))
          .tableHash
      }
      val oldHash = hashAt(fromRoot)
      val newHash = Option(m.group(3)).map(hashAt).getOrElse(
        catalog.root.getOrElse(name,
          throw new SqlException(s"no such table: $name")).tableHash)
      val view = s"${name}__ch_${oldHash.take(8)}_${newHash.take(8)}"
      ops.changes(graft.core.TableRef(oldHash), graft.core.TableRef(newHash))
        .createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })

  private val versionAsOfRe =
    """(?is)("?[\w.]+"?)\s+version\s+as\s+of\s+'([0-9a-f]+)'""".r

  /** Time-travel READS: `SELECT ... FROM t VERSION AS OF '<root>'`.
    * Each occurrence registers a temp view over the table's version at
    * that root and the reference rewrites to it — content addressing
    * makes this free (the old version's chunks are still in the store;
    * reading them is just a scan of an older meta). Complements
    * RESTORE/CHECKOUT, which move pointers: VERSION AS OF moves nothing.
    * Joining a table to its own past (`FROM t JOIN t VERSION AS OF '..'`)
    * works — the rewrite leaves the current-version reference alone. */
  private def rewriteVersionAsOf(spark: SparkSession, ops: Ops,
      catalog: Catalog, sqlText: String): String =
    versionAsOfRe.replaceAllIn(sqlText, m => {
      val name = unquote(m.group(1))
      val rootHash = m.group(2)
      if (!ops.store.hasRoot(rootHash))
        throw new SqlException(s"no such version: $rootHash")
      val e = catalog.rootAt(rootHash).getOrElse(name,
        throw new SqlException(s"table $name does not exist in version $rootHash"))
      val view = s"${name}__v_${rootHash.take(12)}"
      ops.scan(graft.core.TableRef(e.tableHash)).createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })

  /** Runtime NOT NULL enforcement for the SQL write paths: key columns
    * and declared-NOT-NULL value columns raise on a null at WRITE time
    * (codegen'd coalesce+raise_error — no extra job, no extra pass).
    * Keys get it too: a null key would otherwise surface as an opaque
    * executor error from the key encoder. */
  private[sql] def guardNotNull(df: DataFrame,
      entry: graft.core.CatalogEntry, table: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, raise_error}
    val guarded = (entry.keyCols ++ entry.notNull).distinct
      .filter(df.columns.contains).toSet
    if (guarded.isEmpty) df
    else df.select(df.columns.toSeq.map { c =>
      if (guarded.contains(c))
        coalesce(col(c), raise_error(lit(
          s"NOT NULL violation: column $c of table $table"))
          .cast(df.schema(c).dataType)).as(c)
      else col(c)
    }: _*)
  }

  /** Top-level AND conjuncts (quote-aware), re-joining the halves a
    * BETWEEN owns. */
  private[sql] def splitConjuncts(cond: String): Vector[String] = {
    val raw = splitOnKeyword(cond, "and").map(_.trim).toArray
    val parts = Vector.newBuilder[String]
    var idx = 0
    while (idx < raw.length) {
      if (raw(idx).matches("""(?is)^"?\w+"?\s+between\s+.+""") &&
          idx + 1 < raw.length) {
        parts += raw(idx) + " AND " + raw(idx + 1); idx += 2
      } else { parts += raw(idx); idx += 1 }
    }
    parts.result()
  }

  private val betweenRe =
    """(?is)^\s*("?\w+"?)\s+between\s+('[^']*'|\S+)\s+and\s+('[^']*'|\S+)\s*$""".r
  private val cmpRe = """(?s)^("?\w+"?)\s*(<=|>=|=|<|>)\s*(.+)$""".r
  private val inListRe = """(?is)^\s*("?\w+"?)\s+in\s*\((.+)\)\s*$""".r

  /** Deterministic and reading no other table (no subquery): what a
    * memoized per-chunk DML transform keyed by its expression text may
    * evaluate. */
  private def rowLocalExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.deterministic &&
      !org.apache.spark.sql.catalyst.expressions.SubqueryExpression.hasSubquery(e)

  /** Non-key DELETE as a key-preserving filtered transform, when the
    * predicate is row-local and deterministic: per-chunk memoized, and
    * chunks whose zone-map stats prove no row matches pass through
    * verbatim — a selective delete on a huge table reads and rewrites
    * only the chunks that can contain matches, and every untouched
    * chunk keeps its object identity (replication/diff see only the
    * delta). None → caller falls back to filter-and-rebuild. */
  private def deleteByTransform(spark: SparkSession, ops: Ops,
      schema: StructType, keyCols: Seq[String], ref: graft.core.TableRef,
      cond: String): Option[graft.core.TableRef] =
    try {
      import org.apache.spark.sql.functions.{col, expr}
      val keep = expr(s"NOT coalesce(($cond), false)")
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      // row-local only: a subquery reads other tables, whose versions
      // the memoized transform's key (the predicate text) cannot see
      val rowLocal = empty.where(keep).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          rowLocalExpr(f.condition)
      }
      if (!rowLocal.contains(true)) None
      else Some(ops.transform(ref, graft.core.ColTransform(
        s"sql-delete-v1:${cond.trim}", keyCols,
        schema.fieldNames.toSeq.map(col(_)),
        preservesKeys = true,
        filter = Some(keep),
        passUnless = Some(expr(cond))), graft.core.FoldSpec.FoldLast))
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Non-key UPDATE as a key-preserving per-chunk transform (CASE-gated
    * assignments), when predicate and SET expressions are row-local and
    * deterministic: chunks whose stats prove the predicate matches no
    * row pass through verbatim. None → caller rebuilds. */
  private def updateByTransform(spark: SparkSession, ops: Ops,
      schema: StructType, keyCols: Seq[String], ref: graft.core.TableRef,
      sets: Map[String, String], cond: String,
      notNull: Seq[String] = Nil): Option[graft.core.TableRef] =
    try {
      import org.apache.spark.sql.functions.{col, expr}
      // a SET on a declared-NOT-NULL column raises at write time; the
      // untouched ELSE branch carries the (non-null) stored value, so
      // the guard wraps the whole CASE without changing it
      val cols = schema.fields.map { f =>
        sets.get(f.name) match {
          case Some(e) =>
            val base = s"CASE WHEN coalesce(($cond), false) THEN " +
              s"CAST(($e) AS ${f.dataType.sql}) ELSE `${f.name}` END"
            val guarded =
              if (notNull.contains(f.name))
                s"coalesce($base, raise_error(" +
                  s"'NOT NULL violation: column ${f.name}'))"
              else base
            expr(guarded).as(f.name)
          case None => col(f.name)
        }
      }.toSeq
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      val analyzed = empty.select(cols: _*).queryExecution.analyzed
      if (!analyzed.expressions.forall(rowLocalExpr)) None
      else {
        val setKey = sets.toSeq.sortBy(_._1)
          .map { case (c, e) => s"$c=${e.trim}" }.mkString(",")
        // the guard changes the operation for constrained columns —
        // version the FuncKey so pre-guard memo entries never serve it
        val ver = if (sets.keySet.exists(notNull.contains)) "v2" else "v1"
        Some(ops.transform(ref, graft.core.ColTransform(
          s"sql-update-$ver:$setKey:${cond.trim}", keyCols, cols,
          preservesKeys = true,
          passUnless = Some(expr(cond))), graft.core.FoldSpec.FoldLast))
      }
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Byte-admitted DRIVER route for a DML delta frame (the INSERT…SELECT
    * and range-UPDATE delta builds): when the frame's plan-derived size
    * bounds fit the driver budget, collect it ONCE and splice the rows
    * through [[graft.core.Ops.patchTableBounded]] — the delta build and
    * the upsert merge fuse into one bounded collect plus a driver-side
    * (or single grouped-job) run splice. Collision rule is last-wins in
    * frame row order, the same order [[graft.core.Ops.fromDataFrame]]'s
    * FoldLast carries, so the result hash-converges with the legacy
    * delta+merge chain (pinned in SqlAndSourcesSpec). None — caller
    * takes the job chain — when bounds are unknown/over-budget or on
    * any driver surprise. Deliberately NO scatter guard (unlike the
    * point-DML IN-list path): the route is byte-admitted, and even a
    * delta touching every run splices cheaper driver-side than the
    * collect + region-merge job pair; patchTableBounded's internal
    * byte check still falls back to one grouped job when the touched
    * chunks outgrow the driver budget. At 100 TB the byte bound
    * rejects before any collect. */
  private def deltaViaPatch(ops: Ops, schema: StructType,
      entry: graft.core.CatalogEntry, ref: graft.core.TableRef,
      frame: DataFrame, rowBound: Option[Long],
      byteBound: Option[Long]): Option[graft.core.TableRef] = {
    if (!ops.routes.pointDml) return None
    val cap = graft.core.Ops.adaptiveRowCap(
      schema, graft.core.Ops.PatchMaxDeltaRows)
    if (!rowBound.exists(_ <= cap) ||
        !byteBound.exists(_ <= ops.routes.driverMaxBytes)) return None
    graft.core.Ops.routeOr(Option.empty[graft.core.TableRef]) {
      val rows = ops.collectDriverBounded(frame, rowBound).toSeq
      if (rows.isEmpty) return Some(ref)
      val kEnc = graft.core.KeyCodec.rowEncoder(schema, entry.keyCols)
      val lastWins = rows.zipWithIndex
        .groupBy { case (r, _) => graft.core.Hashing.hex(kEnc(r)) }
        .values.map(_.maxBy(_._2)._1).toSeq
      // no scatter guard here (unlike the point-DML IN-list path): this
      // route is already BYTE-admitted — even a delta touching every
      // run (the deliberate full-table rewrite inside a transaction)
      // splices cheaper on the driver's parallel pool than a collect +
      // region-merge job pair, and patchTableBounded's internal byte
      // check still falls back to ONE grouped job when the touched
      // chunks outgrow the driver budget
      ops.patchTableBounded(ref, lastWins, Nil, None)
    }
  }

  /** ZERO-JOB UPDATE of driver-read rows: `read` fetches the addressed
    * rows driver-side — the point keys ([[graft.core.Ops.readKeysDriver]])
    * or a leading-key range ([[graft.core.Ops.readRangeDriver]]: chunk
    * intersection + byte-encoded bound filter, no rangeFilter
    * materialization) — the SET projection is evaluated over a
    * LocalRelation (a local plan collects without a Spark job), and the
    * updated rows splice back through the patch. None — caller falls
    * back to the range-scan/transform/rebuild chain — when `read`
    * declines (a non-driver-readable schema, a range over the driver
    * row/byte caps), the SET needs more than row-local columns, or on
    * any surprise. */
  private def updateDriver(spark: SparkSession, ops: Ops,
      schema: StructType, entry: graft.core.CatalogEntry, name: String,
      ref: graft.core.TableRef, read: => Option[Seq[Row]],
      sets: Map[String, String]): Option[graft.core.TableRef] =
    graft.core.Ops.routeOr(Option.empty[graft.core.TableRef]) {
      val current = read.getOrElse(return None)
      if (current.isEmpty) return Some(ref) // nothing addressed: no-op
      import scala.jdk.CollectionConverters._
      val local = spark.createDataFrame(current.asJava, schema)
      val updated = local.selectExpr(schema.fieldNames.map { f =>
        sets.get(f)
          .map(e => s"CAST(($e) AS ${schema(f).dataType.sql}) AS `$f`")
          .getOrElse(s"`$f`")
      }.toIndexedSeq: _*)
      val guarded = guardNotNull(updated, entry, name)
      val rows = org.apache.spark.sql.GraftBridge.localRelationRows(guarded)
        .getOrElse(guarded.collect()).toSeq
      Some(ops.patchTable(ref, rows, Nil))
    }

  /** Recognize `cond` as literal POINT key(s): an equality on EVERY key
    * column (one key tuple), or — for single-column keys — one IN-list
    * (several). Like [[parseKeyRange]], the match must consume the
    * predicate EXACTLY; anything else returns None. */
  private[sql] def parseKeyPoints(spark: SparkSession, schema: StructType,
      keyCols: Seq[String], cond: String): Option[Seq[Seq[Any]]] = {
    val parts = splitConjuncts(cond).map(_.trim)
    if (keyCols.length == 1) parts match {
      case Seq(inListRe(c, vals))
          if unquote(c).equalsIgnoreCase(keyCols.head) =>
        val parsed = splitTopLevel(vals)
          .map(v => parseLiteral(spark, schema(keyCols.head).dataType, v.trim))
        if (parsed.nonEmpty && parsed.forall(_.isDefined))
          return Some(parsed.flatten.distinct.map(Seq(_)))
        else return None
      case _ => ()
    }
    // equality on every key column, exactly once each, nothing else
    val eqs = parts.flatMap {
      case cmpRe(c, "=", raw) =>
        val i = keyCols.indexWhere(_.equalsIgnoreCase(unquote(c)))
        if (i < 0) return None
        parseLiteral(spark, schema(keyCols(i)).dataType, raw) match {
          case Some(v) => Some(i -> v)
          case None => return None
        }
      case _ => return None
    }
    if (eqs.length != keyCols.length ||
        eqs.map(_._1).distinct.length != keyCols.length) return None
    Some(Seq(keyCols.indices.map(i => eqs.find(_._1 == i).get._2)))
  }

  /** Recognize `cond` as a KEY-PREFIX range: an equality chain on the
    * leading key columns, optionally followed by range comparison(s) —
    * at most one lower and one upper, or one BETWEEN — on the NEXT key
    * column. `k1 = a AND k2 BETWEEN b AND c` plans as the (a,b)…(a,c)
    * tuple-prefix bounds. Unlike scan PRUNING (conservative), the DML
    * fast path must equal the predicate EXACTLY, so every conjunct must
    * be consumed by the prefix walk; anything left over (a predicate on
    * a deeper column, a duplicate bound, a value column) returns None
    * and the caller falls back to filter-and-rebuild. */
  private[sql] def parseKeyRange(spark: SparkSession, schema: StructType,
      keyCols: Seq[String], cond: String): Option[(Option[graft.core.Bound],
        Option[graft.core.Bound])] = {
    import graft.core.Bound
    val parts = Vector.newBuilder[String]
    parts ++= splitConjuncts(cond)
    def colIdx(c: String): Int =
      keyCols.indexWhere(_.equalsIgnoreCase(unquote(c)))
    def lit(i: Int, raw: String): Option[Any] =
      parseLiteral(spark, schema(keyCols(i)).dataType, raw)
    // each conjunct → (key column index, op, value); any failure → None
    val cmps = Vector.newBuilder[(Int, String, Any)]
    var ok = true
    parts.result().foreach {
      case betweenRe(c, loRaw, hiRaw) if ok && colIdx(c) >= 0 =>
        val i = colIdx(c)
        (lit(i, loRaw), lit(i, hiRaw)) match {
          case (Some(l), Some(h)) => cmps += ((i, ">=", l)); cmps += ((i, "<=", h))
          case _ => ok = false
        }
      case cmpRe(c, op, rawLit) if ok && colIdx(c) >= 0 =>
        lit(colIdx(c), rawLit) match {
          case Some(v) => cmps += ((colIdx(c), op, v))
          case None => ok = false
        }
      case _ => ok = false
    }
    if (!ok) return None
    val all = cmps.result()
    // equality-prefix walk; the first column without an equality takes
    // the range ops; NOTHING may remain unconsumed
    val prefix = Vector.newBuilder[Any]
    var d = 0
    var consumed = 0
    while (d < keyCols.length &&
        all.count(_._1 == d) == 1 &&
        all.exists(t => t._1 == d && t._2 == "=")) {
      prefix += all.find(_._1 == d).get._3
      consumed += 1
      d += 1
    }
    val p = prefix.result()
    val atD = all.filter(_._1 == d)
    if (all.length - consumed != atD.length) return None // deeper-column leftovers
    if (atD.exists(_._2 == "=")) {
      // an equality here means the walk stopped for another reason
      // (duplicate ops on this column) — not a clean range
      return None
    }
    val lows = atD.filter(t => t._2 == ">=" || t._2 == ">")
    val highs = atD.filter(t => t._2 == "<=" || t._2 == "<")
    if (lows.length > 1 || highs.length > 1 ||
        lows.length + highs.length != atD.length) return None
    val lo0 = lows.headOption.map(t => Bound(p :+ t._3, t._2 == ">="))
    val hi0 = highs.headOption.map(t => Bound(p :+ t._3, t._2 == "<="))
    // One-sided range under a non-empty equality prefix: the prefix
    // itself caps the open side (tuple-prefix bound — extending keys
    // compare equal, and inclusive admits them). Without the cap,
    // `k1 = a AND k2 >= b` would leave hi = None and the fast path
    // would delete/update every key tuple above (a, b), k1 > a included.
    val lo = lo0.orElse(
      if (p.nonEmpty && hi0.isDefined) Some(Bound(p, inclusive = true)) else None)
    val hi = hi0.orElse(
      if (p.nonEmpty && lo0.isDefined) Some(Bound(p, inclusive = true)) else None)
    (lo, hi) match {
      case (None, None) if p.nonEmpty =>
        Some((Some(Bound(p, inclusive = true)), Some(Bound(p, inclusive = true))))
      case (None, None) => None
      case b => Some(b)
    }
  }

  /** Parse one SQL literal as the given key type; None = not a literal
    * this fast path understands. DATE/TIMESTAMP type prefixes are
    * accepted; wall-clock strings parse in the session timezone via the
    * shared grammar ([[graft.core.DateTimeUtil]]). */
  private def parseLiteral(spark: SparkSession, dt: DataType,
      raw: String): Option[Any] = {
    val t = raw.trim.replaceFirst("""(?i)^(date|timestamp)\s+""", "")
    try {
      if (t.length >= 2 && t.startsWith("'") && t.endsWith("'")) {
        val s = t.substring(1, t.length - 1)
        if (s.contains("'") || s.contains("\\")) None // escapes: fall back
        else dt match {
          case StringType => Some(s)
          case DateType => Some(java.sql.Date.valueOf(s))
          case TimestampType => Some(graft.core.DateTimeUtil.sessionTimestamp(spark, s))
          case _ => None
        }
      } else dt match {
        case LongType => Some(t.toLong)
        case IntegerType => Some(t.toInt)
        case ShortType => Some(t.toShort)
        case d: DecimalType => Some(new java.math.BigDecimal(t).setScale(d.scale))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
