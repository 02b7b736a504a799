package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.{Catalog, ColTransform, FoldSpec, Hashing, Ops, Views}

/** SQL surface for materialized views — lowers `CREATE MATERIALIZED
  * VIEW v AS SELECT …` onto the memoized view algebra ([[Views]]), the
  * reference's everything-is-a-repo-statement model
  * (/root/reference/messdb-repo/src/MessDB/Repo.hs:82) applied to the
  * engine's flagship capability.
  *
  * Three SELECT shapes lower to the three incremental view kinds:
  *
  *  - `SELECT <items> FROM src [WHERE <cond>]` — row-local
  *    projection + filter. Every source key column must appear bare in
  *    the select list (key-preserving contract ⇒ per-chunk memo: a
  *    delta refreshes only touched chunks; a fully-filtered chunk's
  *    sub-result is the memoized empty table).
  *  - `SELECT <keys+aggs> FROM src [WHERE <cond>] GROUP BY <keys>
  *    [HAVING <cond>]` — re-keying aggregate with sum/count/min/max/avg
  *    over the filtered rows; GROUP BY references select-list aliases,
  *    so computed group keys (`k % 10 AS g … GROUP BY g`) work. count
  *    lowers to sum-of-1; mixed families (SUM + MIN + MAX in one view)
  *    lower to a per-column composite fold ([[FoldSpec.FoldByColumn]])
  *    that is combinable member-wise, so every shape rides the O(delta)
  *    rekey path for exact value types. HAVING and AVG lower to a
  *    TWO-stage chain (aggregate stage under [[innerAggName]] + a
  *    key-preserving post stage): AVG materializes an exact __sum/__cnt
  *    pair and the visible column is one final fp division; HAVING is
  *    the post stage's row filter over the aggregate's aliases.
  *  - `SELECT * FROM a FULL [OUTER] JOIN b USING (<keys>)` — the keyed
  *    incremental join view ([[Views.defineJoin]]).
  *
  * The defining SQL text is persisted in the catalog root
  * ([[Catalog.putViewDef]]); `REFRESH` re-lowers it against the sources'
  * CURRENT versions. The transform cache key is the sha-256 of the
  * normalized SQL — same definition + same source hash ⇒ whole-op memo
  * hit, changed definition ⇒ a different operation, exactly the FuncKey
  * discipline. */
object SqlViews {

  import GraftSql.{SqlException, splitOnKeyword, splitTopLevel}

  private val joinRe =
    ("""(?is)^\s*select\s+\*\s+from\s+("?[\w.]+"?)\s+""" +
      """(?:(full(?:\s+outer)?|inner|left(?:\s+outer)?)\s+)?""" +
      """join\s+("?[\w.]+"?)\s+using\s*\(([^)]*)\)""" +
      """(?:\s+where\s+(.+?))?\s*$""").r
  private val joinAggRe =
    ("""(?is)^\s*select\s+(.+?)\s+from\s+("?[\w.]+"?)\s+""" +
      """(?:(full(?:\s+outer)?|inner|left(?:\s+outer)?)\s+)?""" +
      """join\s+("?[\w.]+"?)\s+using\s*\(([^)]*)\)""" +
      """(?:\s+where\s+(.+?))?\s+group\s+by\s+(.+)$""").r
  private val bareColRe = """^"?([\w]+)"?$""".r
  private val aggRe =
    """(?is)^(sum|count|min|max|avg|kmv_distinct|hist_quantile)\s*\((.*)\)$""".r

  /** KMV sketch constants for `KMV_DISTINCT` materialized-view
    * aggregates — the SAME k/numerator as the ad-hoc
    * `agg_approx_distinct` sketch (queries.Sketches), duplicated here
    * because the sql layer must not depend on the query catalog. They
    * are part of the fold's FuncKey contract: changing either requires
    * a new fold key. */
  private val KmvK = 256
  private val KmvNum: Long = (KmvK - 1).toLong * (1L << 52)

  /** Mergeable KMV sketch fold: each row contributes its (md5-derived,
    * 52-bit) hash as a 1-element sorted array; collisions fold by
    * "k smallest distinct hashes of the union" — commutative,
    * associative, idempotent, and BIT-exact (sorted distinct long
    * arrays normalize away collect_list order), so an approximate
    * distinct count maintains O(delta) through the same combinable
    * rekey path as SUM/COUNT/MIN/MAX. This is the mergeable-sketch
    * property every serious sketch library ships, expressed as a graft
    * fold. */
  private[graft] def kmvFold: FoldSpec = FoldSpec.CombinableFold(
    s"fold_kmv${KmvK}_v1",
    c => slice(array_sort(array_distinct(flatten(collect_list(c)))),
      1, KmvK),
    idempotent = true)

  /** Per-row KMV contribution: the value's 52-bit md5 hash as a
    * 1-element array (NULLs contribute the empty sketch — distinct
    * counting ignores NULL, like COUNT(col)). */
  private def kmvContrib(inner: String, as: String): Column =
    expr(s"""CASE WHEN ($inner) IS NOT NULL THEN
            |  array(CAST(conv(substring(md5(CAST(($inner) AS STRING)), 1, 13), 16, 10) AS BIGINT))
            |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin)
      .as(as)

  /** Post-stage estimate over the materialized sketch array: exact
    * below k, else (k−1)·2⁵² div h_k — the same integer arithmetic as
    * `agg_approx_distinct` (DuckDB-reproducible). */
  private def kmvEstimate(stageCol: String, as: String): Column =
    expr(s"""CAST(CASE WHEN size($stageCol) < $KmvK THEN size($stageCol)
            |ELSE ${KmvNum}L div $stageCol[${KmvK - 1}] END AS BIGINT)""".stripMargin)
      .as(as)

  /** Mergeable fixed-bin histogram fold for `HIST_QUANTILE`
    * materialized-view aggregates — KMV_DISTINCT's sibling: each row
    * contributes a 1-entry (bin, 1) sketch; collisions fold by summing
    * counts per bin in map space and canonicalizing to a key-sorted
    * entries array. Commutative, associative, and BIT-exact (integer
    * sums; the trailing sort normalizes map-merge key order away), so
    * approximate quantiles refresh O(delta) through the same combinable
    * rekey path as SUM/COUNT/KMV. Sketch state is O(distinct bins) per
    * group — the view author's bin expression sets the accuracy/memory
    * trade (the fixed-bin contract of `agg_approx_quantiles`,
    * queries.Sketches), constant in row count like any serious quantile
    * sketch. */
  private[graft] def histFold: FoldSpec = FoldSpec.CombinableFold(
    "fold_hist_v1",
    // sketches are INTERLEAVED long arrays [k1,v1,k2,v2,…] (key-sorted)
    // — ARRAY<BIGINT> keeps the aggregate stage on the zero/one-job
    // driver-chunk route (DriverChunks handles primitive arrays; a
    // struct-array column would force the full job chain per
    // materialization). The merge is a native Catalyst aggregate
    // ([[graft.functions.HistSketchAgg]]): O(bins) state with O(1)
    // per-row updates and map-side combine — the collect_list + HOF
    // formulation it replaces buffered O(rows) per group and ran one
    // interpreted lambda step per element. Output bytes identical.
    c => graft.functions.HistSketchAgg(c),
    // bin counts are plain integer sums, so the sketch RETRACTS: negate
    // the counts (odd positions of the interleaved [k1,v1,k2,v2,…]
    // array); the aggregate drops fully-cancelled bins, so a
    // DELETE-then-REFRESH folds to the exact from-scratch sketch
    invert = Some(c =>
      transform(c, (x, i) => when(i % 2 === 1, -x).otherwise(x))),
    // ... and LINEAR: n identical singleton sketches fold to the same
    // bins with counts ×n — exact integer arithmetic, so a net delta
    // row with multiplicity M retracts as ONE scaled sketch instead of
    // M exploded rows (FoldSpec.scaleContrib)
    scale = Some((c, n) =>
      transform(c, (x, i) => when(i % 2 === 1, x * n).otherwise(x))))

  /** Per-row histogram contribution: the (bin, 1) singleton sketch,
    * interleaved (NULL bins contribute the empty sketch, like
    * COUNT(col)). */
  private def histContrib(inner: String, as: String): Column =
    expr(s"""CASE WHEN ($inner) IS NOT NULL THEN
            |  array(CAST(($inner) AS BIGINT), 1L)
            |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin).as(as)

  /** Post-stage quantile over the materialized interleaved sketch: the
    * smallest bin whose cumulative count crosses rank p = num/den —
    * integer cross-multiplication, one array pass, DuckDB-reproducible.
    * NULL for an empty sketch. */
  private def histQuantileEstimate(stageCol: String, num: Long, den: Long,
      as: String): Column =
    // the rank threshold ceil(n·num/den) is computed ONCE (num/den are
    // gcd-reduced with den ≤ 1e6, so n·num stays inside BIGINT for any
    // physical group); the pass then compares plain cumulative counts —
    // cum·den ≥ n·num ⟺ cum ≥ ceil(n·num/den) for integer cum
    expr(s"""CASE WHEN $stageCol IS NULL OR size($stageCol) < 2
            |THEN CAST(NULL AS BIGINT) ELSE
            |  aggregate(
            |    sequence(1, size($stageCol) div 2),
            |    named_struct('cum', 0L,
            |      'thr', (aggregate(sequence(1, size($stageCol) div 2), 0L,
            |        (a, i) -> a + element_at($stageCol, CAST(2*i AS INT)))
            |        * ${num}L + ${den - 1}L) div ${den}L,
            |      'ans', CAST(NULL AS BIGINT)),
            |    (acc, i) -> CASE
            |      WHEN acc.ans IS NOT NULL THEN acc
            |      WHEN acc.cum + element_at($stageCol, CAST(2*i AS INT)) >= acc.thr
            |        THEN named_struct(
            |          'cum', acc.cum + element_at($stageCol, CAST(2*i AS INT)),
            |          'thr', acc.thr,
            |          'ans', element_at($stageCol, CAST(2*i-1 AS INT)))
            |      ELSE named_struct(
            |        'cum', acc.cum + element_at($stageCol, CAST(2*i AS INT)),
            |        'thr', acc.thr, 'ans', CAST(NULL AS BIGINT)) END).ans
            |END""".stripMargin).as(as)

  /** Parse a literal quantile `p` in (0, 1] to an exact integer
    * fraction num/den (0.5 → 5/10) — the estimate never touches
    * floating point. */
  private def parseQuantile(p: String): (Long, Long) = {
    val m = """^(\d{1,2})(?:\.(\d+))?$""".r
    p.trim match {
      case m(i, f) =>
        val frac = Option(f).getOrElse("")
        // 6 fractional digits cap: with gcd reduction below, den ≤ 1e6
        // keeps the estimate's n·num threshold inside BIGINT for any
        // physical group size (~9e12 rows)
        if (frac.length > 6) throw new SqlException(
          s"HIST_QUANTILE p has too many digits (max 6): $p")
        val den = math.pow(10, frac.length).toLong
        val num = i.toLong * den + (if (frac.isEmpty) 0L else frac.toLong)
        if (num <= 0 || num > den) throw new SqlException(
          s"HIST_QUANTILE p must be in (0, 1]: $p")
        val g = BigInt(num).gcd(BigInt(den)).toLong
        (num / g, den / g)
      case _ => throw new SqlException(
        s"HIST_QUANTILE p must be a numeric literal in (0, 1]: $p")
    }
  }

  private def unquote(s: String): String =
    s.stripPrefix("\"").stripSuffix("\"")

  /** One select item: (expression text, alias). Alias is the trailing
    * top-level `AS name` (or the bare column name itself). */
  private def parseItem(item: String): (String, String) = {
    val parts = splitOnKeyword(item, "as").map(_.trim)
    if (parts.length >= 2 && parts.last.matches("""^"?\w+"?$"""))
      (parts.init.mkString(" as "), unquote(parts.last))
    else item.trim match {
      case bareColRe(c) => (c, c)
      case other => throw new SqlException(
        s"materialized view select item needs an alias: $other")
    }
  }

  /** Register (declare) the view named `name` defined by `selectSql`
    * into `views`, validating against the catalog's current tables. */
  def declare(views: Views, ops: Ops, catalog: Catalog, name: String,
      selectSql: String): Unit = {
    val sql = selectSql.trim.stripSuffix(";")
    if (SqlIndex.isIndexDef(sql)) {
      // `INDEX ON t (cols)` — a secondary index is a re-keying view
      // (SqlIndex); it shares the viewDefs persistence/refresh machinery
      SqlIndex.declare(views, catalog, name, sql)
      return
    }
    sql match {
      case joinRe(l, kindRaw, r, usingCols, whereTail) =>
        declareJoinView(views, catalog, name, sql, unquote(l),
          Option(kindRaw).map(_.trim.toLowerCase.split("\\s+").head)
            .getOrElse("inner"),
          unquote(r), usingCols, Option(whereTail))
        return
      case joinAggRe(selList, l, kindRaw, r, usingCols, whereTail, gbText) =>
        declareJoinAggView(views, catalog, name, sql, selList, unquote(l),
          Option(kindRaw).map(_.trim.toLowerCase.split("\\s+").head)
            .getOrElse("inner"),
          unquote(r), usingCols, Option(whereTail), gbText)
        return
      case _ => ()
    }
    val fromParts = splitOnKeyword(sql, "from").map(_.trim)
    if (fromParts.length != 2)
      throw new SqlException(s"unsupported materialized view query: $sql")
    val selHead = fromParts.head
    if (!selHead.toLowerCase.startsWith("select "))
      throw new SqlException(s"unsupported materialized view query: $sql")
    val items = splitTopLevel(selHead.substring(7)).map(_.trim).filter(_.nonEmpty)
      .map(parseItem)
    // FROM tail: `src [WHERE cond] [GROUP BY cols]` — quote-aware splits
    def stripBy(s: String): String = {
      val t = s.trim
      if (!t.toLowerCase.startsWith("by") || t.length < 3)
        throw new SqlException(s"expected GROUP BY in: $s")
      t.substring(2).trim
    }
    val (source, whereCond, groupBy) = {
      val w = splitOnKeyword(fromParts(1), "where").map(_.trim)
      if (w.length > 2)
        throw new SqlException(s"multiple WHERE in: ${fromParts(1)}")
      val afterSrc = if (w.length == 2) w(1) else w(0)
      val g = splitOnKeyword(afterSrc, "group").map(_.trim)
      if (g.length > 2)
        throw new SqlException(s"multiple GROUP BY in: ${fromParts(1)}")
      val gb = if (g.length == 2) Some(stripBy(g(1))) else None
      val (srcText, cond) =
        if (w.length == 2) (w(0), Some(g(0)).filter(_.nonEmpty))
        else (g(0), None)
      if (!srcText.matches("""^"?[\w.]+"?$"""))
        throw new SqlException(
          s"unsupported materialized view FROM clause: $srcText")
      (unquote(srcText), cond, gb)
    }
    val filter = whereCond.map(c => expr(c))
    val entry = catalog.root.getOrElse(source,
      throw new SqlException(s"no such table: $source"))
    // cache identity = the defining SQL; a definition edit is a new op
    val sig = Hashing.sha256Hex(
      (name + "\u0000" + sql).getBytes(java.nio.charset.StandardCharsets.UTF_8))

    groupBy match {
      case None =>
        // transform view: all source key columns must pass through bare
        val keyCols = entry.keyCols
        val itemNames = items.map(_._2)
        keyCols.foreach { k =>
          val passedBare = items.exists { case (e, a) =>
            a.equalsIgnoreCase(k) && e.trim.matches(s"""(?i)^"?$k"?$$""") }
          if (!passedBare) throw new SqlException(
            s"materialized view over $source must select key column $k unchanged")
        }
        if (itemNames.map(_.toLowerCase).distinct.length != itemNames.length)
          throw new SqlException("duplicate output column in materialized view")
        val cols: Seq[Column] = items.map { case (e, a) => expr(e).as(a) }
        views.declare(name, source,
          ColTransform(s"sqlmv-transform-v1:$sig", keyCols, cols,
            preservesKeys = true, filter = filter))
      case Some(gbText0) =>
        declareAggView(views, catalog, name, sig, source, items, filter, gbText0)
    }
  }

  /** Lower `… GROUP BY cols [HAVING cond]` over `source` (a catalog
    * table or an internal join stage) — HAVING lowers to a TWO-stage
    * chain: the aggregate view materializes under an internal name and
    * the visible view is a filtered IDENTITY transform over it. The
    * post-filter is key-preserving ⇒ per-chunk memoized, and zone maps
    * skip aggregate chunks whose stat range excludes the HAVING bound
    * without reading them. */
  private def declareAggView(views: Views, catalog: Catalog, name: String,
      sig: String, source: String, items: Seq[(String, String)],
      filter: Option[Column], gbText0: String): Unit = {
        val havingParts = splitOnKeyword(gbText0, "having").map(_.trim)
        if (havingParts.length > 2)
          throw new SqlException(s"multiple HAVING in: $gbText0")
        val having = havingParts.drop(1).headOption
        val gbText = havingParts.head
        // GROUP BY entries name select-list items by alias (or bare
        // column) — computed group keys (`k % 10 AS g … GROUP BY g`)
        // are the flagship re-keying shape and lower to the same
        // rekey+fold transform as bare ones
        val groupCols = splitTopLevel(gbText).map(_.trim).map {
          case bareColRe(c) => c
          case other => throw new SqlException(
            s"GROUP BY must reference select-list aliases in materialized views: $other")
        }
        val (keyItems, valItems) = items.partition { case (_, a) =>
          groupCols.exists(_.equalsIgnoreCase(a)) }
        if (keyItems.length != groupCols.length)
          throw new SqlException(
            "every GROUP BY column must appear (bare or aliased) in the select list")
        if (valItems.isEmpty)
          throw new SqlException("aggregate view needs at least one aggregate")
        // lower each aggregate to per-row contribution column(s) + the
        // fold(s) that combine collisions; count ≡ sum of 1/0, so
        // sum+count mix. AVG is DERIVED: it materializes as a __sum and
        // __cnt pair in the aggregate stage (both exact-integer
        // combinable, so the view rides the O(delta) rekey path) and the
        // visible column is the one final fp division in the post stage —
        // the same exact-moments discipline as agg_stats.
        // provable non-nullability of an inner expression against the
        // source's REAL schema (the catalog entry carries the DDL's NOT
        // NULL flags; join stages have no entry and analyze as nullable)
        lazy val realSchemaEmpty: Option[org.apache.spark.sql.DataFrame] =
          catalog.root.get(source).flatMap { e =>
            scala.util.Try {
              import org.apache.spark.sql.types.{DataType, StructType}
              val srcSchema = StructType(
                DataType.fromJson(e.schemaJson).asInstanceOf[StructType]
                  .fields.map(f =>
                    if (e.notNull.contains(f.name) ||
                        e.keyCols.contains(f.name))
                      f.copy(nullable = false) else f))
              val spark = org.apache.spark.sql.SparkSession.active
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                srcSchema)
            }.toOption
          }
        def innerNonNull(inner: String): Boolean =
          realSchemaEmpty.exists(df => scala.util.Try(
            !df.select(expr(inner).as("x")).schema.head.nullable)
            .getOrElse(false))
        // COUNT(*) is the literal 1; COUNT(x) over a provably non-null
        // x lowers to the SAME literal (values identical — CASE WHEN
        // non-null THEN 1 ELSE 0 is constantly 1 there), which makes it
        // a LIVENESS column: such views admit the delete-aware
        // retraction refresh without an explicit COUNT(*). Identical
        // output values keep every memoized result valid; a re-created
        // source with different nullability lowers differently but also
        // has a different table hash, so op identities never collide.
        def countContrib(inner: String, as: String): Column =
          if (inner.trim == "*" || innerNonNull(inner)) lit(1L).as(as)
          else expr(s"CASE WHEN ($inner) IS NOT NULL THEN 1 ELSE 0 END")
            .cast("long").as(as)
        // (inner contribution, inner column name, member fold) per inner
        // column; plus the post-stage projection for the visible alias
        val lowered: Seq[(Seq[(Column, String, FoldSpec)], Column)] =
          valItems.map { case (e, a) =>
            e match {
              case aggRe(fn, inner) => fn.toLowerCase match {
                case "sum" =>
                  (Seq((expr(inner).as(a), a, FoldSpec.FoldSum: FoldSpec)), col(a))
                case "count" =>
                  (Seq((countContrib(inner, a), a, FoldSpec.FoldSum: FoldSpec)), col(a))
                case "min" =>
                  (Seq((expr(inner).as(a), a, FoldSpec.FoldMin: FoldSpec)), col(a))
                case "max" =>
                  (Seq((expr(inner).as(a), a, FoldSpec.FoldMax: FoldSpec)), col(a))
                case "avg" =>
                  (Seq(
                    (expr(inner).as(s"${a}__sum"), s"${a}__sum", FoldSpec.FoldSum: FoldSpec),
                    (countContrib(inner, s"${a}__cnt"), s"${a}__cnt", FoldSpec.FoldSum: FoldSpec)),
                    (col(s"${a}__sum").cast("double") / col(s"${a}__cnt")).as(a))
                case "kmv_distinct" =>
                  // the aggregate stage materializes the MERGEABLE
                  // sketch array (so refresh stays O(delta) through the
                  // combinable fold); the visible column is the
                  // integer estimate, derived in the post stage
                  (Seq((kmvContrib(inner, s"${a}__kmv"), s"${a}__kmv",
                    kmvFold: FoldSpec)),
                    kmvEstimate(s"${a}__kmv", a))
                case "hist_quantile" =>
                  // same derived-call chain as KMV_DISTINCT: mergeable
                  // bin-count sketch in the aggregate stage, quantile
                  // estimate in the post stage. The stage column is
                  // named by the BIN EXPRESSION's content hash, so N
                  // quantiles of the same expression (median + p90 in
                  // one view) materialize ONE shared sketch — the
                  // duplicate stage entries dedupe below
                  val args = splitTopLevel(inner).map(_.trim)
                  if (args.length != 2) throw new SqlException(
                    s"HIST_QUANTILE(bin_expr, p) takes two arguments: $inner")
                  val (num, den) = parseQuantile(args(1))
                  // hash the RAW trimmed expression text: aggressive
                  // normalization (case-folding, whitespace stripping)
                  // would merge semantically DIFFERENT expressions that
                  // differ only inside string literals — sharing is an
                  // optimization and must never be wrong, so only
                  // byte-identical expressions share a sketch
                  val stage = "__hist_" + Hashing.sha256Hex(
                    args(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
                    .take(8)
                  (Seq((histContrib(args(0), stage), stage,
                    histFold: FoldSpec)),
                    histQuantileEstimate(stage, num, den, a))
              }
              case other => throw new SqlException(
                s"unsupported aggregate in materialized view: $other")
            }
          }
        // content-hash-named stage columns (HIST_QUANTILE) appear once
        // per DISTINCT bin expression: identical entries share one
        // materialized sketch
        val innerVals = lowered.flatMap(_._1).distinctBy(_._2)
        val innerNames = innerVals.map(_._2)
        if ((groupCols ++ innerNames).map(_.toLowerCase).distinct.length
            != groupCols.length + innerNames.length)
          throw new SqlException("duplicate output column in materialized view")
        // one fold family → the plain fold (keeps pre-existing view op
        // hashes identical); mixed families → a per-column composite
        // (SUM + MIN + MAX in one view), still combinable member-wise
        val distinctFolds = innerVals.map(_._3).distinct
        val fold: FoldSpec =
          if (distinctFolds.length == 1) distinctFolds.head
          else FoldSpec.FoldByColumn(innerVals.map(v => (v._2, v._3)))
        // project the key ITEM expressions (bare or computed) in GROUP
        // BY order, then the aggregate contributions
        val keyExprs: Seq[Column] = groupCols.map { g =>
          val (e, a) = keyItems.find(_._2.equalsIgnoreCase(g)).get
          expr(e).as(a)
        }
        val cols: Seq[Column] = keyExprs ++ innerVals.map(_._1)
        // provably non-NULL contributions, judged against the source's
        // REAL schema (the catalog entry keeps the DDL's NOT NULL flags;
        // the canonical chunk schema erases them) — the declaration that
        // unlocks the delete-aware retraction route for SUM members over
        // NOT NULL columns. Internal join stages aren't catalog tables
        // (and their aligned columns are nullable anyway): empty set.
        val nonNullStage: Set[String] =
          realSchemaEmpty.flatMap { empty =>
            scala.util.Try {
              empty.select(innerVals.map(_._1): _*).schema.fields
                .filterNot(_.nullable).map(_.name).toSet[String]
            }.toOption
          }.getOrElse(Set.empty[String])
        val avgAliases = valItems.zip(lowered).collect {
          case ((_, a), (ic, _)) if ic.length == 2 => a }
        // DERIVED aliases (AVG's division, KMV's estimate) exist only
        // in the post stage — their presence forces the two-stage chain
        val derivedAliases = valItems.zip(lowered).collect {
          case ((_, a), (ic, _)) if ic.exists(_._2 != a) => a }
        having.foreach { h =>
          // the HAVING condition filters the AGGREGATE view's rows, so
          // it must speak that view's column names (the aliases)
          if (aggCallRe.findFirstIn(h).isDefined)
            throw new SqlException(
              "HAVING in materialized views must reference select-list " +
                s"aliases (the aggregate view's columns), not aggregate calls: $h")
        }
        // an AVG alias in HAVING filters the aggregate stage, where the
        // alias exists only as the sum/cnt pair — rewrite to the division
        val postFilter = having.map { h =>
          expr(avgAliases.foldLeft(h) { (acc, a) =>
            acc.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\b",
              s"(CAST(${a}__sum AS DOUBLE) / ${a}__cnt)")
          })
        }
        if (having.isEmpty && derivedAliases.isEmpty) {
          views.declare(name, source,
            ColTransform(s"sqlmv-agg-v1:$sig", groupCols, cols,
              filter = filter, nonNull = nonNullStage),
            fold)
        } else {
          val inner = innerAggName(name)
          if (catalog.root.contains(inner) && !catalog.viewDefs.contains(name))
            throw new SqlException(s"table $inner already exists")
          views.declare(inner, source,
            ColTransform(s"sqlmv-agg-v1:$sig", groupCols, cols,
              filter = filter, nonNull = nonNullStage),
            fold)
          views.declare(name, inner,
            ColTransform(s"sqlmv-post-v1:$sig", groupCols,
              groupCols.map(c => col(c)) ++ lowered.map(_._2),
              preservesKeys = true, filter = postFilter))
        }
  }

  /** Lower `SELECT * FROM a [FULL|INNER|LEFT] JOIN b USING (keys)
    * [WHERE ...]`. FULL [OUTER] is the primitive — the widened
    * merge-under-coalesce join view ([[Views.defineJoin]]). INNER and
    * LEFT lower as a TWO-stage chain: an internal presence-marked
    * full-outer stage ([[innerJoinName]]) plus a key-preserving
    * post-filter projecting the markers away — both-sides-present for
    * INNER, left-present for LEFT. The post stage is per-chunk
    * memoized, so a delta to either side refreshes in O(delta), same
    * as the WHERE'd transform views. A plain WHERE tail (FULL included
    * via the same post-stage shape) ANDs into the post filter. */
  private def declareJoinView(views: Views, catalog: Catalog, name: String,
      sql: String, left: String, kind: String, right: String,
      usingCols: String, whereTail: Option[String]): Unit = {
    val le = catalog.root.getOrElse(left,
      throw new SqlException(s"no such table: $left"))
    val re = catalog.root.getOrElse(right,
      throw new SqlException(s"no such table: $right"))
    val using = splitTopLevel(usingCols).map(c => unquote(c.trim))
      .filter(_.nonEmpty)
    if (using.toSet != le.keyCols.toSet || using.toSet != re.keyCols.toSet)
      throw new SqlException(
        s"join view USING columns must be both tables' key columns " +
          s"(${le.keyCols.mkString(", ")}): got ${using.mkString(", ")}")
    if (kind == "full" && whereTail.isEmpty) {
      views.declareJoin(name, left, right)
      return
    }
    import org.apache.spark.sql.types.{DataType, StructType}
    val keys = le.keyCols
    def valsOf(e: graft.core.CatalogEntry): Seq[String] =
      DataType.fromJson(e.schemaJson).asInstanceOf[StructType]
        .fieldNames.toSeq.filterNot(keys.contains)
    val outCols = keys ++ valsOf(le) ++ valsOf(re)
    val sig = Hashing.sha256Hex(
      (name + " " + sql).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val inner = innerJoinName(name)
    if (catalog.root.contains(inner) && !catalog.viewDefs.contains(name))
      throw new SqlException(s"table $inner already exists")
    views.declareJoin(inner, left, right, presence = true)
    val presFilter: Option[Column] = kind match {
      case "inner" => Some(col(graft.core.Views.PresentLeft).isNotNull &&
        col(graft.core.Views.PresentRight).isNotNull)
      case "left" => Some(col(graft.core.Views.PresentLeft).isNotNull)
      case _ => None // full + WHERE
    }
    val filter = (presFilter.toSeq ++ whereTail.map(expr))
      .reduceOption(_ && _)
    views.declare(name, inner,
      ColTransform(s"sqlmv-joinpost-v1:$sig", keys, outCols.map(col),
        preservesKeys = true, filter = filter))
  }

  /** Lower `SELECT <keys+aggs> FROM a [kind] JOIN b USING (keys)
    * [WHERE w] GROUP BY g [HAVING h]` — the workhorse "aggregate over a
    * join" view — as a THREE-stage chain: the presence-marked full-outer
    * join stage ([[innerJoinName]]; the same substrate INNER/LEFT
    * projection views use), then the aggregate lowering over it with
    * the join-kind presence predicate folded into the aggregate's row
    * filter (and a further [[innerAggName]] stage when HAVING/AVG add a
    * post stage). Every stage is the established incremental kind, so a
    * delta to EITHER base table refreshes the whole chain in O(delta).
    */
  private def declareJoinAggView(views: Views, catalog: Catalog,
      name: String, sql: String, selList: String, left: String,
      kind: String, right: String, usingCols: String,
      whereTail: Option[String], gbText: String): Unit = {
    val le = catalog.root.getOrElse(left,
      throw new SqlException(s"no such table: $left"))
    val re = catalog.root.getOrElse(right,
      throw new SqlException(s"no such table: $right"))
    val using = splitTopLevel(usingCols).map(c => unquote(c.trim))
      .filter(_.nonEmpty)
    if (using.toSet != le.keyCols.toSet || using.toSet != re.keyCols.toSet)
      throw new SqlException(
        s"join view USING columns must be both tables' key columns " +
          s"(${le.keyCols.mkString(", ")}): got ${using.mkString(", ")}")
    val stage = innerJoinName(name)
    if (catalog.root.contains(stage) && !catalog.viewDefs.contains(name))
      throw new SqlException(s"table $stage already exists")
    views.declareJoin(stage, left, right, presence = true)
    val presFilter: Option[Column] = kind match {
      case "inner" => Some(col(graft.core.Views.PresentLeft).isNotNull &&
        col(graft.core.Views.PresentRight).isNotNull)
      case "left" => Some(col(graft.core.Views.PresentLeft).isNotNull)
      case _ => None // full outer: every key row aggregates
    }
    val filter = (presFilter.toSeq ++ whereTail.map(expr)).reduceOption(_ && _)
    val items = splitTopLevel(selList).map(_.trim).filter(_.nonEmpty)
      .map(parseItem)
    val sig = Hashing.sha256Hex(
      (name + " " + sql).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    declareAggView(views, catalog, name, sig, stage, items, filter, gbText)
  }

  private val aggCallRe =
    """(?i)\b(sum|count|min|max|avg|kmv_distinct|hist_quantile)\s*\(""".r

  /** Internal table name of a HAVING view's aggregate stage — created,
    * refreshed, and dropped WITH the visible view. */
  def innerAggName(view: String): String = view + "__agg"

  /** Internal table name of an INNER/LEFT join view's presence-marked
    * full-outer stage — created, refreshed, and dropped WITH the view. */
  def innerJoinName(view: String): String = view + "__join"

  /** Internal stage tables owned by a view definition (dropped with it). */
  def innerStageNames(view: String, selectSql: String): Seq[String] = {
    val sql = selectSql.trim.stripSuffix(";")
    sql match {
      case joinRe(_, kindRaw, _, _, whereTail) =>
        val kind = Option(kindRaw).map(_.trim.toLowerCase.split("\\s+").head)
          .getOrElse("inner")
        if (kind == "full" && whereTail == null) Nil
        else Seq(innerJoinName(view))
      case joinAggRe(_, _, _, _, _, _, _) =>
        Seq(innerJoinName(view)) ++
          (if (hasInnerStage(sql)) Seq(innerAggName(view)) else Nil)
      case _ if hasInnerStage(sql) => Seq(innerAggName(view))
      case _ => Nil
    }
  }

  private val derivedCallRe =
    """(?i)\b(avg|kmv_distinct|hist_quantile)\s*\(""".r

  /** Whether `selectSql` lowers with a post stage (and therefore owns an
    * [[innerAggName]] table): a top-level HAVING clause, or a DERIVED
    * aggregate in the select list (AVG's division, KMV_DISTINCT's
    * estimate ⇒ aggregate stage + post stage). Quote-aware top-level
    * keyword scans. */
  def hasInnerStage(selectSql: String): Boolean = {
    val sql = selectSql.trim.stripSuffix(";")
    splitOnKeyword(sql, "having").length > 1 ||
      derivedCallRe.findFirstIn(splitOnKeyword(sql, "from").head).isDefined
  }

  /** Build a [[Views]] instance with every persisted SQL view declared —
    * ready for `refresh`/`refreshAll`. */
  def fromCatalog(ops: Ops, catalog: Catalog): Views = {
    val views = new Views(ops, catalog)
    catalog.viewDefs.foreach { case (n, sql) =>
      declare(views, ops, catalog, n, sql) }
    views
  }
}
