package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Q._

/** Sketch/quantile/heavy-hitter aggregates (§2.7 sketch extensions).
  * Exact percentiles interpolate identically in Spark and DuckDB
  * (quantile_cont), so they oracle-match. The approximate aggregates are
  * registered as DETERMINISTIC sketches (KMV distinct, fixed-bin
  * quantiles) whose md5-derived/integer arithmetic both engines
  * reproduce bit-for-bit — fully oracle-backed; the engine-specific
  * HLL/t-digest variants stay as the library's constant-memory
  * alternatives with accuracy pinned in SketchSpec. */
object Sketches {

  /** Exact interpolated quantiles of quantity + price per return flag. */
  def aggQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, array(0.25, 0.75))").getItem(0).as("q25_qty"),
        expr("percentile(l_quantity, array(0.25, 0.75))").getItem(1).as("q75_qty"),
        expr("percentile(l_extendedprice, 0.9)").as("p90_price"))
      .orderBy($"l_returnflag")
  }

  val aggQuantilesSql: String =
    """SELECT l_returnflag,
      | quantile_cont(l_quantity, 0.5) AS median_qty,
      | quantile_cont(l_quantity, 0.25) AS q25_qty,
      | quantile_cont(l_quantity, 0.75) AS q75_qty,
      | quantile_cont(l_extendedprice, 0.9) AS p90_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Heavy hitters: top-5 parts by order count (exact, deterministic
    * tiebreak). */
  def aggHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").cast("long").as("qty"))
      .orderBy($"n".desc, $"l_partkey")
      .limit(5)
  }

  val aggHeavyHittersSql: String =
    """SELECT l_partkey, COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS qty
      |FROM lineitem GROUP BY l_partkey
      |ORDER BY n DESC, l_partkey LIMIT 5""".stripMargin

  /** HLL sketch distinct counts — the constant-memory estimator for
    * interactive use (estimator is engine-specific, so no oracle;
    * accuracy vs exact is pinned in SketchSpec alongside the KMV). */
  def aggApproxDistinctHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
        approx_count_distinct($"l_orderkey", 0.02).as("approx_orders"))
      .orderBy($"l_returnflag")
  }

  /** t-digest-style approximate percentiles (approx_percentile) —
    * engine-specific estimator, accuracy pinned in SketchSpec. */
  def aggApproxQuantilesTdigest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("median_qty"),
        expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("p90_price"))
      .orderBy($"l_returnflag")
  }

  // ---- deterministic, oracle-backed sketches ---------------------------

  /** KMV sketch size: rsd ≈ 1/√(k−2) ≈ 6.3%. */
  private val KmvK = 256
  /** Hash space: 13 md5 hex chars = 52 bits — (k−1)·2⁵² stays inside
    * BIGINT, so the estimator is exact integer division in both engines. */
  private val KmvNum: Long = (KmvK - 1).toLong * (1L << 52)

  /** Salt width for the two-phase k-minimum reduction: the hot group's
    * distinct hashes spread over this many tasks in phase 1. */
  private val KmvSalts = 64

  /** Deterministic KMV (k-minimum-values) distinct sketch — the
    * oracle-able stand-in for HLL: per group keep the k smallest
    * DISTINCT md5-derived 52-bit hashes; if fewer than k distinct
    * hashes exist the count is exact, else estimate (k−1)·2⁵² div h_k
    * (h_k = the k-th smallest). Entirely deterministic — md5 agrees
    * across engines and the arithmetic is integer-only — so DuckDB
    * reproduces it bit-for-bit.
    *
    * Scale: the distinct count is a pure combinable two-phase
    * aggregation (never a window), and the k-th-smallest hash is found
    * with the same salted two-phase min-k reduction as
    * `pipeline_topk_per_group`: phase 1 ranks within (group, h mod
    * [[KmvSalts]]) — a running-frame window the hot group spreads over
    * [[KmvSalts]] tasks, exact because any global k-smallest hash is
    * k-smallest within its own cell — and phase 2 sorts the ≤ salts·k
    * survivors per group in one tiny array aggregate. No task ever
    * holds a group's full distinct set (the defect the old
    * `row_number`+`count(*)` unbounded-window plan had).
    * HLL ([[aggApproxDistinctHll]]) remains the strictly-constant-memory
    * path; KMV is the cross-engine-verifiable one. */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val li = Tables(s, dir, "lineitem")
    // TWO independent chains (one per estimated column), joined on the
    // group — deliberately NOT the r14 tagged-union single chain. That
    // rewrite halved the sequential AQE stage-chain count but pushed
    // 2× the rows through the heaviest stage (the first distinct) and
    // added the pivot's exchange; a quiet interleaved A/B of the two
    // shapes in one process (8 reps, 2–80 cs steal) had the two-chain
    // shape faster in 8/8 reps (min 2.20 s vs 2.45 s, ~12%), corroborating
    // the driver's r14 measurement (1.39 → 2.00 s). Under AQE the two
    // chains' independent stages also overlap, so the "sequential
    // chain" premise of the union shape was wrong.
    def kmv(in: String, out: String): DataFrame = {
      // distinct the raw VALUES first — a combinable two-phase distinct
      // on narrow longs with map-side collapse — and md5 only the
      // distinct survivors: the digest is the expensive per-row step
      // and corpus rows >> distinct values (6M -> 600k for partkey at
      // sf0.1). A second distinct collapses 52-bit hash collisions
      // (the estimator contract counts distinct HASHES).
      val h = li.select($"l_returnflag", col(in).as("v")).distinct()
        .select($"l_returnflag",
          conv(substring(md5($"v".cast("string")), 1, 13), 16, 10)
            .cast("long").as("h")).distinct()
      val nd = h.groupBy($"l_returnflag").agg(count(lit(1)).as("nd"))
      val bySalt = Window
        .partitionBy($"l_returnflag", pmod($"h", lit(KmvSalts)))
        .orderBy($"h")
      val cand = h.withColumn("rn", row_number().over(bySalt))
        .where($"rn" <= KmvK)
      // ≤ KmvSalts·KmvK longs per group regardless of corpus size;
      // get() (0-based, null out of bounds) instead of ANSI element_at —
      // a group with < k distinct hashes takes the exact-count branch
      val hk = cand.groupBy($"l_returnflag")
        .agg(get(array_sort(collect_list($"h")), lit(KmvK - 1)).as("hk"))
      nd.join(hk, Seq("l_returnflag"))
        .select($"l_returnflag",
          when($"nd" < KmvK, $"nd")
            .otherwise(expr(s"${KmvNum}L div hk")).as(out))
    }
    kmv("l_partkey", "approx_parts")
      .join(kmv("l_orderkey", "approx_orders"), Seq("l_returnflag"))
      .orderBy($"l_returnflag")
  }

  private def kmvSql(in: String, out: String): String =
    s"""h_$out AS (
       |  SELECT DISTINCT l_returnflag,
       |    ('0x' || substr(md5(CAST($in AS VARCHAR)), 1, 13))::BIGINT AS h
       |  FROM lineitem),
       |r_$out AS (
       |  SELECT l_returnflag, h,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
       |    COUNT(*) OVER (PARTITION BY l_returnflag) AS nd
       |  FROM h_$out),
       |e_$out AS (
       |  SELECT l_returnflag,
       |    CAST(CASE WHEN nd < $KmvK THEN nd ELSE $KmvNum // h END AS BIGINT) AS $out
       |  FROM r_$out WHERE rn = LEAST(nd, $KmvK))""".stripMargin

  val aggApproxDistinctSql: String =
    s"""WITH ${kmvSql("l_partkey", "approx_parts")},
       |${kmvSql("l_orderkey", "approx_orders")}
       |SELECT p.l_returnflag, p.approx_parts, o.approx_orders
       |FROM e_approx_parts p JOIN e_approx_orders o USING (l_returnflag)
       |ORDER BY p.l_returnflag""".stripMargin

  /** Deterministic KMV θ-sketch SET OPERATIONS — estimate the distinct
    * l_partkey UNION, INTERSECTION, and both DIFFERENCES (A∖B, B∖A —
    * the flags `ina ∧ ¬inr` / `¬ina ∧ inr` over the same k smallest,
    * completing the set algebra on sketches) between two corpus slices
    * (return
    * flags 'A' and 'R') WITHOUT joining the corpora: the θ-sketch trick
    * (union the two per-slice hash sets, θ = the k-th smallest union
    * hash, count how many of those k smallest appear in BOTH sides) —
    * at 100 TB this is how you measure corpus overlap (two crawls, two
    * dedup snapshots) from sketch-sized state instead of a
    * corpus × corpus join. Deterministic md5 + integer arithmetic, so
    * DuckDB reproduces every number bit-for-bit.
    *
    * Scale shape: per-slice distinct on raw values (combinable,
    * map-side), md5 on distinct survivors only, ONE membership-flag
    * aggregation on the hash (never a corpus join), then the salted
    * two-phase min-k (no unbounded window; phase 2 sees ≤ salts·k
    * rows). Estimates: |A∪B| ≈ (k−1)·2⁵² div h_k; |A∩B| ≈
    * c·((k−1)·2⁵² div h_k) div k (c = common among the k smallest;
    * exact when the union has < k hashes). */
  def aggSketchIntersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    def side(flag: String): DataFrame =
      li.where($"l_returnflag" === flag).select($"l_partkey".as("v"))
    sketchIntersectFrom(s, side("A"), side("R"))
  }

  /** The θ-sketch union/intersection core over any two `(v)` frames —
    * factored so the partial-overlap and exact-branch contracts are
    * pinnable on synthetic fixtures (SketchSpec). */
  private[queries] def sketchIntersectFrom(s: SparkSession,
      a: DataFrame, b: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def hashes(df: DataFrame): DataFrame =
      df.select(col(df.columns.head).as("v")).distinct()
        .select(conv(substring(md5($"v".cast("string")), 1, 13), 16, 10)
          .cast("long").as("h")).distinct()
    val flagged = hashes(a).select($"h", lit(1L).as("ina"), lit(0L).as("inr"))
      .unionByName(
        hashes(b).select($"h", lit(0L).as("ina"), lit(1L).as("inr")))
      .groupBy($"h").agg(max($"ina").as("ina"), max($"inr").as("inr"))
    val bySalt = Window.partitionBy(pmod($"h", lit(KmvSalts))).orderBy($"h")
    val cand = flagged.withColumn("rn", row_number().over(bySalt))
      .where($"rn" <= KmvK)
    cand
      .agg(slice(array_sort(collect_list(struct($"h", $"ina", $"inr"))),
        1, KmvK).as("top"))
      .select(size($"top").cast("long").as("nu"),
        get($"top", lit(KmvK - 1)).getField("h").as("hk"),
        size(filter($"top",
          e => e.getField("ina") === 1 && e.getField("inr") === 1))
          .cast("long").as("c"),
        // the DIFFERENCES fall out of the same k-smallest membership
        // flags: A∖B = ina ∧ ¬inr, B∖A = ¬ina ∧ inr — the same
        // proportional scaling completes the set algebra on sketches
        size(filter($"top",
          e => e.getField("ina") === 1 && e.getField("inr") === 0))
          .cast("long").as("ca"),
        size(filter($"top",
          e => e.getField("ina") === 0 && e.getField("inr") === 1))
          .cast("long").as("cb"))
      .select(
        when($"nu" < KmvK, $"nu")
          .otherwise(expr(s"${KmvNum}L div hk")).as("approx_union"),
        when($"nu" < KmvK, $"c")
          .otherwise(expr(s"c * (${KmvNum}L div hk) div $KmvK"))
          .as("approx_common"),
        when($"nu" < KmvK, $"ca")
          .otherwise(expr(s"ca * (${KmvNum}L div hk) div $KmvK"))
          .as("approx_only_a"),
        when($"nu" < KmvK, $"cb")
          .otherwise(expr(s"cb * (${KmvNum}L div hk) div $KmvK"))
          .as("approx_only_b"))
  }

  val aggSketchIntersectSql: String =
    s"""WITH ha AS (
       |  SELECT DISTINCT ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 13))::BIGINT AS h
       |  FROM (SELECT DISTINCT l_partkey AS v FROM lineitem WHERE l_returnflag = 'A')),
       |hr AS (
       |  SELECT DISTINCT ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 13))::BIGINT AS h
       |  FROM (SELECT DISTINCT l_partkey AS v FROM lineitem WHERE l_returnflag = 'R')),
       |u AS (SELECT h FROM ha UNION SELECT h FROM hr),
       |top AS (SELECT h FROM u ORDER BY h LIMIT $KmvK),
       |st AS (SELECT COUNT(*) AS nu, MAX(h) AS hk FROM top),
       |fl AS (
       |  SELECT top.h,
       |    CASE WHEN ha.h IS NOT NULL THEN 1 ELSE 0 END AS ina,
       |    CASE WHEN hr.h IS NOT NULL THEN 1 ELSE 0 END AS inr
       |  FROM top LEFT JOIN ha ON top.h = ha.h LEFT JOIN hr ON top.h = hr.h),
       |cc AS (
       |  SELECT CAST(SUM(ina * inr) AS BIGINT) AS c,
       |    CAST(SUM(ina * (1 - inr)) AS BIGINT) AS ca,
       |    CAST(SUM((1 - ina) * inr) AS BIGINT) AS cb
       |  FROM fl)
       |SELECT
       |  CAST(CASE WHEN nu < $KmvK THEN nu ELSE $KmvNum // hk END AS BIGINT) AS approx_union,
       |  CAST(CASE WHEN nu < $KmvK THEN c ELSE (c * ($KmvNum // hk)) // $KmvK END AS BIGINT) AS approx_common,
       |  CAST(CASE WHEN nu < $KmvK THEN ca ELSE (ca * ($KmvNum // hk)) // $KmvK END AS BIGINT) AS approx_only_a,
       |  CAST(CASE WHEN nu < $KmvK THEN cb ELSE (cb * ($KmvNum // hk)) // $KmvK END AS BIGINT) AS approx_only_b
       |FROM st, cc""".stripMargin

  /** Deterministic fixed-bin histogram quantiles — the oracle-able
    * stand-in for t-digest: bucket exact integer cents into fixed-width
    * bins, take the first bin whose cumulative count crosses the rank
    * threshold (integer cross-multiplication, no floats until the final
    * bin→value edge). Bin width bounds the error (1 quantity unit / $1);
    * memory is O(value range / bin width) per group, constant in rows —
    * the same contract a t-digest gives, deterministically. */
  def aggApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val li = Tables(s, dir, "lineitem")
    // p = num/den quantile of column c bucketed at binw cents
    def binQ(c: Column, binw: Long, num: Int, den: Int, out: String): DataFrame = {
      val counts = li.select($"l_returnflag", cents(c).as("cc"))
        .withColumn("bin", expr(s"cc div ${binw}L"))
        .groupBy($"l_returnflag", $"bin").agg(count(lit(1)).as("cnt"))
      val byBin = Window.partitionBy("l_returnflag").orderBy("bin")
      val all = Window.partitionBy("l_returnflag")
      counts
        .withColumn("cum", sum($"cnt").over(byBin))
        .withColumn("n", sum($"cnt").over(all))
        .where($"cum" * den >= $"n" * num)
        .groupBy($"l_returnflag")
        .agg((min($"bin") * binw / 100.0).as(out))
    }
    // quantity: 1-unit bins (exact for integer quantities); price: $10
    // bins — ~10k bins/group keeps the cumulative window tiny, and the
    // bin-edge error (≤$10 on a ~$95k p90, 0.01%) is far inside any
    // sketch's rank-error budget
    binQ($"l_quantity", 100L, 1, 2, "median_qty")
      .join(binQ($"l_extendedprice", 1000L, 9, 10, "p90_price"), Seq("l_returnflag"))
      .orderBy($"l_returnflag")
  }

  private def binQSql(in: String, binw: Long, num: Int, den: Int,
      out: String): String =
    s"""c_$out AS (
       |  SELECT l_returnflag, ${centsSql(in)} // $binw AS bin, COUNT(*) AS cnt
       |  FROM lineitem GROUP BY 1, 2),
       |w_$out AS (
       |  SELECT l_returnflag, bin,
       |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
       |    SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
       |  FROM c_$out),
       |e_$out AS (
       |  SELECT l_returnflag, MIN(bin) * $binw / 100.0 AS $out
       |  FROM w_$out WHERE cum * $den >= n * $num GROUP BY 1)""".stripMargin

  val aggApproxQuantilesSql: String =
    s"""WITH ${binQSql("l_quantity", 100L, 1, 2, "median_qty")},
       |${binQSql("l_extendedprice", 1000L, 9, 10, "p90_price")}
       |SELECT q.l_returnflag, q.median_qty, p.p90_price
       |FROM e_median_qty q JOIN e_p90_price p USING (l_returnflag)
       |ORDER BY q.l_returnflag""".stripMargin

  val queries: Map[String, QFn] = Map(
    "agg_quantiles" -> (aggQuantiles _),
    "agg_heavy_hitters" -> (aggHeavyHitters _),
    "agg_approx_quantiles" -> (aggApproxQuantiles _),
    "agg_approx_distinct" -> (aggApproxDistinct _),
    "agg_sketch_intersect" -> (aggSketchIntersect _))

  val oracles: Map[String, String] = Map(
    "agg_quantiles" -> aggQuantilesSql,
    "agg_heavy_hitters" -> aggHeavyHittersSql,
    "agg_approx_quantiles" -> aggApproxQuantilesSql,
    "agg_approx_distinct" -> aggApproxDistinctSql,
    "agg_sketch_intersect" -> aggSketchIntersectSql)
}
