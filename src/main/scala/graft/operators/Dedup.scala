package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Q._

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact, fingerprint (canonicalized token set), shingle
  * Jaccard via an inverted index, MinHash-LSH, SimHash. All scale
  * linearly (inverted-index / banding joins, never an O(n²) cross join);
  * jaccard thresholds compare with exact integer cross-multiplication so
  * no float boundary exists.
  */
object Dedup {

  /** 3-token shingles, distinct per doc; cached once per (session, dir)
    * so the dedup family shares one materialization. The cache assumes
    * the source dir is immutable (content-addressed-store discipline);
    * call [[invalidateCache]] after rewriting data in place. */
  private val shingleCache =
    new graft.core.Lru[(SparkSession, String), DataFrame](8, _.unpersist())
  private val sizedCache =
    new graft.core.Lru[(SparkSession, String), DataFrame](8, _.unpersist())

  def invalidateCache(): Unit = {
    shingleCache.invalidateAll()
    sizedCache.invalidateAll()
  }

  def shingles(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate((s, dir)) {
      Tables(s, dir, "documents")
        .withColumn("ts", split(col("text"), " "))
        .where(size(col("ts")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(ts)-3), i -> concat(ts[i], ' ', ts[i+1], ' ', ts[i+2]))")))
          .as("s"))
        .cache()
    }

  /** [[shingles]] with the doc's shingle-set size attached to every row
    * — the Jaccard-threshold join then needs NO doc-size side joins
    * (the sizes ride the inverted index through the shuffle), cutting
    * the dedup_shingle plan from three joins to one. Cached like the
    * index itself; one doc-size aggregation amortized across queries. */
  def shinglesSized(s: SparkSession, dir: String): DataFrame =
    sizedCache.getOrElseUpdate((s, dir)) {
      import s.implicits._
      val sh = shingles(s, dir)
      val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      sh.join(sz, "doc_id").cache()
    }

  /** The shingle CTE shared with [[IncrementalDedup]]'s oracles. */
  def shinglesSqlPublic: String = shinglesSql

  private val shinglesSql: String =
    """SELECT doc_id,
      |  unnest(list_distinct(list_transform(range(1, greatest(len(ts)-1, 1)),
      |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS s
      |FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      |WHERE len(ts) >= 3""".stripMargin

  /** Exact dedup: keep the minimum doc_id per distinct text (the
    * deterministic dropDuplicates). */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .groupBy($"text")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  val dedupExactSql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** Fingerprint dedup: canonical token-set fingerprint groups; emit
    * groups with >1 member (the near-dup clusters exact dedup misses). */
  def dedupFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .withColumn("fp", md5(concat_ws(" ",
        array_sort(array_distinct(split($"text", " "))))))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_members"))
      .where($"n_members" > 1)
      .select($"keep_id", $"n_members", $"fp")
      .orderBy($"keep_id")
  }

  val dedupFingerprintSql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_members, fp
      |FROM (SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      |  FROM documents)
      |GROUP BY fp HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin

  /** Near-dup pairs with 3-gram shingle Jaccard >= 0.5, via inverted
    * index: join docs on shared shingles (linear in postings), count
    * intersections, exact integer threshold 2*|A∩B| >= |A|+|B|-|A∩B|.
    * At 100 TB the hot-shingle skew is bounded by dropping shingles with
    * document frequency above a cap (not needed at test scale). */
  def dedupShingle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // doc sizes ride the index rows (shinglesSized), so the whole query
    // is ONE equi-join + one aggregation — no post-join size lookups
    val sh = shinglesSized(s, dir)
    sh.as("a").join(sh.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .agg(count(lit(1)).as("c"),
        max($"a.n").as("n_i"), max($"b.n").as("n_j"))
      .where(lit(10) * $"c" >= lit(5) * ($"n_i" + $"n_j" - $"c"))
      .select($"i", $"j", $"c".as("n_common"), $"n_i", $"n_j")
      .orderBy($"i", $"j")
  }

  val dedupShingleSql: String =
    s"""WITH sh AS ($shinglesSql),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i, j, c AS n_common, sa.n AS n_i, sb.n AS n_j
       |FROM inter
       |JOIN sz sa ON sa.doc_id = i
       |JOIN sz sb ON sb.doc_id = j
       |WHERE 10*c >= 5*(sa.n + sb.n - c)
       |ORDER BY i, j""".stripMargin

  /** [[dedupShingle]] with the hot-shingle document-frequency cap wired
    * in (SCALE.md): shingles in more than `ShingleMaxDf` docs are
    * dropped BEFORE the inverted-index self-join, and doc sizes are
    * recomputed on the filtered universe so the Jaccard threshold stays
    * internally consistent. A shingle in f docs costs f·(f−1)/2 join
    * pairs — at corpus scale one viral shingle would make the candidate
    * join quadratic; the cap bounds every posting list, making the join
    * cost at most maxDf·|vocab|. This is the 100 TB-ready variant; the
    * exact-semantics twin stays registered as dedup_shingle. */
  val ShingleMaxDf = 5
  def dedupShingleCapped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = capDocFreq(shingles(s, dir), ShingleMaxDf)
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sz.as("sa"), $"i" === $"sa.doc_id")
      .join(sz.as("sb"), $"j" === $"sb.doc_id")
      .where(lit(10) * $"c" >= lit(5) * ($"sa.n" + $"sb.n" - $"c"))
      .select($"i", $"j",
        $"c".as("n_common"), $"sa.n".as("n_i"), $"sb.n".as("n_j"))
      .orderBy($"i", $"j")
  }

  val dedupShingleCappedSql: String =
    s"""WITH sh0 AS ($shinglesSql),
       |keep AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= $ShingleMaxDf),
       |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i, j, c AS n_common, sa.n AS n_i, sb.n AS n_j
       |FROM inter
       |JOIN sz sa ON sa.doc_id = i
       |JOIN sz sb ON sb.doc_id = j
       |WHERE 10*c >= 5*(sa.n + sb.n - c)
       |ORDER BY i, j""".stripMargin

  /** dedup_winnow's (doc_id, n, fp) rows: one per distinct window
    * fingerprint, with n the doc's distinct-fingerprint count.
    *
    * n rides each row (instead of a groupBy(doc_id) re-derived from the
    * exploded rows, which cost a full-frame shuffle plus two
    * size-attach joins), and the pair aggregation folds it with max().
    * n must come from INSIDE the generator's input: aliasing the
    * fingerprint array as a column makes Catalyst infer `size(arr) > 0`
    * for the explode and push it below the projections, inlining the
    * md5 grams into every `slice` window — O(windows × grams) md5s per
    * document (0.99 s → 274 s at sf0.1). `transform(array(x), a -> …)`
    * binds the array once, as a let; PlanSpec pins that no md5 reaches
    * a Filter. The cast keeps n a BIGINT, the schema the oracle pins. */
  def winnowFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.spread(s, Tables(s, dir, "documents"))
      .withColumn("ts", split(col("text"), " "))
      .where(size($"ts") >= 6) // >= 4 grams -> >= 1 window
      .withColumn("grams", expr(
        "transform(sequence(0, size(ts)-3), i -> substring(md5(concat(ts[i], ' ', ts[i+1], ' ', ts[i+2])), 1, 8))"))
      .select($"doc_id", inline(expr(
        """flatten(transform(
          |  array(array_distinct(transform(sequence(1, size(grams)-3),
          |    i -> array_min(slice(grams, i, 4))))),
          |  a -> transform(a, fp ->
          |    named_struct('n', CAST(size(a) AS BIGINT), 'fp', fp))))""".stripMargin)))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every 3-token gram
    * (md5 prefix — identical in both engines, and lexicographic min over
    * hex strings is engine-independent), slide a window of 4 gram hashes,
    * keep each window's minimum — guarantees any shared run of ≥6 tokens
    * contributes a shared fingerprint, while storing ~1/4 of the grams.
    * Near-dups = fingerprint-set Jaccard >= 0.3 via the same inverted
    * index as dedup_shingle (integer cross-multiplied threshold). */
  def dedupWinnow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fps = winnowFingerprints(s, dir)
      // two consumers (both self-join sides): materialize the
      // fingerprints once — the md5-per-gram projection is the
      // expensive part and would otherwise run 2x. EAGER: the first
      // action on a lazy checkpoint has independent shuffle-map
      // stages racing the cache (each recomputing the projection);
      // eager materialization is one single-path job, after which every
      // consumer reads blocks (ADVICE r10).
      .localCheckpoint()
    fps.as("a").join(fps.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .agg(count(lit(1)).as("c"), max($"a.n").as("n_i"), max($"b.n").as("n_j"))
      .where(lit(10) * $"c" >= lit(3) * ($"n_i" + $"n_j" - $"c"))
      .select($"i", $"j", $"c".as("n_common"), $"n_i", $"n_j")
      .orderBy($"i", $"j")
  }

  val dedupWinnowSql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(ts)-1),
      |      i -> substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 8)) AS grams
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      |  WHERE len(ts) >= 6),
      |fps AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(grams)-2),
      |      i -> list_aggregate(list_slice(grams, i, i+3), 'min')))) AS fp
      |  FROM g),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM fps GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i, j, c AS n_common, sa.n AS n_i, sb.n AS n_j
      |FROM inter
      |JOIN sz sa ON sa.doc_id = i
      |JOIN sz sb ON sb.doc_id = j
      |WHERE 10*c >= 3*(sa.n + sb.n - c)
      |ORDER BY i, j""".stripMargin

  // ---- MinHash-LSH (oracle-backed: md5-derived hashes) -----------------

  /** 64 minhash permutations h_i(x) = (a_i*x32 + b_i) mod P, banded into
    * 16 bands of 4 rows (S-curve threshold ≈ 0.5); candidates share a
    * band signature; candidates are then VERIFIED with exact shingle
    * Jaccard, so the output equals the true >=0.5 pair set up to LSH
    * recall (>= 1 - 2e-4 at j=0.8). */
  val MinhashPerms = 64
  val MinhashBands = 16
  private val P = 4294967311L // prime > 2^32
  private val perms: (Array[Long], Array[Long]) = {
    // deterministic LCG-derived coefficients (a odd, < 2^30)
    var state = 0x9e3779b97f4a7c15L
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state >>> 34 }
    val as = Array.fill(MinhashPerms)((next() | 1L) % (1L << 30))
    val bs = Array.fill(MinhashPerms)(next() % P)
    (as, bs)
  }

  def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingles(s, dir)
    // one tight loop per doc computes all 64 permutation minima and the
    // 16 band signatures (explode-per-permutation costs a 64× row
    // blowup). A band signature is the TUPLE of its 4 row minima — no
    // mixing hash, so the bucket key is collision-free by construction
    // and (with the md5-derived h32) reproducible by the SQL oracle.
    val as = perms._1; val bs = perms._2
    val bandsUdf = udf { (hs: scala.collection.Seq[Long]) =>
      val mins = Array.fill(MinhashPerms)(Long.MaxValue)
      hs.foreach { h =>
        var i = 0
        while (i < MinhashPerms) {
          val v = (as(i) * h + bs(i)) % P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      // band b takes rows {b, b+16, b+32, b+48}, in row order
      Array.tabulate(MinhashBands) { b =>
        Array.iterate(b, MinhashPerms / MinhashBands)(_ + MinhashBands)
          .map(mins)
      }
    }
    val sig = sh
      // 32-bit hash from the md5 hex prefix: identical in DuckDB
      // (('0x' || substr(md5(s),1,8))::BIGINT), unlike xxhash64/murmur
      .withColumn("h32", conv(substring(md5($"s"), 1, 8), 16, 10).cast("long"))
      .groupBy($"doc_id").agg(collect_list($"h32").as("hs"))
      .select($"doc_id", posexplode(bandsUdf($"hs")).as(Seq("band", "sig")))
    val cands = sig.as("x").join(sig.as("y"),
        $"x.band" === $"y.band" && $"x.sig" === $"y.sig" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("i"), $"y.doc_id".as("j")).distinct()
    verifyJaccard(sh, cands, num = 5, den = 10) // exact j >= 0.5
      .orderBy($"i", $"j")
  }

  /** DuckDB oracle for [[dedupMinhash]] — possible because every stage
    * is engine-portable: md5-derived 32-bit shingle hashes, the 64
    * permutation minima under embedded (a,b) coefficients, tuple band
    * signatures (list equality, no mixing hash), and the exact-Jaccard
    * verification. */
  val dedupMinhashSql: String = {
    val aLit = perms._1.mkString("[", ",", "]")
    val bLit = perms._2.mkString("[", ",", "]")
    s"""WITH sh AS ($shinglesSql),
       |h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h32
       |      FROM sh),
       |perms AS (
       |  SELECT unnest(range(0, $MinhashPerms)) AS perm,
       |    unnest($aLit) AS a, unnest($bLit) AS b),
       |mins AS (
       |  SELECT doc_id, perm, MIN((a*h32 + b) % $P) AS mn
       |  FROM h, perms GROUP BY 1, 2),
       |sigs AS (
       |  SELECT doc_id, perm % $MinhashBands AS band,
       |    list(mn ORDER BY perm) AS sig
       |  FROM mins GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
       |  FROM sigs x JOIN sigs y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.i, c.j, COUNT(*) AS cc
       |  FROM cands c
       |  JOIN sh a ON a.doc_id = c.i
       |  JOIN sh b ON b.doc_id = c.j AND a.s = b.s
       |  GROUP BY 1, 2)
       |SELECT i, j FROM inter
       |JOIN sz sa ON sa.doc_id = i
       |JOIN sz sb ON sb.doc_id = j
       |WHERE 10*cc >= 5*(sa.n + sb.n - cc)
       |ORDER BY i, j""".stripMargin
  }

  /** Scale guard for the inverted-index join: drop shingles whose
    * document frequency exceeds `maxDf`. A shingle in f docs costs
    * f·(f−1)/2 join pairs, so one hot shingle ("in the the") can
    * dominate the whole join; dropping it loses no discriminative
    * signal. Returns the filtered index; callers must recompute doc
    * sizes on the FILTERED universe so the Jaccard threshold stays
    * internally consistent (it becomes Jaccard over rare shingles — the
    * standard production semantics). Wired into the oracle-checked
    * [[dedupShingleCapped]] (the 100 TB default); [[dedupShingle]] keeps
    * exact semantics for small corpora. */
  private[operators] def capDocFreq(sh: DataFrame, maxDf: Int): DataFrame = {
    import sh.sparkSession.implicits._
    val df = sh.groupBy($"s").agg(count(lit(1)).as("_df"))
      .where($"_df" <= maxDf)
      .select($"s")
    sh.join(df, "s") // broadcast-able when the surviving vocab is small;
                     // shuffle join otherwise — Catalyst/AQE decides
      .select(sh.columns.map(col): _*)
  }

  /** Join candidate pairs back to the shingle index and keep pairs with
    * exact Jaccard >= num/den (integer cross-multiplied). */
  private[operators] def verifyJaccard(sh: DataFrame, cands: DataFrame,
      num: Int, den: Int): DataFrame = {
    import sh.sparkSession.implicits._
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(sh.as("a"), $"i" === $"a.doc_id")
      .join(sh.as("b"), $"j" === $"b.doc_id" && $"a.s" === $"b.s")
      .groupBy($"i", $"j").agg(count(lit(1)).as("c"))
    inter
      .join(sz.as("sa"), $"i" === $"sa.doc_id")
      .join(sz.as("sb"), $"j" === $"sb.doc_id")
      .where(lit(den) * $"c" >= lit(num) * ($"sa.n" + $"sb.n" - $"c"))
      .select($"i", $"j")
  }

  // ---- SimHash (no SQL oracle: JVM hash) -------------------------------

  /** 128-bit SimHash over the 3-gram shingle set (unigram token sets are
    * near-identical for same-vocabulary corpora — shingles separate);
    * near-dups = Hamming distance <= [[SimhashMaxHamming]].
    *
    * Pair generation is SIZE-GATED between two plans that provably give
    * the SAME pair set (pinned in NorthStarSpec):
    *  - small corpus: broadcast the 16-byte signatures, scan each
    *    partition against the broadcast array with XOR+popcount;
    *  - large corpus: band the 128 bits into 16 8-bit blocks and bucket-
    *    join on (block index, block value). Pigeonhole: distance <= 15
    *    over 16 blocks forces at least one block to match exactly, so
    *    banded candidates lose NOTHING; the exact-distance filter then
    *    makes both paths identical. 256-way buckets per block position
    *    keep the join linear-ish — unlike 4-bit blocks over 64 bits
    *    (16-way buckets), which degenerate to all-pairs through a
    *    shuffle (measured in round 1; never reintroduce).
    * The gate therefore changes COST only, never semantics. */
  val SimhashMaxHamming = 15
  val SimhashBlocks = 16
  /** Broadcast-scan ceiling. The binding constraint is the O(n²/p)
    * scan, not the 24 B/doc primitive-array broadcast: at 100k docs the
    * scan is ~5e9 XOR+popcounts spread over the cluster (fine); at 1M+
    * it is 5e11+ (not fine) while the banded join stays near-linear. */
  val SimhashBroadcastMaxDocs = 100000L

  /** (doc_id, h1, h2) — the 128-bit signature as two longs. */
  private[operators] def simhash128(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val simhashUdf = udf { (shs: scala.collection.Seq[String]) =>
      // md5 IS a 128-bit hash — big-endian first/last 8 bytes become
      // (h1, h2), the same values DuckDB reads from the md5 hex string,
      // which is what makes the SQL oracle possible (murmur3 was not)
      val md = java.security.MessageDigest.getInstance("MD5")
      val acc = new Array[Int](128)
      shs.foreach { t =>
        md.reset()
        val bb = java.nio.ByteBuffer.wrap(md.digest(t.getBytes("UTF-8")))
        val h1 = bb.getLong(0)
        val h2 = bb.getLong(8)
        var b = 0
        while (b < 64) {
          acc(b) += (if (((h1 >>> b) & 1L) == 1L) 1 else -1)
          acc(b + 64) += (if (((h2 >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      var o1 = 0L; var o2 = 0L
      var b = 0
      while (b < 64) {
        if (acc(b) > 0) o1 |= (1L << b)
        if (acc(b + 64) > 0) o2 |= (1L << b)
        b += 1
      }
      (o1, o2)
    }
    shingles(s, dir)
      .groupBy($"doc_id").agg(collect_list($"s").as("shs"))
      .select($"doc_id", simhashUdf($"shs").as("sig"))
      .select($"doc_id", $"sig._1".as("h1"), $"sig._2".as("h2"))
  }

  /** Broadcast scan path: exact pair set for corpora whose signature
    * array fits a broadcast. */
  private[operators] def simhashBroadcast(sim: DataFrame): DataFrame = {
    val s = sim.sparkSession
    import s.implicits._
    // three PRIMITIVE arrays (24 B/doc), not an Array[Tuple3] of boxed
    // longs (~100+ B/doc) — the broadcast stays memory-honest
    val collected = sim.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val n = collected.length
    val ids = new Array[Long](n); val h1s = new Array[Long](n); val h2s = new Array[Long](n)
    var i = 0
    while (i < n) {
      ids(i) = collected(i)._1; h1s(i) = collected(i)._2; h2s(i) = collected(i)._3
      i += 1
    }
    val bcIds = s.sparkContext.broadcast(ids)
    val bcH1 = s.sparkContext.broadcast(h1s)
    val bcH2 = s.sparkContext.broadcast(h2s)
    val maxD = SimhashMaxHamming
    s.createDataFrame(
      s.sparkContext.parallelize(0 until n, s.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          val is = bcIds.value; val a1s = bcH1.value; val a2s = bcH2.value
          it.flatMap { a =>
            val ia = is(a); val a1 = a1s(a); val a2 = a2s(a)
            Iterator.range(a + 1, is.length).flatMap { b =>
              val d = java.lang.Long.bitCount(a1 ^ a1s(b)) +
                java.lang.Long.bitCount(a2 ^ a2s(b))
              if (d <= maxD) Some(org.apache.spark.sql.Row(ia, is(b), d)) else None
            }
          }
        },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("hamming", org.apache.spark.sql.types.IntegerType, false))))
  }

  /** Banded bucket-join path: 16 8-bit blocks, candidates share any
    * (block, value) bucket, exact distance filter — the 100 TB plan. */
  private[operators] def simhashBanded(sim: DataFrame): DataFrame = {
    val s = sim.sparkSession
    import s.implicits._
    val blocks = array((0 until SimhashBlocks).map { b =>
      val h = if (b < 8) col("h1") else col("h2")
      shiftrightunsigned(h, 8 * (b % 8)).bitwiseAND(lit(0xffL))
    }: _*)
    val sigB = sim.select($"doc_id", $"h1", $"h2",
      posexplode(blocks).as(Seq("blk", "bval")))
    sigB.as("x").join(sigB.as("y"),
        $"x.blk" === $"y.blk" && $"x.bval" === $"y.bval" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("i"), $"y.doc_id".as("j"),
        (bit_count($"x.h1".bitwiseXOR($"y.h1")) +
          bit_count($"x.h2".bitwiseXOR($"y.h2"))).cast("int").as("hamming"))
      .where($"hamming" <= SimhashMaxHamming)
      .distinct() // a pair can share several blocks
  }

  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // gate on the corpus row count (a parquet-footer count, no signature
    // computation): the two paths are result-identical (pigeonhole +
    // exact filter), so this picks a PLAN, not a semantics
    val nDocs = Tables(s, dir, "documents").count()
    val sim = simhash128(s, dir)
    val path =
      if (nDocs <= SimhashBroadcastMaxDocs) simhashBroadcast(sim)
      else simhashBanded(sim)
    path.orderBy($"i", $"j")
  }

  /** DuckDB oracle for [[dedupSimhash]]: the signature bits recompute
    * from the md5 HEX STRING — bit b of the big-endian 64-bit halves
    * lives in hex nibble 16−b/4 (h1) / 48−b/4 (h2) at in-nibble
    * position b mod 4 — so SQL derives the identical 128-bit model,
    * then scans all pairs with an element-wise hamming count. Both
    * Spark plans (broadcast scan / banded bucket join) equal this by
    * the pigeonhole argument, so one oracle covers the size gate. */
  val dedupSimhashSql: String =
    s"""WITH sh AS ($shinglesSql),
       |bits AS (SELECT unnest(range(0, 128)) AS b),
       |sigbits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN SUM(2*bit - 1) > 0 THEN 1 ELSE 0 END AS sb
       |  FROM (
       |    SELECT sh.doc_id, bits.b,
       |      (('0x' || substr(md5(sh.s),
       |          CAST(CASE WHEN b < 64 THEN 16 - b // 4
       |               ELSE 48 - b // 4 END AS INT), 1))::BIGINT
       |        // (1 << (b % 4))) % 2 AS bit
       |    FROM sh, bits)
       |  GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(sb ORDER BY b) AS sig
       |         FROM sigbits GROUP BY 1)
       |SELECT i, j, hamming FROM (
       |  SELECT a.doc_id AS i, b.doc_id AS j,
       |    CAST(list_sum(list_transform(range(1, 129),
       |      k -> CASE WHEN a.sig[k] <> b.sig[k] THEN 1 ELSE 0 END)) AS INT)
       |      AS hamming
       |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
       |WHERE hamming <= $SimhashMaxHamming
       |ORDER BY i, j""".stripMargin

  /** Near-dup CLUSTERS: connected components over the [[dedupShingle]]
    * pair graph, labeling every member with the minimum doc_id of its
    * component — the step that turns pairwise near-dup detection into
    * "keep one representative per cluster" corpus dedup (pairs alone
    * over-delete when A~B and B~C but A!~C).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the minimum label among itself and its neighbors; converges
    * in O(component diameter) rounds (near-dup clusters are small and
    * dense, so a handful). Each round is ONE shuffle join + one
    * aggregation on the edge list, fully distributed; the driver sees
    * only a per-round checksum. Convergence is detected by the label
    * SUM: labels are per-node monotone non-increasing, so the sum is
    * strictly decreasing until fixpoint (no row-level diff join needed).
    * At 100 TB scale the same loop applies (edges ≪ corpus because they
    * only exist among near-dups); if components ever grow deep, the
    * large-star/small-star rewrite halves diameter per round with the
    * identical join shape. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterTableRaw(s, dir).orderBy(col("doc_id"))

  /** The ONE definition of the shingle near-dup cluster table
    * (unordered) — shared by [[dedupClusters]] (which adds the output
    * sort) and [[dedupKeepBest]] (which re-aggregates, so sorting first
    * would be a wasted full exchange+sort before its checkpoint). */
  private def clusterTableRaw(s: SparkSession, dir: String): DataFrame =
    Components.connectedComponentsRaw(s,
      dedupShingle(s, dir).select(col("i"), col("j")),
      "i", "j", "doc_id", "n_docs")._1

  /** Cluster-representative selection — the curation step AFTER
    * clustering: from every near-dup cluster keep exactly one document
    * (the longest; ties to the smallest doc_id), and pass singletons
    * (docs in no near-dup pair) through unchanged, so the output IS the
    * deduplicated keep-list a corpus build feeds downstream.
    *
    * Scale shape: the representative argmax shuffles only the cluster
    * table (near-dup members, well under corpus size). The singleton
    * pass-through is a plain anti-join on the unique, uniform doc_id —
    * deliberately NOT hint-broadcast: near-dup membership is
    * corpus-PROPORTIONAL on real crawls (30-50% of docs), so forcing a
    * broadcast is exactly the 100 TB driver-OOM anti-pattern; AQE still
    * broadcasts it when the measured size is actually small. The argmax
    * is an exact struct-max (no max_by tie nondeterminism):
    * lexicographic (n_chars, -doc_id) makes ties deterministic. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame =
    keepBestFrom(s, clusterTableRaw(s, dir),
      Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")))

  /** The selection itself, over any `(doc_id, cluster_id, n_docs)`
    * cluster table and `(doc_id, n_chars)` corpus — factored so the
    * tie-break contract is pinnable on a synthetic fixture. */
  private[operators] def keepBestFrom(s: SparkSession, clusters0: DataFrame,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    // the cluster table feeds TWO consumers (the per-cluster max join
    // and the singleton anti-join); materialize it once — without this
    // the whole upstream clustering plan (pair graph + CC label joins)
    // executes twice. Row count is cluster membership (corpus-
    // proportional but 3 narrow columns), the same storage class as the
    // CC iteration's own per-round checkpoints. EAGER: a lazy checkpoint
    // would be materialized by an action whose two consumer branches
    // race the cache and recompute the upstream per branch (ADVICE r10);
    // the CC loop upstream already runs jobs at build time, so eager
    // here changes nothing about when work happens — only that it
    // happens once.
    val clusters = clusters0.localCheckpoint()
    val kept = clusters.join(docs, "doc_id")
      .groupBy($"cluster_id")
      .agg(max(struct($"n_chars", (-$"doc_id").as("neg_id"))).as("m"),
        max($"n_docs").as("n_docs"))
      .select((-$"m.neg_id").as("keep_id"), $"cluster_id", $"n_docs",
        $"m.n_chars".as("n_chars"))
    val singles = docs
      .join(clusters.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id".as("keep_id"), $"doc_id".as("cluster_id"),
        lit(1L).as("n_docs"), $"n_chars")
    kept.unionByName(singles).orderBy($"keep_id")
  }

  /** The cluster algebra (shingle pairs → connected components →
    * component sizes) shared verbatim by the [[dedupClustersSql]] and
    * [[dedupKeepBestSql]] oracles — one definition of what "a cluster"
    * means, same sharing discipline as `$shinglesSql`. Emits CTEs
    * `comp(doc_id, cluster_id)` and `csz(cluster_id, n_docs)`. */
  private val clustersCoreSql: String =
    s"""sh AS ($shinglesSql),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT i, j FROM inter
       |  JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
       |  WHERE 10*c >= 5*(sa.n + sb.n - c)),
       |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT e.b AS id, r.r FROM reach r JOIN edges e ON e.a = r.id),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
       |csz AS (SELECT cluster_id, COUNT(*) AS n_docs FROM comp GROUP BY 1)""".stripMargin

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE $clustersCoreSql,
       |ranked AS (
       |  SELECT comp.cluster_id, comp.doc_id, d.n_chars, csz.n_docs,
       |    row_number() OVER (PARTITION BY comp.cluster_id
       |      ORDER BY d.n_chars DESC, comp.doc_id ASC) AS rn
       |  FROM comp JOIN csz USING (cluster_id)
       |  JOIN documents d ON d.doc_id = comp.doc_id)
       |SELECT doc_id AS keep_id, cluster_id, n_docs, n_chars
       |FROM ranked WHERE rn = 1
       |UNION ALL
       |SELECT d.doc_id, d.doc_id, CAST(1 AS BIGINT), d.n_chars
       |FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
       |ORDER BY keep_id""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $clustersCoreSql
       |SELECT doc_id, cluster_id, n_docs FROM comp JOIN csz USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** Exact duplicated-SUBSTRING scrubbing (the "ExactSubstr" dedup of
    * the dedup-training-data literature, re-expressed as k-gram
    * coverage): a token of doc d is removed iff some [[SpanK]]-gram of
    * d covering it also occurs in a LOWER-id document — the first
    * occurrence keeps its text, later docs lose exactly the duplicated
    * spans (within-doc repeats are not duplicates). Unlike doc-level
    * dedup this scrubs boilerplate shared across otherwise-distinct
    * pages (headers, licenses, templates).
    *
    * Shape at 100 TB: one generator explode (n_tokens rows/doc — the
    * shingle-family cost), a combinable min-agg per gram (map-side
    * collapse kills gram skew before the exchange), one fact join back
    * on gram, and per-DOC covered-position sets (bounded by document
    * length, never corpus) — three shuffles, no driver data. Output
    * pins the reconstruction byte-exactly via md5(clean_text). */
  val SpanK = 8

  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    spansFrom(s, Tables(s, dir, "documents").select(col("doc_id"), col("text")))

  /** The scrub itself over any `(doc_id, text)` frame — factored so the
    * coverage contract is pinnable on a synthetic fixture (SpanSpec). */
  private[operators] def spansFrom(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val toks = docs.select($"doc_id", split($"text", " ").as("ts"))
    val grams = toks
      .where(size($"ts") >= SpanK)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(1, size(ts) - ${SpanK - 1}), " +
          s"i -> concat_ws(' ', slice(ts, i, $SpanK)))"))
        .as(Seq("pos0", "gram")))
    val first = grams.groupBy($"gram").agg(min($"doc_id").as("fd"))
    val covered = grams.join(first, "gram")
      .where($"fd" < $"doc_id")
      .select($"doc_id",
        explode(expr(s"sequence(pos0, pos0 + ${SpanK - 1})")).as("cv"))
      .distinct()
      .groupBy($"doc_id").agg(sort_array(collect_set($"cv")).as("cov"))
    // kept = tokens at positions NOT in cov. array_except builds one
    // hash set over cov and scans the position range once — linear in
    // doc length (the per-token array_contains scan it replaces was
    // O(|cov|) per token, quadratic for heavily-duplicated long docs)
    toks.join(covered, Seq("doc_id"), "left")
      .select($"doc_id",
        size($"ts").cast("long").as("n_tokens"),
        expr("CASE WHEN cov IS NULL THEN ts ELSE " +
          "transform(array_except(sequence(0, size(ts) - 1), cov), i -> ts[i]) END")
          .as("kept"))
      .select($"doc_id", $"n_tokens",
        ($"n_tokens" - size($"kept")).as("n_removed"),
        md5(concat_ws(" ", $"kept")).as("clean_md5"))
      .orderBy($"doc_id")
  }

  val dedupSpansSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos0, array_to_string(ts[i:i+${SpanK - 1}], ' ') AS gram
       |  FROM t, unnest(range(1, len(ts) - ${SpanK - 2})) AS r(i)),
       |first AS (SELECT gram, min(doc_id) AS fd FROM g GROUP BY 1),
       |cov AS (
       |  SELECT DISTINCT g.doc_id, g.pos0 + o.o AS cv
       |  FROM g JOIN first USING (gram), unnest(range($SpanK)) AS o(o)
       |  WHERE first.fd < g.doc_id),
       |tok AS (
       |  SELECT doc_id, ts[i] AS tok, i - 1 AS idx
       |  FROM t, unnest(range(1, len(ts) + 1)) AS r(i)),
       |kept AS (
       |  SELECT tok.doc_id, tok.tok, tok.idx FROM tok
       |  LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.cv = tok.idx
       |  WHERE cov.cv IS NULL),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY idx) AS clean
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, len(t.ts) AS n_tokens,
       |  len(t.ts) - coalesce(a.n_kept, 0) AS n_removed,
       |  md5(coalesce(a.clean, '')) AS clean_md5
       |FROM t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "dedup_spans" -> (dedupSpans _),
    "dedup_exact" -> (dedupExact _),
    "dedup_fingerprint" -> (dedupFingerprint _),
    "dedup_shingle" -> (dedupShingle _),
    "dedup_shingle_capped" -> (dedupShingleCapped _),
    "dedup_winnow" -> (dedupWinnow _),
    "dedup_minhash" -> (dedupMinhash _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_keep_best" -> (dedupKeepBest _))

  val oracles: Map[String, String] = Map(
    "dedup_spans" -> dedupSpansSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_fingerprint" -> dedupFingerprintSql,
    "dedup_shingle" -> dedupShingleSql,
    "dedup_shingle_capped" -> dedupShingleCappedSql,
    "dedup_winnow" -> dedupWinnowSql,
    "dedup_minhash" -> dedupMinhashSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_keep_best" -> dedupKeepBestSql)
}
