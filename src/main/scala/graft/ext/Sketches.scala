package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.engine.Tokenizer
import graft.functions.GraftFunctions

/** Deterministic cardinality sketches: KMV (k-minimum-values) and an
  * integer-exact HyperLogLog.
  *
  * Spark's `approx_count_distinct` is HyperLogLog++ — a fine estimator
  * but not reproducible in another engine, so it can't be oracle-gated.
  * Both sketches here are built over our explicit 31-bit polynomial
  * hash, so DuckDB computes the identical state. KMV: both engines take
  * the k smallest DISTINCT hash values and compute the same integer
  * estimate  est = (k-1)·P div h_k  (the classic KMV estimator with
  * hashes uniform on [0, P)). HLL: see [[hllDistinctShingles]].
  *
  * Scale shape: hash map-side, distinct + take-ordered(k) — the shuffle
  * carries at most k values per partition (TakeOrdered partial), never
  * the full distinct set. Exactly the sketch contract: fixed tiny state
  * regardless of input size.
  */
object Sketches {

  // Declared FIRST: object vals initialize in declaration order, and the
  // SQL strings below interpolate P at init time — a forward reference
  // would silently interpolate 0.
  private val P = graft.ext.Hashing.P

  private val K = 64
  /** Set-op sketches need more resolution than a lone distinct-count:
    * the intersection estimate sees ~k*J hits, so k must be >> 1/J for
    * the gate to be non-vacuous (k=64 at J~2.5% would round to zero;
    * 512 yields ~13 hits at sf0.01). Still constant-size state. */
  private val KSet = 512

  /** KMV distinct estimate over the corpus's 3-word shingle hashes (the
    * high-cardinality universe the dedup layer works in — the synthetic
    * word vocabulary itself is tiny). Output one row: (n_hashes,
    * kth_hash, est_distinct, exact_distinct); exact is cheap at test
    * scale — at 100 TB you would drop it, the estimate is the product. */
  def kmvDistinctWords(spark: SparkSession, sfDir: String): DataFrame = {
    val distinctH = Tables.documents(spark, sfDir)
      .select(explode(GraftFunctions.shingleHashes(
        GraftFunctions.wordHashes(col("text")), 3)).as("h"))
      .distinct()
    val mink = distinctH.orderBy(col("h")).limit(K)
    val scale = (K - 1).toLong * graft.ext.Hashing.P // fits: < 2^38
    // Fewer than k distinct hashes ⇒ the sketch holds the whole set and
    // IS the exact count (the standard KMV small-cardinality case).
    // The max(h) = 0 guard keeps both engines on that exact branch if
    // the k-th smallest hash were 0 (Spark `div` yields NULL where
    // DuckDB `//` errors — they would diverge instead of degrading
    // together; unreachable for k > 1 over distinct hashes, guarded so
    // the invariant is explicit, mirrored in the oracle SQL).
    // exact_distinct joins in as a 1-row aggregate so the whole query
    // stays ONE lazy plan (no job at DataFrame-construction time).
    mink.agg(
      count(col("h")).as("n_hashes"),
      max(col("h")).as("kth_hash"),
      expr(s"CASE WHEN count(h) < $K OR max(h) <= 0 THEN count(h) " +
        s"ELSE ${scale}L div max(h) END").as("est_distinct"))
      .crossJoin(distinctH.agg(count(lit(1)).as("exact_distinct")))
  }

  val kmvDistinctWordsSql: String = {
    import graft.ext.Hashing.{shingleHashesSql, wordHashesSql}
    s"""WITH h AS (
       |  SELECT DISTINCT unnest(sh) AS h FROM (
       |    SELECT ${shingleHashesSql("whs", 3)} AS sh FROM (
       |      SELECT ${wordHashesSql("text")} AS whs FROM documents))),
       |mink AS (SELECT h FROM h ORDER BY h LIMIT $K)
       |SELECT COUNT(h) AS n_hashes, MAX(h) AS kth_hash,
       |  CASE WHEN COUNT(h) < $K OR MAX(h) <= 0 THEN COUNT(h)
       |       ELSE ${(K - 1).toLong * P} // MAX(h) END AS est_distinct,
       |  (SELECT COUNT(*) FROM h) AS exact_distinct
       |FROM mink""".stripMargin
  }

  /** KMV as a GROUPED aggregate — the production usage: one k-row
    * sketch PER GROUP (here: distinct 3-word shingles per document
    * source), estimated and compared against the exact per-group
    * distinct. Scale shape: distinct (group, h) reduces map-side, the
    * per-group k-smallest ranking rides the SAME group-keyed exchange
    * (row_number window), and per-group state is ≤ k rows regardless
    * of group size — the sketch family's mergeability point, proven
    * per-key instead of globally. Exact counts are test-scale
    * audit columns, as in [[kmvDistinctWords]]. */
  def kmvGroupedShingles(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.documents(spark, sfDir)
      .select(col("source"), explode(GraftFunctions.shingleHashes(
        GraftFunctions.wordHashes(col("text")), 3)).as("h"))
      .distinct()
    val w = Window.partitionBy(col("source")).orderBy(col("h"))
    val mink = sh.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
    val scale = (K - 1).toLong * P
    val est = mink.groupBy(col("source")).agg(
      count(col("h")).as("n_hashes"),
      max(col("h")).as("kth_hash"),
      expr(s"CASE WHEN count(h) < $K OR max(h) <= 0 THEN count(h) " +
        s"ELSE ${scale}L div max(h) END").as("est_distinct"))
    val exact = sh.groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"))
    est.join(exact, Seq("source"))
  }

  val kmvGroupedShinglesSql: String = {
    import graft.ext.Hashing.{shingleHashesSql, wordHashesSql}
    s"""WITH sh AS (
       |  SELECT DISTINCT source, unnest(sh) AS h FROM (
       |    SELECT source, ${shingleHashesSql("whs", 3)} AS sh FROM (
       |      SELECT source, ${wordHashesSql("text")} AS whs FROM documents))),
       |mink AS (SELECT source, h FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM sh) WHERE rn <= $K),
       |est AS (SELECT source, COUNT(h) AS n_hashes, MAX(h) AS kth_hash,
       |    CASE WHEN COUNT(h) < $K OR MAX(h) <= 0 THEN COUNT(h)
       |         ELSE ${(K - 1).toLong * P} // MAX(h) END AS est_distinct
       |  FROM mink GROUP BY source),
       |exact AS (SELECT source, COUNT(*) AS exact_distinct FROM sh GROUP BY source)
       |SELECT est.source, n_hashes, kth_hash, est_distinct, exact_distinct
       |FROM est JOIN exact ON est.source = exact.source""".stripMargin
  }

  // ------------------------------------------------- count-min sketch

  private val CmsDepth = 4
  private val CmsWidth = 1024L

  /** Words whose frequency the gated query estimates (last one is
    * absent from the synthetic vocabulary — the over-estimate-only
    * guarantee is exercised, not just the happy path). */
  private val ProbeWords = Seq("the", "data", "table", "value", "xyzzy")

  /** Driver-side twin of the wordHashes char fold (ASCII probe words
    * only — identical to the kernel for a-z input). */
  private def wordHash(w: String): Long =
    w.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % P)

  private def cmsBucket(h: Long, depth: Int): Long = {
    val a = graft.functions.HashKernels.permA(depth)
    val b = graft.functions.HashKernels.permB(depth)
    ((a * h + b) % P) % CmsWidth
  }

  /** Count-min sketch over the corpus's word stream + probe estimates —
    * the mergeable heavy-hitter structure of a streaming frequency
    * pipeline, built DETERMINISTICALLY (the MinHash permutation family
    * hashes row d, so the DuckDB oracle computes the identical sketch).
    *
    * Output per probe word: the CMS estimate (min over depth rows of
    * the probed bucket count) and the exact count — est ≥ exact by
    * construction, equality except under bucket collisions.
    *
    * Scale shape: the sketch is a groupBy over (depth, bucket) —
    * AT MOST depth×width = 4096 rows of state regardless of corpus
    * size, map-side combinable, mergeable across partitions/streams by
    * addition. Probes join against the tiny sketch; the exact counts
    * are one filtered aggregation over the word stream. */
  def cmsWordCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wh = Tables.documents(spark, sfDir)
      .select(explode(GraftFunctions.wordHashes(col("text"))).as("h"))
    // ONE pass: each hash explodes into its CmsDepth (depth, bucket)
    // rows inline — a union of per-depth branches would rescan the
    // corpus once per depth (Catalyst does not merge common subplans
    // across union branches).
    val depthBuckets = array((0 until CmsDepth).map { d =>
      val a = graft.functions.HashKernels.permA(d)
      val b = graft.functions.HashKernels.permB(d)
      struct(lit(d).as("depth"),
        (((lit(a) * col("h") + lit(b)) % P) % CmsWidth).as("bucket"))
    }: _*)
    val sketch = wh.select(explode(depthBuckets).as("db"))
      .groupBy(col("db.depth").as("depth"), col("db.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val probes = ProbeWords.flatMap { w =>
      val h = wordHash(w)
      (0 until CmsDepth).map(d => (w, h, d, cmsBucket(h, d)))
    }.toDF("word", "h", "depth", "bucket")
    val est = probes.join(sketch, Seq("depth", "bucket"), "left")
      .groupBy(col("word"), col("h"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
    val exact = wh.filter(col("h").isin(ProbeWords.map(wordHash): _*))
      .groupBy(col("h").as("eh"))
      .agg(count(lit(1)).as("exact_count"))
    est.join(exact, col("h") === col("eh"), "left")
      .select(col("word"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
  }

  val cmsWordCountsSql: String = {
    import graft.ext.Hashing.wordHashesSql
    val sketchRows = (0 until CmsDepth).map { d =>
      val a = graft.functions.HashKernels.permA(d)
      val b = graft.functions.HashKernels.permB(d)
      s"SELECT $d AS depth, (($a*h + $b) % $P) % $CmsWidth AS bucket FROM wh"
    }.mkString("\n  UNION ALL\n  ")
    val probeRows = ProbeWords.flatMap { w =>
      val h = wordHash(w)
      (0 until CmsDepth).map(d => s"('$w', ${h}, $d, ${cmsBucket(h, d)})")
    }.mkString(",\n  ")
    s"""WITH wh AS (
       |  SELECT unnest(${wordHashesSql("text")}) AS h FROM documents),
       |rows AS (
       |  $sketchRows),
       |sketch AS (SELECT depth, bucket, COUNT(*) AS cnt FROM rows GROUP BY 1, 2),
       |probes(word, h, depth, bucket) AS (VALUES
       |  $probeRows),
       |est AS (
       |  SELECT word, h, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_count
       |  FROM probes LEFT JOIN sketch USING (depth, bucket)
       |  GROUP BY word, h),
       |exact AS (SELECT h AS eh, COUNT(*) AS exact_count FROM wh GROUP BY h)
       |SELECT word, est_count,
       |  CAST(COALESCE(exact_count, 0) AS BIGINT) AS exact_count
       |FROM est LEFT JOIN exact ON h = eh""".stripMargin
  }

  // ------------------------------------------------- bloom filter

  private val BloomBits = 8192L
  private val BloomHashes = 3

  /** The bloom's k bit positions for an already-idHash'd key column —
    * the same universal-hash perm family the CMS/MinHash layers use, so
    * the DuckDB oracle computes the identical filter. `m` is the bit
    * width (fixed [[BloomBits]] for the membership CONFUSION gate,
    * dim-adaptive for the filtered JOIN). */
  private def bloomPositions(h: org.apache.spark.sql.Column,
      m: Long = BloomBits) =
    array((0 until BloomHashes).map { d =>
      val a = graft.functions.HashKernels.permA(d)
      val b = graft.functions.HashKernels.permB(d)
      ((lit(a) * h + lit(b)) % P) % m
    }: _*)

  /** Adaptive bloom width for the filtered join: m = max([[BloomBits]],
    * 2^(⌊log₂ n⌋+5)) — at least 16·n bits for any dim cardinality n, so
    * the fill ratio stays ≤ ~0.1 and the FP tax bounded at every SF.
    * The fixed 8192-bit width SATURATED at sf10 (210k March-1995
    * orders: fill → 1.0, every probe row passed, and the "filtered"
    * side was the whole 60M-row fact table — measured 5.5× per 3.33×
    * isolated). Cross-engine exact (the adaptiveBits LSH discipline):
    * floor-log2 is bit arithmetic here and FLOOR(LOG2(n)) in the
    * oracle — exact at powers of two, safely non-integral elsewhere.
    * Gate SFs sit below the 8192 floor, so gate values are
    * byte-identical to the fixed-width ones. */
  private def adaptiveBloomBits(n: Long): Long = {
    val fl = 63 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))
    math.max(BloomBits, 1L << (fl + 5))
  }

  /** Default fact-row gate for [[maybeBloomPrefilter]]: engage only
    * past 10⁸ fact rows (≈ sf17 on this generator). Below it the
    * selective dim broadcasts (or the fact shuffle is trivial) and the
    * bloom's extra dim scan + probe pass is pure overhead; above it the
    * filtered dim has outgrown the 10 MB broadcast estimate (the
    * sf30-measured flip, OPTIMIZATION_r17 §attribution) and the
    * post-flip plan shuffles the WHOLE fact for a ~2–3%-selective join.
    * Overridable per session via `spark.graft.bloom.factRowGate`
    * (tests force 1 to pin gated ≡ plain; production tunes it with the
    * broadcast threshold, the two dials this trade actually hangs on). */
  private val BloomFactRowGateDefault = 100000000L

  /** The Bloom pre-filter's fact-row gate: conf key, else env var, else
    * [[BloomFactRowGateDefault]]; a value that does not parse falls back
    * to the default ([[graft.Knobs]]). */
  private[graft] def bloomFactRowGate(spark: SparkSession,
      env: Map[String, String] = sys.env): Long =
    graft.Knobs.long("spark.graft.bloom.factRowGate",
      spark.conf.getOption("spark.graft.bloom.factRowGate")
        .orElse(env.get("SPARK_GRAFT_BLOOM_GATE")), BloomFactRowGateDefault)

  /** Input-size-gated Bloom pre-filter for a fact ⋈ selective-dim
    * equi-join (guide §3.2: reduce the big side BEFORE shuffling it).
    *
    * Below the gate: returns `fact` UNCHANGED — the small-SF plan is
    * byte-identical, so driver-graded sf0.1 sessions measure the same
    * query they always did. At or above the gate (footer-derived
    * lineitem row count, a metadata read memoized per session — never a
    * scan): builds the [[adaptiveBloomBits]]-wide bit vector over
    * `dimKeys` (ONE extra dim scan, checkpointed so the count and the
    * bit build share it), broadcasts the single-row vector, and drops
    * fact rows by pure row-local shift/mask arithmetic BEFORE any
    * exchange. ~2–3% of the fact (+ ≤1% FP tax) reaches the join
    * instead of 100%.
    *
    * Result-identical BY CONSTRUCTION at any gate setting: a Bloom
    * filter has no false negatives, every surviving non-match is
    * removed by the equi-join it precedes, and the filter feeds an
    * INNER join input — so the gated and plain plans compute the same
    * frame (SketchesSpec pins gated ≡ plain row-for-row; the DuckDB
    * oracle, which never sees the bloom, pins it at the gate SFs). */
  private[graft] def maybeBloomPrefilter(spark: SparkSession, sfDir: String,
      fact: DataFrame, factKey: String, dimKeys: DataFrame): DataFrame = {
    if (graft.Tables.lineitemRowsMemo(spark, sfDir) < bloomFactRowGate(spark)) fact
    else {
      val keys = dimKeys.toDF("k").localCheckpoint()
      val mBits = adaptiveBloomBits(keys.count())
      val mWords = mBits / 32L
      val words = keys
        .select(explode(bloomPositions(Hashing.idHash(col("k")), mBits))
          .as("bit"))
        .select((col("bit") / lit(32L)).cast("long").as("w"),
          expr("shiftleft(1L, CAST(bit % 32 AS INT))").as("m"))
        .groupBy("w").agg(expr("bit_or(m)").as("bits"))
      val bv = spark.range(mWords).select(col("id").as("w"))
        .join(words, Seq("w"), "left")
        .select(col("w"), coalesce(col("bits"), lit(0L)).as("bits"))
        .agg(expr("transform(array_sort(collect_list(struct(w, bits)))," +
          " s -> s.bits)").as("__graft_bv"))
      fact
        .withColumn("__graft_bp",
          bloomPositions(Hashing.idHash(col(factKey)), mBits))
        .crossJoin(broadcast(bv))
        .filter((0 until BloomHashes).map { d =>
          expr("(shiftright(element_at(__graft_bv," +
            s" CAST(__graft_bp[$d] / 32 AS INT) + 1)," +
            s" CAST(__graft_bp[$d] % 32 AS INT)) & 1) = 1")
        }.reduce(_ && _))
        .drop("__graft_bp", "__graft_bv")
    }
  }

  /** Bloom-filter membership pre-filter — the join-pruning sketch: build
    * a deterministic m=8192-bit / k=3 bloom over the custkeys that
    * ordered in March 1995 (~12% of customers at any SF), probe EVERY
    * customer, and report the confusion counts. `n_false_negative` is
    * structurally 0 (the bloom guarantee); `n_false_positive` is the
    * price of the fixed bit budget and grows with fill ratio — the
    * output makes that trade measurable instead of assumed.
    *
    * Scale shape: the filter is `≤ m` distinct bit rows — FIXED state
    * regardless of corpus size (size m for the expected member count n;
    * the sketch is mergeable by union, i.e. bitwise OR). Building it is
    * one distinct + explode; probing is an equi-join against the tiny
    * broadcast bit set (SF-independent ⇒ hint is safe under the
    * broadcast policy) + a per-key count. At 100 TB this is exactly the
    * pattern that pre-prunes a fact⋈fact join: ship the m-bit filter,
    * drop the (1-FP)·non-member fraction of the big side before the
    * shuffle. */
  def bloomMembership(spark: SparkSession, sfDir: String): DataFrame = {
    // Both frames fan out to multiple consumers below (members → bits +
    // is_member join; bits → probe join + bits_set count), so cut the
    // lineage ONCE each — otherwise the orders scan and the
    // distinct/explode re-run per consumer (same pattern as
    // knnRecallAudit's exact baseline).
    // localCheckpoint() is eager and stores blocks on EXECUTOR-LOCAL
    // (non-replicated) storage with the lineage truncated: if an executor
    // dies, the blocks are gone and the job cannot recompute them. That
    // trade is deliberate here — both frames are small (≤ distinct
    // custkeys / ≤ m bit rows), re-running the whole query on a lost
    // executor is cheap, and persist()+unpersist() would leave the second
    // scan in place until an action ran. On a long-lived cluster job,
    // prefer reliable checkpoint() or persist(DISK_ONLY_2) for frames
    // whose loss is expensive.
    val members = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate").between(lit("1995-03-01").cast("date"),
        lit("1995-03-31").cast("date")))
      .select(col("o_custkey").as("ck")).distinct()
      .localCheckpoint()
    val bits = members
      .select(explode(bloomPositions(Hashing.idHash(col("ck")))).as("bit"))
      .distinct()
      .localCheckpoint()
    // ONE probe-side scan: left-join the exploded (ck, bit) rows
    // against the broadcast bit set with a hit flag — every customer
    // keeps its k rows, so no second scan is needed to recover
    // zero-hit customers (mirrors the oracle's ppos LEFT JOIN bits).
    val flagged = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("ck"))
      .select(col("ck"), explode(bloomPositions(Hashing.idHash(col("ck")))).as("bit"))
      .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("bit"), "left")
      .groupBy("ck").agg(sum(coalesce(col("hit"), lit(0L))).as("nhit"))
      .withColumn("bloom_pos", col("nhit") === BloomHashes)
      .join(members.withColumn("is_member", lit(true)), Seq("ck"), "left")
    flagged.agg(
      count(lit(1)).as("n_probes"),
      sum(when(col("is_member"), 1L).otherwise(0L)).as("n_members"),
      sum(when(col("bloom_pos"), 1L).otherwise(0L)).as("n_bloom_positive"),
      sum(when(col("bloom_pos") && col("is_member").isNull, 1L).otherwise(0L))
        .as("n_false_positive"),
      sum(when(!col("bloom_pos") && col("is_member"), 1L).otherwise(0L))
        .as("n_false_negative"))
      .crossJoin(bits.agg(count(lit(1)).as("bits_set")))
  }

  val bloomMembershipSql: String = {
    val perms = (0 until BloomHashes).map { d =>
      s"(${graft.functions.HashKernels.permA(d)}, ${graft.functions.HashKernels.permB(d)})"
    }.mkString(", ")
    s"""WITH perms(a, b) AS (VALUES $perms),
       |members AS (SELECT DISTINCT o_custkey AS ck FROM orders
       |  WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'),
       |bits AS (SELECT DISTINCT ((a*${Hashing.idHashSql("ck")} + b) % $P) % $BloomBits AS bit
       |  FROM members, perms),
       |ppos AS (SELECT c_custkey AS ck,
       |    ((a*${Hashing.idHashSql("c_custkey")} + b) % $P) % $BloomBits AS bit
       |  FROM customer, perms),
       |flag AS (SELECT ppos.ck, COUNT(bits.bit) = $BloomHashes AS bloom_pos
       |  FROM ppos LEFT JOIN bits ON ppos.bit = bits.bit GROUP BY ppos.ck),
       |conf AS (SELECT
       |    CAST(COUNT(*) AS BIGINT) AS n_probes,
       |    CAST(SUM(CASE WHEN m.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       |    CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_positive,
       |    CAST(SUM(CASE WHEN bloom_pos AND m.ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
       |    CAST(SUM(CASE WHEN NOT bloom_pos AND m.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negative
       |  FROM flag LEFT JOIN members m ON flag.ck = m.ck)
       |SELECT conf.*, (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set
       |FROM conf""".stripMargin
  }

  // ------------------------------------------------- bloom-filtered join

  /** Bloom-filtered fact⋈dim join — the runtime-filter composition that
    * [[bloomMembership]] only measures: build the bloom over the DIM
    * side's join keys, pack it into an (m/32)-long bit VECTOR
    * (not bit rows; 32 bits per long, not 64 — DuckDB range-checks
    * `1::BIGINT << 63` as overflow while Spark wraps, so the portable
    * mask keeps shifts ≤ 31), broadcast the single-row vector, and drop
    * probe rows with pure row-local shift/mask arithmetic BEFORE the
    * join's exchange. This is the semi-join reduction Spark's own
    * `runtime.bloomFilter.enabled` rewrite injects — built explicitly
    * here so the pruning is a composable, measurable operator.
    *
    * Gate semantics: the oracle computes revenue from the PLAIN join
    * (no bloom), so equality proves the prefilter lost no matching row
    * (the bloom's no-false-negative guarantee, now end-to-end through a
    * real join); `n_bloom_passed` is replayed bit-exactly by the oracle,
    * making the pruning ratio (passed/probe ≈ member fraction + FP
    * rate) part of the hash, not a prose claim.
    *
    * Scale shape: the vector is [[adaptiveBloomBits]]-wide — ≥16 bits
    * per dim key, so broadcast size is dim-proportional (512 KiB at
    * sf10's 210k keys, a constant-per-executor ship at any SF) and the
    * exchange into the join carries only the surviving member fraction
    * (~1.5%) + a ≤1% FP tax of the fact side. At 100 TB this is the
    * difference between shuffling the whole fact table and shuffling
    * the matching slice. (Round 14: the width was a fixed 8192 bits,
    * which saturated at sf10 and let the whole fact side through.) */
  def bloomFilteredJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate").between(lit("1995-03-01").cast("date"),
        lit("1995-03-31").cast("date")))
      .select(col("o_orderkey"), col("o_orderpriority"))
      .localCheckpoint() // feeds both the bloom build and the final join
    // Plan-time dim cardinality (one count on the checkpointed dim)
    // sizes the filter; the oracle recomputes the identical integer m
    // from its own COUNT(*) — see [[adaptiveBloomBits]].
    val mBits = adaptiveBloomBits(dim.count())
    val mWords = mBits / 32L
    // bit rows → (word, mask) → bit_or per word → DENSE ordered array
    // (absent words must be present zeros, or probe indexing shifts).
    val words = dim
      .select(explode(bloomPositions(Hashing.idHash(col("o_orderkey")),
        mBits)).as("bit"))
      .select((col("bit") / lit(32L)).cast("long").as("w"),
        expr("shiftleft(1L, CAST(bit % 32 AS INT))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))
    val bv = spark.range(mWords).select(col("id").as("w"))
      .join(words, Seq("w"), "left")
      .select(col("w"), coalesce(col("bits"), lit(0L)).as("bits"))
      .agg(expr("transform(array_sort(collect_list(struct(w, bits)))," +
        " s -> s.bits)").as("bv"))
    val probe = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val passed = probe
      .withColumn("bp", bloomPositions(Hashing.idHash(col("l_orderkey")),
        mBits))
      .crossJoin(broadcast(bv))
      .filter((0 until BloomHashes).map { d =>
        expr(s"(shiftright(element_at(bv, CAST(bp[$d] / 32 AS INT) + 1)," +
          s" CAST(bp[$d] % 32 AS INT)) & 1) = 1")
      }.reduce(_ && _))
      .drop("bp", "bv")
      .localCheckpoint() // feeds both the passed-count and the join
    val stats = probe.agg(count(lit(1)).as("n_probe_rows"))
      .crossJoin(passed.agg(count(lit(1)).as("n_bloom_passed")))
    passed.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
          .as("revenue_e6"))
      .crossJoin(broadcast(stats))
  }

  val bloomFilteredJoinSql: String = {
    val h = Hashing.idHashSql("l_orderkey")
    // The oracle recomputes the SAME adaptive width from its own dim
    // count (see adaptiveBloomBits): FLOOR(LOG2(n)) is exact at powers
    // of two and safely non-integral elsewhere, so the integer m is
    // engine-identical.
    val m = "(SELECT m FROM mb)"
    val conds = (0 until BloomHashes).map { d =>
      val a = graft.functions.HashKernels.permA(d)
      val b = graft.functions.HashKernels.permB(d)
      val p = s"((($a * $h + $b) % $P) % $m)"
      s"((bv[CAST($p // 32 AS INTEGER) + 1] >> CAST($p % 32 AS INTEGER)) & 1) = 1"
    }.mkString(" AND ")
    s"""WITH dim AS (SELECT o_orderkey, o_orderpriority FROM orders
       |  WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'),
       |mb AS (SELECT GREATEST($BloomBits, 1::BIGINT <<
       |    (CAST(FLOOR(LOG2(GREATEST(COUNT(*), 1))) AS INTEGER) + 5)) AS m
       |  FROM dim),
       |bbits AS (SELECT DISTINCT
       |    ((a * ${Hashing.idHashSql("o_orderkey")} + b) % $P) % $m AS bit
       |  FROM dim, (VALUES ${(0 until BloomHashes).map(d =>
             s"(${graft.functions.HashKernels.permA(d)}, ${graft.functions.HashKernels.permB(d)})")
             .mkString(", ")}) perms(a, b)),
       |words AS (SELECT bit // 32 AS w,
       |    bit_or(1::BIGINT << CAST(bit % 32 AS INTEGER)) AS bits
       |  FROM bbits GROUP BY 1),
       |spine AS (SELECT unnest(range(0, $m // 32)) AS w),
       |bvt AS (SELECT list(COALESCE(words.bits, 0) ORDER BY spine.w) AS bv
       |  FROM spine LEFT JOIN words ON spine.w = words.w),
       |probe AS (SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem),
       |passed AS (SELECT probe.* FROM probe CROSS JOIN bvt WHERE $conds)
       |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
       |    * (10000 - CAST(round(l_discount * 10000) AS BIGINT))) AS BIGINT)
       |    AS revenue_e6,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe_rows,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM passed) AS n_bloom_passed
       |FROM probe JOIN dim ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority""".stripMargin
  }

  // ------------------------------------------------- hyperloglog

  private[ext] val HllM = 64 // registers (p = 6 bucket bits)
  // Remaining-word width: h < 2^31 = P+1, so h div 64 < 2^25.
  private[ext] val HllWBits = 25
  // alpha_64 = 0.709 (Flajolet et al., HyperLogLog, AofA 2007) kept as
  // the exact rational 709/1000 so the estimate is integer arithmetic.
  private[ext] val HllAlphaNum = 709L
  private[ext] val HllAlphaDen = 1000L

  /** rho(w) = leading zeros of w as a 25-bit word, plus 1 (w = 0 → 26).
    * ONE CASE string parsed by BOTH engines (Spark `expr` and DuckDB),
    * so the registers agree bit-for-bit with zero float involvement. */
  private[ext] val hllRhoCase: String = {
    val branches = (1 to HllWBits)
      .map(rho => s"WHEN w >= ${1L << (HllWBits - rho)} THEN $rho")
      .mkString(" ")
    s"CASE $branches ELSE ${HllWBits + 1} END"
  }

  /** Linear-counting table for the small-range branch: round(m·ln(m/v))
    * for v = 1..m zero registers, computed ONCE here and embedded as the
    * same integer literals in both engines — no runtime ln(), no float
    * drift across libm implementations. */
  private[ext] val hllLcTable: Seq[Long] =
    (1 to HllM).map(v => Math.round(HllM * Math.log(HllM.toDouble / v)))

  /** Deterministic HyperLogLog over the corpus's 3-word shingle hashes —
    * the same universe [[kmvDistinctWords]] estimates, so the two
    * sketches are directly comparable. Unlike KMV this consumes the RAW
    * shingle stream (no distinct): max() over rhos is idempotent, which
    * is the whole point of HLL — per-partition state is m registers
    * (64 bytes here), merge = element-wise max, and the input never
    * needs deduplication. Spark's own `approx_count_distinct` IS
    * HLL++, but its hash is not reproducible in another engine; this
    * one is, because every step — bucket = h mod m, rho via a shared
    * CASE over the 25-bit remainder, Σ2^(-reg) scaled by 2^26 into an
    * exact BIGINT, alpha as 709/1000 under integer division, and a
    * precomputed integer linear-counting table — is exact integer math
    * both engines evaluate identically.
    *
    * Scale shape: one scan, map-side max partials onto ≤ m register
    * rows, a 1-row final fold. The exact-distinct audit column is
    * test-scale only (it is the expensive global distinct the sketch
    * exists to avoid); at 100 TB you drop it and keep the sketch. */
  def hllDistinctShingles(spark: SparkSession, sfDir: String): DataFrame = {
    val S = HllWBits + 1 // empty register (reg = 0) contributes 2^S
    val wh = Tables.documents(spark, sfDir)
      .select(explode(GraftFunctions.shingleHashes(
        GraftFunctions.wordHashes(col("text")), 3)).as("h"))
    val regs = wh
      .selectExpr(s"h % $HllM AS bucket", s"h div $HllM AS w")
      .select(col("bucket"), expr(hllRhoCase).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("reg"))
    val numer = (HllAlphaNum * HllM * HllM) << S // 709·4096·2^26 < 2^48
    val est = regs
      .agg(count(lit(1)).as("nb"),
        coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $S - reg)")), lit(0L))
          .as("spp"))
      .select((lit(HllM.toLong) - col("nb")).as("zero_regs"),
        (col("spp") + (lit(HllM.toLong) - col("nb")) * (1L << S)).as("sum_pow"))
      .withColumn("est_raw", expr(s"${numer}L div ($HllAlphaDen * sum_pow)"))
      .select(col("zero_regs"), col("sum_pow"),
        when(col("zero_regs") > 0 && col("est_raw") * 2 <= 5L * HllM,
          element_at(array(hllLcTable.map(lit): _*),
            col("zero_regs").cast("int")))
          .otherwise(col("est_raw")).as("est_distinct"))
    est.crossJoin(wh.agg(count(lit(1)).as("n_items"),
      count_distinct(col("h")).as("exact_distinct")))
      .select(col("n_items"), col("zero_regs"), col("sum_pow"),
        col("est_distinct"), col("exact_distinct"))
  }

  val hllDistinctShinglesSql: String = {
    import graft.ext.Hashing.{shingleHashesSql, wordHashesSql}
    val S = HllWBits + 1
    val numer = (HllAlphaNum * HllM * HllM) << S
    s"""WITH wh AS (
       |  SELECT unnest(sh) AS h FROM (
       |    SELECT ${shingleHashesSql("whs", 3)} AS sh FROM (
       |      SELECT ${wordHashesSql("text")} AS whs FROM documents))),
       |b AS (SELECT h % $HllM AS bucket, h // $HllM AS w FROM wh),
       |regs AS (SELECT bucket, MAX($hllRhoCase) AS reg FROM b GROUP BY bucket),
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb,
       |    CAST(COALESCE(SUM(1::BIGINT << ($S - reg)), 0) AS BIGINT) AS spp
       |  FROM regs),
       |s AS (SELECT $HllM - nb AS zero_regs,
       |    spp + ($HllM - nb) * ${1L << S} AS sum_pow FROM a),
       |e AS (SELECT zero_regs, sum_pow,
       |    $numer // ($HllAlphaDen * sum_pow) AS est_raw FROM s)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM wh) AS n_items,
       |  CAST(zero_regs AS BIGINT) AS zero_regs,
       |  CAST(sum_pow AS BIGINT) AS sum_pow,
       |  CAST(CASE WHEN zero_regs > 0 AND est_raw * 2 <= ${5 * HllM}
       |       THEN list_extract([${hllLcTable.mkString(", ")}],
       |         CAST(zero_regs AS INT))
       |       ELSE est_raw END AS BIGINT) AS est_distinct,
       |  (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) FROM wh) AS exact_distinct
       |FROM e""".stripMargin
  }

  /** Per-SOURCE HyperLogLog — the grouped form every monitoring stack
    * actually runs ("distinct shingles per domain, daily"): the same 64
    * integer registers as [[hllDistinctShingles]], keyed by source, so
    * the state is #sources × m register rows — mergeable by MAX across
    * any partitioning/time-slicing, which is the whole point of HLL as
    * an operational sketch (yesterday's registers ⊎ today's = the union
    * estimate, no re-scan). Same zero-float rho CASE and embedded
    * linear-counting table; exact per-source distinct audited alongside
    * at gate scale (dropped at 100 TB — it is the global distinct the
    * sketch replaces). */
  def hllGroupedBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val S = HllWBits + 1
    val wh = Tables.documents(spark, sfDir)
      .select(col("source"), explode(GraftFunctions.shingleHashes(
        GraftFunctions.wordHashes(col("text")), 3)).as("h"))
      .localCheckpoint() // 2 consumers: registers + exact audit
    val regs = wh
      .selectExpr("source", s"h % $HllM AS bucket", s"h div $HllM AS w")
      .select(col("source"), col("bucket"), expr(hllRhoCase).as("rho"))
      .groupBy(col("source"), col("bucket")).agg(max(col("rho")).as("reg"))
    val numer = (HllAlphaNum * HllM * HllM) << S
    val est = regs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nb"),
        coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $S - reg)")), lit(0L))
          .as("spp"))
      .select(col("source"), (lit(HllM.toLong) - col("nb")).as("zero_regs"),
        (col("spp") + (lit(HllM.toLong) - col("nb")) * (1L << S)).as("sum_pow"))
      .withColumn("est_raw", expr(s"${numer}L div ($HllAlphaDen * sum_pow)"))
      .select(col("source"), col("zero_regs"), col("sum_pow"),
        when(col("zero_regs") > 0 && col("est_raw") * 2 <= 5L * HllM,
          element_at(array(hllLcTable.map(lit): _*),
            col("zero_regs").cast("int")))
          .otherwise(col("est_raw")).as("est_distinct"))
    val exact = wh.groupBy(col("source"))
      .agg(count(lit(1)).as("n_items"),
        count_distinct(col("h")).as("exact_distinct"))
    est.join(exact, Seq("source"))
      .select(col("source"), col("n_items"), col("zero_regs"),
        col("sum_pow"), col("est_distinct"), col("exact_distinct"))
  }

  val hllGroupedBySourceSql: String = {
    import graft.ext.Hashing.{shingleHashesSql, wordHashesSql}
    val S = HllWBits + 1
    val numer = (HllAlphaNum * HllM * HllM) << S
    s"""WITH wh AS (
       |  SELECT source, unnest(sh) AS h FROM (
       |    SELECT source, ${shingleHashesSql("whs", 3)} AS sh FROM (
       |      SELECT source, ${wordHashesSql("text")} AS whs FROM documents))),
       |b AS (SELECT source, h % $HllM AS bucket, h // $HllM AS w FROM wh),
       |regs AS (SELECT source, bucket, MAX($hllRhoCase) AS reg
       |  FROM b GROUP BY source, bucket),
       |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nb,
       |    CAST(COALESCE(SUM(1::BIGINT << ($S - reg)), 0) AS BIGINT) AS spp
       |  FROM regs GROUP BY source),
       |s AS (SELECT source, $HllM - nb AS zero_regs,
       |    spp + ($HllM - nb) * ${1L << S} AS sum_pow FROM a),
       |e AS (SELECT source, zero_regs, sum_pow,
       |    $numer // ($HllAlphaDen * sum_pow) AS est_raw FROM s),
       |x AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_items,
       |    CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_distinct
       |  FROM wh GROUP BY source)
       |SELECT e.source, x.n_items,
       |  CAST(zero_regs AS BIGINT) AS zero_regs,
       |  CAST(sum_pow AS BIGINT) AS sum_pow,
       |  CAST(CASE WHEN zero_regs > 0 AND est_raw * 2 <= ${5 * HllM}
       |       THEN list_extract([${hllLcTable.mkString(", ")}],
       |         CAST(zero_regs AS INT))
       |       ELSE est_raw END AS BIGINT) AS est_distinct,
       |  x.exact_distinct
       |FROM e JOIN x ON e.source = x.source""".stripMargin
  }

  // ------------------------------------------------- histogram quantiles

  /** Bin width in cents (power of two so `div` is exact): the estimate's
    * worst-case error. l_extendedprice spans ~[90k, 10.5M] cents, so the
    * histogram holds ≤ ~2.6k bins — bounded by the DOMAIN, not the data. */
  private val QBinW = 4096L

  /** Mergeable histogram-quantile sketch vs the exact sort — the scale
    * counterpart of [[graft.ext.Events.priceQuantiles]] (which ranks
    * every row with a per-group window sort: the thing you cannot afford
    * at 100 TB). One map-side-combinable groupBy folds the fact table
    * onto ≤ ~2.6k (flag, bin) rows; the cumulative walk and quantile
    * pick then run on sketch-sized data. State is fixed by the value
    * domain, merge = counter addition — the same contract as CMS.
    *
    * Estimate = the LOWER EDGE of the first bin whose cumulative count
    * reaches ceil(p·n) (ranks via integer formulas, no floats), so
    * est ≤ exact < est + binW always — the spec asserts that bound, the
    * gate pins the values. Exact columns are the test-scale audit, as
    * everywhere in this file. */
  def quantilePrices(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .selectExpr("l_returnflag", s"cents div $QBinW AS bin")
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col("l_returnflag"))))
    val est = cum.groupBy(col("l_returnflag")).agg(
      (min(when(col("cum") >= expr("(n + 3) div 4"), col("bin"))) * QBinW)
        .as("est_p25_cents"),
      (min(when(col("cum") >= expr("(n + 1) div 2"), col("bin"))) * QBinW)
        .as("est_p50_cents"),
      (min(when(col("cum") >= expr("(3*n + 3) div 4"), col("bin"))) * QBinW)
        .as("est_p75_cents"),
      count(lit(1)).as("n_bins"))
    val exact = graft.ext.Events.priceQuantiles(spark, sfDir)
      .select(col("l_returnflag"),
        col("p25_cents").as("exact_p25_cents"),
        col("p50_cents").as("exact_p50_cents"),
        col("p75_cents").as("exact_p75_cents"))
    est.join(exact, Seq("l_returnflag"))
  }

  val quantilePricesSql: String =
    s"""WITH c AS (
       |  SELECT l_returnflag,
       |    CAST(round(l_extendedprice*100) AS BIGINT) AS cents
       |  FROM lineitem),
       |hist AS (
       |  SELECT l_returnflag, cents // $QBinW AS bin, COUNT(*) AS cnt
       |  FROM c GROUP BY 1, 2),
       |cum AS (
       |  SELECT l_returnflag, bin, cnt,
       |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
       |    SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
       |  FROM hist),
       |est AS (
       |  SELECT l_returnflag,
       |    CAST(MIN(CASE WHEN cum >= (n + 3) // 4 THEN bin END) * $QBinW AS BIGINT) AS est_p25_cents,
       |    CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN bin END) * $QBinW AS BIGINT) AS est_p50_cents,
       |    CAST(MIN(CASE WHEN cum >= (3*n + 3) // 4 THEN bin END) * $QBinW AS BIGINT) AS est_p75_cents,
       |    CAST(COUNT(*) AS BIGINT) AS n_bins
       |  FROM cum GROUP BY l_returnflag),
       |exact AS (
       |  SELECT l_returnflag,
       |    MAX(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT) THEN cents END) AS exact_p25_cents,
       |    MAX(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN cents END) AS exact_p50_cents,
       |    MAX(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT) THEN cents END) AS exact_p75_cents
       |  FROM (
       |    SELECT l_returnflag, cents,
       |      row_number() OVER (PARTITION BY l_returnflag
       |        ORDER BY cents, l_orderkey, l_linenumber) AS rn,
       |      COUNT(*) OVER (PARTITION BY l_returnflag) AS n
       |    FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
       |        CAST(round(l_extendedprice*100) AS BIGINT) AS cents
       |      FROM lineitem))
       |  GROUP BY l_returnflag)
       |SELECT est.l_returnflag, est_p25_cents, est_p50_cents, est_p75_cents,
       |  n_bins, exact_p25_cents, exact_p50_cents, exact_p75_cents
       |FROM est JOIN exact ON est.l_returnflag = exact.l_returnflag""".stripMargin

  /** KMV SET OPERATIONS — the reason k-minimum-values beats a plain
    * distinct-count sketch: two sketches alone estimate their sets'
    * union, intersection, and Jaccard, no corpus-wide join needed (the
    * federated planning primitive: "how much do source A's and source
    * B's vocabularies overlap?" answered from 2×k Longs before anyone
    * pays for a cross-source dedup pass). Estimators are the classic
    * ones (Beyer et al. 2007): X = k smallest of S_A ∪ S_B, union from
    * X's k-th min as in [[kmvDistinctWords]], ρ = |X ∩ S_A ∩ S_B|/|X|
    * as the Jaccard estimate, intersection = ρ·union — all carried in
    * integer arithmetic (permille ratios, `div`), with the
    * small-cardinality exact branch when a sketch holds its whole set.
    *
    * Scale: each vocabulary sketch is a TakeOrdered top-k (per-partition
    * k-smallest + driver merge, no full sort) and everything after
    * operates on ≤ 2k rows. Exact union/intersection ride along as
    * test-scale audit columns, [[kmvDistinctWords]]-style: the estimate
    * is gated, the truth is printed next to it. */
  def kmvSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    def vocab(src: String): DataFrame = docs
      .filter(col("source") === src)
      .select(explode(GraftFunctions.shingleHashes(
        GraftFunctions.wordHashes(col("text")), 3)).as("h"))
      .distinct()
    val a = vocab("src0")
    val b = vocab("src1")
    val skA = a.orderBy(col("h")).limit(KSet)
    val skB = b.orderBy(col("h")).limit(KSet)
    val x = skA.unionAll(skB).distinct().orderBy(col("h")).limit(KSet)
    val interSk = x.join(skA, "h").join(skB, "h")
      .agg(count(lit(1)).as("inter_in_sketch"))
    val scale = (KSet - 1).toLong * P
    x.agg(count(col("h")).as("n_union_sketch"),
        max(col("h")).as("kth_union_hash"))
      .crossJoin(skA.agg(count(lit(1)).as("n_sketch_a")))
      .crossJoin(skB.agg(count(lit(1)).as("n_sketch_b")))
      .crossJoin(interSk)
      .crossJoin(a.unionAll(b).distinct().agg(count(lit(1)).as("exact_union")))
      .crossJoin(a.join(b, "h").agg(count(lit(1)).as("exact_inter")))
      .select(
        lit(KSet.toLong).as("k"),
        col("n_sketch_a"), col("n_sketch_b"), col("n_union_sketch"),
        col("kth_union_hash"),
        expr(s"CASE WHEN n_union_sketch < $KSet OR kth_union_hash <= 0 " +
          s"THEN n_union_sketch ELSE ${scale}L div kth_union_hash END")
          .as("union_est"),
        col("inter_in_sketch"),
        expr("(1000 * inter_in_sketch) div n_union_sketch")
          .as("jaccard_permille"),
        col("exact_union"), col("exact_inter"),
        expr("(1000 * exact_inter) div exact_union")
          .as("exact_jaccard_permille"))
      .withColumn("inter_est",
        expr("(inter_in_sketch * union_est) div n_union_sketch"))
  }

  val kmvSetOpsSql: String = {
    import graft.ext.Hashing.{shingleHashesSql, wordHashesSql}
    def vocabCte(name: String, src: String) =
      s"""$name AS (
         |  SELECT DISTINCT unnest(sh) AS h FROM (
         |    SELECT ${shingleHashesSql("whs", 3)} AS sh FROM (
         |      SELECT ${wordHashesSql("text")} AS whs FROM documents
         |      WHERE source = '$src')))""".stripMargin
    s"""WITH ${vocabCte("va", "src0")},
       |${vocabCte("vb", "src1")},
       |ska AS (SELECT h FROM va ORDER BY h LIMIT $KSet),
       |skb AS (SELECT h FROM vb ORDER BY h LIMIT $KSet),
       |x AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
       |      ORDER BY h LIMIT $KSet),
       |agg AS (SELECT
       |    (SELECT COUNT(*) FROM ska) AS n_sketch_a,
       |    (SELECT COUNT(*) FROM skb) AS n_sketch_b,
       |    (SELECT COUNT(*) FROM x) AS n_union_sketch,
       |    (SELECT MAX(h) FROM x) AS kth_union_hash,
       |    (SELECT COUNT(*) FROM x
       |      JOIN ska ON x.h = ska.h JOIN skb ON x.h = skb.h)
       |      AS inter_in_sketch,
       |    (SELECT COUNT(*) FROM (SELECT h FROM va UNION SELECT h FROM vb))
       |      AS exact_union,
       |    (SELECT COUNT(*) FROM va JOIN vb ON va.h = vb.h) AS exact_inter)
       |SELECT CAST($KSet AS BIGINT) AS k,
       |  n_sketch_a, n_sketch_b, n_union_sketch, kth_union_hash,
       |  CASE WHEN n_union_sketch < $KSet OR kth_union_hash <= 0
       |       THEN n_union_sketch
       |       ELSE ${(KSet - 1).toLong * P} // kth_union_hash END AS union_est,
       |  inter_in_sketch,
       |  (1000 * inter_in_sketch) // n_union_sketch AS jaccard_permille,
       |  exact_union, exact_inter,
       |  (1000 * exact_inter) // exact_union AS exact_jaccard_permille,
       |  (inter_in_sketch *
       |    CASE WHEN n_union_sketch < $KSet OR kth_union_hash <= 0
       |         THEN n_union_sketch
       |         ELSE ${(KSet - 1).toLong * P} // kth_union_hash END)
       |    // n_union_sketch AS inter_est
       |FROM agg""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_kmv_distinct" -> (kmvDistinctWords _),
    "sketch_kmv_setops" -> (kmvSetOps _),
    "sketch_cms_words" -> (cmsWordCounts _),
    "sketch_bloom_filter" -> (bloomMembership _),
    "join_bloom_filtered" -> (bloomFilteredJoin _),
    "sketch_kmv_grouped" -> (kmvGroupedShingles _),
    "sketch_hll_distinct" -> (hllDistinctShingles _),
    "sketch_hll_grouped_source" -> (hllGroupedBySource _),
    "sketch_quantile_prices" -> (quantilePrices _))

  val oracles: Map[String, String] = Map(
    "sketch_kmv_distinct" -> kmvDistinctWordsSql,
    "sketch_kmv_setops" -> kmvSetOpsSql,
    "sketch_cms_words" -> cmsWordCountsSql,
    "sketch_bloom_filter" -> bloomMembershipSql,
    "join_bloom_filtered" -> bloomFilteredJoinSql,
    "sketch_kmv_grouped" -> kmvGroupedShinglesSql,
    "sketch_hll_distinct" -> hllDistinctShinglesSql,
    "sketch_hll_grouped_source" -> hllGroupedBySourceSql,
    "sketch_quantile_prices" -> quantilePricesSql)
}
