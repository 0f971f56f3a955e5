package graft.ops

/** Data-adaptive defaults for the engine's partitioning knobs. Round 7's
  * scale story ended at constants — asOfRanged/trailingCount/
  * sequencePacking split their axis into a FIXED 24–32 ranges and the IVF
  * quantizer used a fixed cell count — so a 100× input kept the same
  * parallelism and per-task volume grew 100×. These derivations make the
  * knobs a function of the input's row count, riding the tiny bounds
  * aggregates those operators already run (no extra pass: `count` is one
  * more partial agg in the same job as `min`/`max`).
  *
  * Two classes, deliberately separated:
  *
  *  - **Result-invariant knobs** (`numRanges`, `numBuckets`): the operators
  *    are exact for ANY value (property-tested sub-split ≡ single-window),
  *    so adapting them is purely a physical-plan choice and is the
  *    DEFAULT ([[Auto]] sentinel).
  *  - **Result-AFFECTING knobs** (IVF `nCells`): changing the quantizer
  *    changes which approximate neighbors are returned, so oracle-pinned
  *    queries keep their explicit values and [[ivfCells]] is opt-in
  *    (pass [[Auto]] where the API accepts it).
  */
object Adaptive {

  /** Sentinel for "derive from input statistics". */
  val Auto: Int = 0

  /** The engine's ONE materialization boundary for multiply-consumed
    * derived frames (shared shingle/embedding/score frames, brute-force
    * top-k, prefix-sum preludes, …): every operator that needs "compute
    * this once, let several plan branches read it" routes through here.
    *
    * A LAZY `localCheckpoint`: the plan is truncated to an RDD scan and
    * the RDD is marked persist + truncate-on-first-action, so the frame
    * computes ONCE inside the first consuming action (block-level locking
    * dedupes concurrent branch stages) with NO separate eager job. Round
    * 16 shipped these boundaries EAGER, which billed one extra Spark job
    * per call site; at sf0.1 that job is 0.2–0.6 s of pure scheduling
    * against saved work of ~0 (OPTIMIZATION_r17.md). (AQE note:
    * constructing the checkpoint RDD still runs the frame's upstream
    * exchange stages at call time — only the result stage moves into the
    * first consumer's job.) The blocks are released by the context
    * cleaner once the frame is unreachable; `AdaptiveSpec` pins that the
    * CacheManager holds none of them.
    *
    * The blocks are stored unreplicated and lineage is truncated, so a
    * lost executor fails the job. A preemptible cluster would need a
    * reliable `checkpoint()` into a checkpoint dir, which the engine does
    * not offer. The iterative-loop checkpoints (CC label rounds, MMR
    * greedy stages) are NOT routed through here: they manage per-round
    * storage levels and explicit release themselves. */
  def materialize(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.localCheckpoint(false)

  /** Target rows per (key, range) partition for the time/id-axis
    * sub-splits. ~1M narrow rows is ~100 MB sorted per task — inside a
    * standard 4 GB executor with comfortable headroom, large enough that
    * the per-range fixed costs (seed rows, offset join) stay noise. */
  val RowsPerRange: Long = 1000000L

  /** Floor = keep at least this many ranges so small inputs still spread
    * across a 32-core executor (the round-7 fixed default); cap bounds
    * the ranges × keys seed/offset tables (4096 ranges × dozens of keys
    * is still a tiny driver-side/broadcast frame). */
  def numRanges(rows: Long, floor: Int = 32, cap: Int = 4096): Int = {
    require(floor >= 1 && cap >= floor, "need 1 <= floor <= cap")
    val want = (rows + RowsPerRange - 1) / RowsPerRange
    math.min(cap.toLong, math.max(floor.toLong, want)).toInt
  }

  /** IVF quantizer size by the standard `nlist ≈ sqrt(n)` rule: per-query
    * probe work is nProbe·(n/cells) and the centroid table is cells·dim —
    * sqrt balances the two as n grows (100× corpus → 10× cells, 10×
    * per-cell population). Result-affecting: opt-in only. */
  def ivfCells(rows: Long, floor: Int = 8, cap: Int = 65536): Int = {
    require(floor >= 1 && cap >= floor, "need 1 <= floor <= cap")
    val want = math.round(math.sqrt(rows.toDouble))
    math.min(cap.toLong, math.max(floor.toLong, want)).toInt
  }

  /** Expected members per sign-LSH bucket the plane derivation targets:
    * small enough that a bucket's candidate scan is trivial, large enough
    * that k=5 neighbors plausibly share it. */
  val LshBucketRows: Long = 64L

  /** Sign-LSH plane count by bucket occupancy: 2^planes buckets hold
    * ~[[LshBucketRows]] expected members each, so per-bucket candidate
    * work stays bounded as the corpus grows (a FIXED plane count lets
    * occupancy — and the candidate join — grow linearly with n, the
    * round-8 noted parameter bound). Floor 8 is the historical constant:
    * every corpus below ~16k vectors derives exactly it, keeping the
    * oracle-pinned p22/p58 rows stable at test scale; the cap bounds the
    * per-row hashing work (and past 2^20 buckets even 100M vectors sit
    * at ~100 per bucket). Result-affecting past the floor, like
    * [[ivfCells]] — the recall trade is pinned by p58's oracle row. */
  def lshPlanes(rows: Long, floor: Int = 8, cap: Int = 20,
                bucketRows: Int = LshBucketRows.toInt): Int = {
    require(floor >= 1 && cap >= floor, "need 1 <= floor <= cap")
    // power of two so the ⌈log2⌉ shift below stays integer-exact — the
    // oracle twins replay the derivation as `length(bin(n−1)) − log2(b)`
    require(bucketRows >= 1 && Integer.bitCount(bucketRows) == 1,
      "bucketRows must be a power of two")
    // want = ⌈log2(rows / bucketRows)⌉ computed in INTEGER arithmetic as
    // bitlength(rows−1) − log2(bucketRows) (⌈log2 x⌉ = bitlength(x−1)
    // for integer x ≥ 2, and dividing by a power of two commutes with
    // the ceil): bit-identical on any engine, so the oracle twin
    // `length(bin(n − 1)) − 6` (resp. − 4 for the miner target) replays
    // the derivation exactly (a float log could straddle ceil at exact
    // powers of two; AdaptiveSpec pins agreement with the fp form).
    val shift = java.lang.Integer.numberOfTrailingZeros(bucketRows).toLong
    val want =
      if (rows <= 1L) 0L
      else (64L - java.lang.Long.numberOfLeadingZeros(rows - 1L)) - shift
    math.min(cap.toLong, math.max(floor.toLong, want)).toInt
  }

  /** Occupancy target for the all-pairs MINERS ([[graft.ann.Similarity
    * .nearDupPairs]]), deliberately 4× tighter than the kNN search
    * target [[LshBucketRows]]: a miner pays Σ m² over every bucket —
    * per-corpus-row candidate work ∝ bucket occupancy — so the 64-row
    * search target that keeps a PER-QUERY probe cheap makes the
    * all-pairs pass generate ~n·64·tables candidates (measured: ~1B at
    * 1M vectors, an 80 GB spill). 16 keeps the candidate volume at
    * ~n·16·tables while the extra 2 planes cost two more dot-folds per
    * row; recall is held by the OR-construction across tables. */
  val MinerBucketRows: Int = 16

  /** Table count for the multi-table sign-LSH OR-construction, derived
    * from the per-table plane count: finer tables (more planes) split
    * true near neighbors apart more often, so the table count grows with
    * the plane count to hold recall — planes/2 keeps the historical
    * (8 planes, 4 tables) pairing at the floor and reaches (20, 10) at
    * the plane cap. Banding work is tables × planes per vector and the
    * candidate union grows ~linearly in tables, so the cap bounds both.
    * Result-affecting, like every LSH shape knob: opt-in only. */
  def lshMultiTables(planesPerTable: Int, floor: Int = 4, cap: Int = 16): Int = {
    require(floor >= 1 && cap >= floor, "need 1 <= floor <= cap")
    require(planesPerTable >= 1, "planesPerTable must be >= 1")
    math.min(cap, math.max(floor, planesPerTable / 2))
  }

  /** `requested` verbatim, or the derived range count when the caller
    * left it [[Auto]]. Negative values are a caller bug. */
  def resolveRanges(requested: Int, rows: Long): Int = {
    require(requested >= 0, "numRanges must be >= 1, or Adaptive.Auto (0)")
    if (requested == Auto) numRanges(rows) else requested
  }

  /** Append the contiguous-id-range bucket column `__b` to `n` (whose
    * `idCol` must be LONG): one 1-row bounds aggregate — min, max, count,
    * the only driver action — then the exact integer bucket
    * `((id − lo)·nR) div span` with `nR = min(span,
    * resolveRanges(requested, rows))`. The shared prelude of the
    * distributed prefix-sum operators (sequencePacking /
    * tokenBudgetSample / semanticPacking), extracted so the bucket
    * arithmetic cannot drift between them. Empty input degenerates to
    * one bucket over a unit span. */
  def withRangeBucket(n: org.apache.spark.sql.DataFrame, idCol: String,
                      numRanges: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, max, min}
    // localCheckpoint before the bounds action: every prefix-sum operator
    // built on this prelude executes `n` THREE times (this eager bounds
    // aggregate, the per-bucket totals pass, and the final offset join) —
    // and `n` is often an expensive derivation (a tokenize pass, a
    // trained-scorer join), while this operator's input contract is a
    // NARROW fixed-width frame (id, key?, weight) that is always cheaper
    // to materialize once than to rebuild twice. Values are unchanged:
    // the checkpoint preserves rows, partitioning and order.
    val nCk = materialize(n)
    val b = nCk.agg(min(col(idCol)), max(col(idCol)), count(lit(1))).head()
    val (lo, span) =
      if (b.isNullAt(0)) (0L, 1L)
      else (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
    val nR = math.min(span, resolveRanges(numRanges, b.getLong(2)).toLong)
    nCk.withColumn("__b", expr(s"(($idCol - $lo) * $nR) div $span"))
  }

  /** Ceiling on the driver-side tables the low-cardinality-key operators
    * ([[Percentiles.exactRankSelect]], [[RangedWindow.trailingCount]])
    * collect — their charter is "keys fit on the driver", and this makes
    * a charter violation a clear error instead of a driver OOM. 100k
    * rows of (key, bounds) is a few MB; a key column that exceeds it is
    * high-cardinality and belongs on the plain distributed window. */
  val MaxCollectedKeys: Int = 100000

  /** Collect `df` asserting it stays within [[MaxCollectedKeys]] rows:
    * fetches at most cap + 1 rows (the limit bounds driver memory even
    * when the input is unbounded) and fails with the operator's named
    * alternative when the cap is hit. */
  def boundedCollect(df: org.apache.spark.sql.DataFrame, what: String,
                     alternative: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(MaxCollectedKeys + 1).collect()
    if (rows.length > MaxCollectedKeys) throw new IllegalArgumentException(
      s"$what exceeds $MaxCollectedKeys entries — this operator's charter " +
        s"is low-cardinality keys (its per-key tables are driver-collected " +
        s"and broadcast). For high-cardinality keys use $alternative.")
    rows
  }
}
