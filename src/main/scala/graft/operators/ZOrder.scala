package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.sources.Tables

/** Z-order (Morton space-filling curve) data layout — the multi-column
  * file-clustering operator a 100 TB lakehouse uses so that min/max
  * zone maps prune scans on EVERY clustered dimension, not just the
  * leading sort key (Morton 1966; the technique behind
  * Delta/Iceberg OPTIMIZE ZORDER BY).
  *
  * A linear sort on (a, b) gives perfect pruning on `a` and none on
  * `b`; interleaving the bits of both dimensions gives every file a
  * tight hyper-rectangle in BOTH, so a predicate on either column
  * skips most files at the manifest level — the scan never starts.
  *
  * Pipeline (everything integer-exact so the DuckDB oracle replays it
  * bit-for-bit, same discipline as [[DetHll]]):
  *  1. min/max of each dimension via a 1-row aggregate broadcast back
  *     onto the fact rows (the house crossJoin-of-a-total pattern).
  *  2. quantize each dimension to 16 bits with pure integer math:
  *     q = (v - min) * 65536 div (max - min + 1). Products stay below
  *     2^47 — safe in both engines' signed-64 arithmetic.
  *  3. Morton-interleave the two 16-bit grids into a 32-bit z-code:
  *     Σ bit_i(qx)·2^(2i+1) + bit_i(qy)·2^(2i) — 64 generated integer
  *     terms, engine-parameterized only in the spelling of integer
  *     division ([[DetHll.Ops]]).
  *  4. deterministic file assignment with NTILE(64)'s exact values but
  *     WITHOUT its single-reducer window: the global rank over
  *     (z, o_orderkey) comes from [[Curation.blockCumsum]] (blocked
  *     running row-count — the block key is a bit-prefix of z, so
  *     blocks are contiguous ranges of the sort order and the block
  *     prefix stands in for the global one), and NTILE's bucket
  *     boundary is closed-form integer math over (rank, total): the
  *     first N mod 64 files take ⌈N/64⌉ rows, the rest ⌊N/64⌋. The
  *     oracle still SPELLS it NTILE — same values, different physics.
  *     Production writes with repartitionByRange(z)
  *     .sortWithinPartitions(z) instead (sampled range boundaries —
  *     same layout, not bit-reproducible, so the gate query uses the
  *     rank form).
  *  5. per-file zone map: count + min/max of BOTH dimensions — the
  *     exact statistics a reader's manifest would hold. Tightness of
  *     these ranges IS the operator's product; ZOrderSpec pins that the
  *     z-ordered layout beats the linear layout's per-file spans on the
  *     non-leading dimension.
  *
  * Scale posture: two 1-row aggregates (broadcast extents + broadcast
  * total), one distributed window partitioned on the z-block, and one
  * tiny unpartitioned prefix window over ≤4096 block-total
  * rows — NO full-table single-partition stage anywhere (the pre-r18
  * plan's unpartitioned NTILE pushed every row through one task; the
  * blockCumsum discipline replaces it, PlanSpec-pinned). The z-code
  * itself is a narrow codegen projection; no joins, no explosion. At
  * 100 TB this runs as the scheduled OPTIMIZE job that rewrites cold
  * partitions.
  */
object ZOrder {

  val Bits = 16          // per-dimension quantization grid
  val Grid: Long = 1L << Bits
  val Files = 64         // zone-map buckets the gate query reports

  /** Rank-block width: z is 32-bit, so z DIV 2^20 yields ≤4096 blocks
    * — each a contiguous z-range (the property blockCumsum needs), and
    * the block-total prefix window stays a few-thousand-row job no
    * matter the corpus size. */
  val ZBlockShift = 20

  /** Integer min-max quantizer to [0, 2^16): exact in both engines. */
  private def quant(v: String, vMin: String, vMax: String): String =
    s"((($v - $vMin) * $Grid) div ($vMax - $vMin + 1))"

  private def quantDuck(v: String, vMin: String, vMax: String): String =
    s"((($v - $vMin) * $Grid) // ($vMax - $vMin + 1))"

  /** Morton interleave of two [[Bits]]-bit grids; `idiv` spells the
    * engine's integer division. x occupies odd bits, y even. */
  def mortonExpr(qx: String, qy: String, idiv: (String, Long) => String): String = {
    val terms = (0 until Bits).flatMap { i =>
      Seq(
        s"((${idiv(qx, 1L << i)}) % 2) * ${1L << (2 * i + 1)}",
        s"((${idiv(qy, 1L << i)}) % 2) * ${1L << (2 * i)}")
    }
    s"(${terms.mkString(" + ")})"
  }

  private val sparkDiv: (String, Long) => String = (a, b) => s"($a div $b)"
  private val duckDiv: (String, Long) => String = (a, b) => s"($a // $b)"

  /** NTILE([[Files]])'s exact bucket value in closed-form integer math
    * over the blockCumsum rank `_cum` and the broadcast `n_total` —
    * with q = N div 64 and rem = N mod 64, the first rem buckets hold
    * q+1 rows and the rest q, so rank r maps to
    *   r ≤ rem·(q+1)  →  (r + q) div (q+1)
    *   otherwise      →  rem + ⌈(r − rem·(q+1)) / q⌉
    * (pure BIGINT arithmetic). The q = 0 corner — fewer rows than
    * files — always takes the first branch, and the ELSE arm's divisor
    * is GREATEST(q, 1) anyway so the arm is total even if a future
    * rewrite evaluates both branches eagerly under ANSI mode — values
    * are unchanged on every selected row. */
  private val fileIdSql: String =
    s"""CAST(CASE
       |  WHEN _cum <= (n_total % $Files) * (n_total DIV $Files + 1)
       |    THEN (_cum + n_total DIV $Files) DIV (n_total DIV $Files + 1)
       |  ELSE n_total % $Files +
       |    (_cum - (n_total % $Files) * (n_total DIV $Files + 1)
       |       + n_total DIV $Files - 1) DIV GREATEST(n_total DIV $Files, 1)
       |END AS BIGINT)""".stripMargin

  /** Zone-map report of a Z-ordered orders layout over
    * (o_custkey, day(o_orderdate)): [[Files]] rows of per-file count +
    * min/max of both clustered dimensions. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey", "CAST(o_custkey AS BIGINT) AS ck",
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) AS od")
    // one 1-row aggregate carries the quantizer extents AND the total
    // row count — a single broadcast fan-out feeds both the z-code and
    // the closed-form NTILE boundary below (a separate count would
    // re-scan orders and add a second broadcast join)
    val ext = o.agg(
      min("ck").as("ck_min"), max("ck").as("ck_max"),
      min("od").as("od_min"), max("od").as("od_max"),
      count(lit(1)).as("n_total"))
    val z = o.crossJoin(broadcast(ext))
      .selectExpr("o_orderkey", "ck", "od", "n_total",
        s"${quant("ck", "ck_min", "ck_max")} AS qx",
        s"${quant("od", "od_min", "od_max")} AS qy")
      .selectExpr("o_orderkey", "ck", "od", "n_total",
        s"${mortonExpr("qx", "qy", sparkDiv)} AS z")
    // Global 1-based rank in (z, o_orderkey) order, distributed: the
    // z-prefix block key is monotone in z, so block b's rows all
    // precede block b+1's — exactly blockCumsum's contract. Then
    // NTILE's exact bucket boundary in closed form from (rank, total):
    // with q = N div 64 and rem = N mod 64, the first rem buckets hold
    // q+1 rows and the rest q — so rank r maps to
    //   r ≤ rem·(q+1)  →  (r + q) div (q+1)
    //   otherwise      →  rem + ⌈(r − rem·(q+1)) / q⌉
    // (pure BIGINT arithmetic; the q = 0 corner — fewer rows than
    // files — always takes the first branch, so its div-by-zero arm is
    // never selected). The DuckDB oracle spells the same assignment as
    // NTILE(64) OVER (ORDER BY z, o_orderkey): identical values, but
    // here no row ever passes through a single-partition window.
    val ranked = Curation.blockCumsum(z,
      expr(s"z DIV ${1L << ZBlockShift}"),
      Seq(col("z"), col("o_orderkey")), lit(1L))
    ranked
      .selectExpr("ck", "od", s"$fileIdSql AS file_id")
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("ck").as("ck_lo"), max("ck").as("ck_hi"),
        min("od").as("od_lo"), max("od").as("od_hi"))
      .orderBy("file_id")
  }

  /** The PRODUCTION write verb — the scheduled OPTIMIZE job the gate
    * query models: z-order the orders layout and WRITE it, one parquet
    * file per z-range, via repartitionByRange(z, key) +
    * sortWithinPartitions. Range boundaries come from Spark's sampled
    * range partitioner — the right plan at 100 TB (one range exchange,
    * no rank bookkeeping) but not bit-reproducible across runs, which
    * is why the GATE query uses the deterministic rank form instead;
    * ZOrderSpec pins this verb's zone-map QUALITY (per-file date spans
    * beat the linear layout's, rows conserved) rather than its exact
    * boundaries. Returns the written layout's zone map, read back from
    * the REAL files (input_file_name), i.e. the statistics a reader's
    * manifest would hold. */
  def zorderWrite(spark: SparkSession, dir: String, outPath: String,
                  files: Int = Files): DataFrame = {
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey", "CAST(o_custkey AS BIGINT) AS ck",
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) AS od")
    val ext = o.agg(
      min("ck").as("ck_min"), max("ck").as("ck_max"),
      min("od").as("od_min"), max("od").as("od_max"))
    o.crossJoin(broadcast(ext))
      .selectExpr("o_orderkey", "ck", "od",
        s"${quant("ck", "ck_min", "ck_max")} AS qx",
        s"${quant("od", "od_min", "od_max")} AS qy")
      .selectExpr("o_orderkey", "ck", "od",
        s"${mortonExpr("qx", "qy", sparkDiv)} AS z")
      .repartitionByRange(files, col("z"), col("o_orderkey"))
      .sortWithinPartitions("z", "o_orderkey")
      .write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        min("ck").as("ck_lo"), max("ck").as("ck_hi"),
        min("od").as("od_lo"), max("od").as("od_hi"))
      .orderBy("file")
  }

  /** Layout-QUALITY audit — the driver-gated face of what
    * [[zorderWrite]] actually buys: per-file zone-map SPAN SUMS of the
    * z-ordered layout vs the linear (ck-leading) layout, on BOTH
    * clustered dimensions. A reader prunes file f for a predicate on
    * dimension d iff the predicate misses [lo_d(f), hi_d(f)], so the
    * summed span IS the layout's expected scan exposure per dimension
    * (up to the uniform-query constant): the z-order rows should show
    * a far smaller od_span_sum than linear's (which orders by ck only
    * and leaves od unclustered) at a modest ck_span_sum give-back —
    * the pruning-power trade the OPTIMIZE verb exists to make, now
    * hash-checked every round instead of only spec-pinned.
    *
    * Everything is BIGINT-exact: both legs assign files with the same
    * deterministic closed-form NTILE (the q_zorder_layout physics —
    * distributed blockCumsum rank, no single-reducer stage; the linear
    * leg blocks on the ck-monotone 16-bit quantizer so its block
    * prefix is global too), and the oracle spells both assignments as
    * NTILE($Files) windows. One orders scan feeds both legs. */
  def zorderQuality(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey", "CAST(o_custkey AS BIGINT) AS ck",
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) AS od")
    val ext = o.agg(
      min("ck").as("ck_min"), max("ck").as("ck_max"),
      min("od").as("od_min"), max("od").as("od_max"),
      count(lit(1)).as("n_total"))
    val z = o.crossJoin(broadcast(ext))
      .selectExpr("o_orderkey", "ck", "od", "n_total",
        s"${quant("ck", "ck_min", "ck_max")} AS qx",
        s"${quant("od", "od_min", "od_max")} AS qy")
      .selectExpr("o_orderkey", "ck", "od", "n_total", "qx",
        s"${mortonExpr("qx", "qy", sparkDiv)} AS z")
    def leg(layout: String, blockKey: org.apache.spark.sql.Column,
            order: Seq[org.apache.spark.sql.Column]): DataFrame =
      Curation.blockCumsum(z, blockKey, order, lit(1L))
        .selectExpr("ck", "od", s"$fileIdSql AS file_id")
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          (max(col("ck")) - min(col("ck"))).as("ck_span"),
          (max(col("od")) - min(col("od"))).as("od_span"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
          sum(col("ck_span")).as("ck_span_sum"),
          sum(col("od_span")).as("od_span_sum"))
        .select(lit(layout).as("layout"), col("n_files"), col("n_rows"),
          col("ck_span_sum"), col("od_span_sum"))
    // linear leg: files assigned in (ck, o_orderkey) order; the block
    // key is the ck-quantizer bucket (monotone in ck, ≤4096 contiguous
    // blocks at ANY corpus size — same geometry discipline as z DIV)
    leg("linear", expr("qx DIV 16"), Seq(col("ck"), col("o_orderkey")))
      .unionByName(
        leg("zorder", expr(s"z DIV ${1L << ZBlockShift}"),
          Seq(col("z"), col("o_orderkey"))))
      .orderBy("layout")
  }

  /** SQL twin of [[zorderQuality]] — both file assignments spelled as
    * NTILE windows (the q_zorder_layout algebra), spans summed per
    * layout; CASTs keep every output BIGINT (DuckDB's SUM of integers
    * widens to HUGEINT). */
  def qualityOracle: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS ck,
       |    CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS od
       |  FROM orders
       |), ext AS (
       |  SELECT MIN(ck) AS ck_min, MAX(ck) AS ck_max,
       |         MIN(od) AS od_min, MAX(od) AS od_max FROM o
       |), q AS (
       |  SELECT o_orderkey, ck, od,
       |    ${quantDuck("ck", "ck_min", "ck_max")} AS qx,
       |    ${quantDuck("od", "od_min", "od_max")} AS qy
       |  FROM o, ext
       |), z AS (
       |  SELECT ck, od,
       |    CAST(NTILE($Files) OVER (ORDER BY ${mortonExpr("qx", "qy", duckDiv)}, o_orderkey) AS BIGINT) AS zfile,
       |    CAST(NTILE($Files) OVER (ORDER BY ck, o_orderkey) AS BIGINT) AS lfile
       |  FROM q
       |), zs AS (
       |  SELECT zfile, COUNT(*) AS n_rows,
       |    MAX(ck) - MIN(ck) AS ck_span, MAX(od) - MIN(od) AS od_span
       |  FROM z GROUP BY zfile
       |), ls AS (
       |  SELECT lfile, COUNT(*) AS n_rows,
       |    MAX(ck) - MIN(ck) AS ck_span, MAX(od) - MIN(od) AS od_span
       |  FROM z GROUP BY lfile
       |)
       |SELECT 'linear' AS layout, COUNT(*) AS n_files,
       |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       |  CAST(SUM(ck_span) AS BIGINT) AS ck_span_sum,
       |  CAST(SUM(od_span) AS BIGINT) AS od_span_sum FROM ls
       |UNION ALL
       |SELECT 'zorder' AS layout, COUNT(*) AS n_files,
       |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       |  CAST(SUM(ck_span) AS BIGINT) AS ck_span_sum,
       |  CAST(SUM(od_span) AS BIGINT) AS od_span_sum FROM zs
       |ORDER BY layout""".stripMargin

  def oracle: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS ck,
       |    CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS od
       |  FROM orders
       |), ext AS (
       |  SELECT MIN(ck) AS ck_min, MAX(ck) AS ck_max,
       |         MIN(od) AS od_min, MAX(od) AS od_max FROM o
       |), q AS (
       |  SELECT o_orderkey, ck, od,
       |    ${quantDuck("ck", "ck_min", "ck_max")} AS qx,
       |    ${quantDuck("od", "od_min", "od_max")} AS qy
       |  FROM o, ext
       |), z AS (
       |  SELECT o_orderkey, ck, od,
       |    CAST(NTILE($Files) OVER (ORDER BY ${mortonExpr("qx", "qy", duckDiv)}, o_orderkey) AS BIGINT) AS file_id
       |  FROM q
       |)
       |SELECT file_id, COUNT(*) AS n_rows,
       |  MIN(ck) AS ck_lo, MAX(ck) AS ck_hi,
       |  MIN(od) AS od_lo, MAX(od) AS od_hi
       |FROM z GROUP BY file_id ORDER BY file_id""".stripMargin
}
