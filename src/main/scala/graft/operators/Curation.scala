package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.sources.Tables

/** Corpus-curation operators for LLM training-data pipelines — the
  * selection/splitting half of the story that Dedup (removal) and
  * TextAnalysis (scoring) leave open:
  *
  *  - benchmark decontamination (n-gram overlap vs a held-out eval set),
  *  - deterministic hash-based train/val/test splitting,
  *  - per-group quota sampling,
  *  - fixed-size token-window chunking,
  *  - one-pass column profiling.
  *
  * Scale posture (100 TB):
  *  - Decontamination is an inverted-index equi-join keyed on the
  *    n-gram — never an all-pairs comparison. In production the eval
  *    side is a benchmark suite (10³–10⁵ docs), tiny next to the
  *    corpus, so the join is broadcast-shaped; we leave the join
  *    unhinted and let AQE/stats decide rather than forcing a
  *    broadcast that would OOM if the eval set is ever corpus-sized.
  *  - Splitting and chunking are narrow per-row maps (no shuffle at
  *    all for the per-doc assignment; one hash-agg for the summary).
  *    Hash-based assignment is the point at scale: reproducible across
  *    runs, engines, and repartitions — no RNG seed drift, and a doc's
  *    split never changes when the corpus grows.
  *  - Quota sampling shuffles once on the group key. Here the group is
  *    `lang` (low cardinality) to keep the oracle small; production
  *    groups are crawl domains (millions of keys), where the same plan
  *    spreads evenly. For a pathological hot group, cap candidates
  *    per-partition first (rank within mapPartitions) before the
  *    global window — noted, not needed at this cardinality.
  *  - Profiling is ONE pass over the table with multi-column distinct
  *    aggregation (Catalyst plans an Expand — rows × #distinct-cols —
  *    all map-side partials); the alternative per-column scans would
  *    read the table N times.
  */
object Curation {

  private[graft] def toks(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Staged (doc_id, lang, n_chars, toks): tokenized once per
    * (session, dir) behind a checkpoint barrier so the n-gram and
    * chunk lambdas slice a bound attribute instead of re-splitting per
    * element (CollapseProject would inline the split — quadratic).
    * Shared with TextAnalysis.bigrams, which has the same hazard. */
  private[operators] def docToks(spark: SparkSession, dir: String): DataFrame =
    Dedup.memo(spark, s"curationToks|$dir") {
      docToksOf(Tables.documents(spark, dir)).transform(Dedup.checkpointSer)
    }

  /** Row-wise tokenization of an arbitrary documents slice — shared by
    * the memoized corpus build above and the index append path (a
    * batch decomposes row-wise, so an ingest batch is tokenized at
    * batch size and appended to the parquet artifact). */
  private[operators] def docToksOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
      toks(col("text")).as("toks"))

  /** Decontamination n-gram length. Long grams (8 tokens vs the dedup
    * family's 3) make overlap evidence specific: sharing one 8-gram is
    * near-certain contamination, while 3-grams are common phrases. */
  private[operators] val NgramLen = 8

  /** Distinct word 8-grams of an already-staged token array. The empty
    * string is removed: a NULL or empty token array collapses to gram
    * "" (concat_ws over a null/empty slice), and two contentless docs
    * must not present that phantom gram as shared-8-gram evidence. */
  private def ngramArray(t: Column): Column =
    array_remove(array_distinct(transform(
      sequence(lit(1), greatest(size(t) - (NgramLen - 1), lit(1))),
      i => concat_ws(" ", slice(t, i, lit(NgramLen))))), "")

  /** The held-out "benchmark" for decontamination: every 20th doc_id.
    * Stands in for an external eval suite (no second corpus in the
    * testdata); the operator itself takes any (doc_id, gram) set. */
  private[operators] val EvalModulus = 20

  /** Document-frequency cap for decontamination grams: an 8-gram
    * present in more than this many documents (train+eval combined) is
    * corpus boilerplate — headers, licenses, navigation chrome — not
    * contamination evidence, and each such gram contributes
    * O(df_train × df_eval) join rows. Dropping it is the standard
    * decontamination stance (overlap evidence must be SPECIFIC; that
    * is the whole reason the gram length is 8, not 3) — unlike the
    * Jaccard index, there is no recall obligation to boilerplate here,
    * so no star fallback is needed. Mirrored in the DuckDB oracle. */
  private[operators] val MaxGramDf = 64

  /** Benchmark decontamination: flag training documents sharing at
    * least one 8-gram with the eval set, with the evidence counts a
    * curation pipeline filters/audits on. Inverted-index join on the
    * gram, boilerplate grams capped by document frequency; output
    * (train_id, n_shared grams, n_eval_docs hit). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val (trainSide, evalSide) = decontSides(spark, dir)
    decontJoin(trainSide, evalSide)
  }

  /** The shared (train, eval) gram sides of the decontamination join.
    * Deliberately NOT checkpoint-staged although both sides reference
    * this subtree: ReuseExchange already shares the scan and the
    * per-gram shuffle between the sides, so only the window compute
    * runs twice — measured cheaper at sf0.1 (0.9 s vs 1.6 s) than
    * paying a serialized checkpoint of the full gram table. */
  private def decontSides(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val grams = docToks(spark, dir)
      .select(col("doc_id"), explode(ngramArray(col("toks"))).as("gram"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("df") <= MaxGramDf)
      .drop("df")
    val evalSide = grams.filter(col("doc_id") % EvalModulus === 0)
      .select(col("doc_id").as("eval_id"), col("gram"))
    val trainSide = grams.filter(col("doc_id") % EvalModulus =!= 0)
      .select(col("doc_id").as("train_id"), col("gram"))
    (trainSide, evalSide)
  }

  /** The exact contamination-evidence join + rollup both variants end
    * in: inner equi-join on the gram, per-train-doc distinct counts. */
  private def decontJoin(trainSide: DataFrame, evalSide: DataFrame)
      : DataFrame =
    trainSide.join(evalSide, Seq("gram"))
      .groupBy("train_id")
      .agg(countDistinct(col("gram")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("n_shared").desc, col("train_id").asc)

  /** Decontamination with a broadcast Bloom pre-filter — the 100 TB
    * formulation of [[decontaminate]], same output bit-for-bit.
    *
    * At scale the exact operator is dominated by SHUFFLING the corpus
    * grams: the document-frequency window and the join both exchange
    * every 8-gram of a 100 TB corpus to meet an eval side that is a
    * few MB of benchmark suite. This variant builds a Bloom filter
    * over `xxhash64(gram)` of the RAW eval grams (Spark's own
    * `BloomFilterAggregate` — the sketch its runtime-filter
    * optimization uses, merged map-side, collected as one ~MB
    * binary; no df window, so the build job is narrow and touches
    * only the eval docs), inlines it as a foldable literal, and
    * prunes the corpus gram stream with the codegen
    * `BloomFilterMightContain` predicate BEFORE the first shuffle.
    *
    * Correctness of pruning UPSTREAM of the df window: the predicate
    * is a function of the gram VALUE alone, so for any surviving
    * gram every one of its rows survives — its document frequency
    * over the pruned stream equals the true corpus df (eval grams
    * pass by the sketch's no-false-negative guarantee; a pruned gram
    * can contribute no join row, capped or not). False positives
    * (~3% of train-only grams) get a correct df too and then die in
    * the exact join. Result identical to [[decontaminate]]; shares
    * its DuckDB oracle verbatim. (Catalyst's own InjectRuntimeFilter
    * declines this join — both sides derive from one windowed gram
    * subtree, not a filtered scan — so the operator states
    * explicitly what the optimizer cannot infer here.) */
  /** Cached eval-suite Bloom sketches per (session, dir) — the sketch
    * is a deterministic ~MB model of the (static) eval suite, the same
    * category as a fitted quantizer: build once per session, not per
    * query. Some(bytes) = sketch; None = the suite has no docs. */
  private val bloomCache =
    graft.sources.SessionSweep.scoped(new java.util.concurrent.ConcurrentHashMap[String, Option[Array[Byte]]]())

  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def hashed(c: Column): Column =
      ColumnBridge.column(new XxHash64(Seq(ColumnBridge.expression(c))))
    val rawGrams = docToks(spark, dir)
      .select(col("doc_id"), explode(ngramArray(col("toks"))).as("gram"))
    val bloom = bloomCache.computeIfAbsent(
      s"${Dedup.sessionKey(spark)}|$dir", _ => {
        val evalGrams = rawGrams.filter(col("doc_id") % EvalModulus === 0)
        // Size the sketch from the OBSERVED eval gram count (×2
        // growth headroom, floored at 64k), not the 4M worst-case:
        // the bloom literal rides into EVERY task binary of every
        // stage that evaluates the predicate, and the fixed 4M
        // sizing made that a ~4.7 MB plan constant — measured ~1.4 s
        // of the query's steady-state wall was task serialization of
        // the oversized literal (the filter's false-positive rate is
        // what the sizing controls; the exact join kills fps either
        // way). The count is one narrow scan, paid once per session
        // alongside the build itself.
        val n = evalGrams.count()
        val expected = math.max(65536L, 2L * n)
        val bloomAgg = ColumnBridge.column(
          new BloomFilterAggregate(
            ColumnBridge.expression(hashed(col("gram"))), expected)
            .toAggregateExpression())
        val row = evalGrams.select(bloomAgg.as("bf")).head()
        if (row.isNullAt(0)) None else Some(row.getAs[Array[Byte]](0))
      })
    val pruned = bloom match {
      case None => rawGrams.filter(lit(false)) // no eval docs at all
      case Some(bytes) => rawGrams.filter(ColumnBridge.column(BloomFilterMightContain(
        ColumnBridge.expression(lit(bytes)),
        ColumnBridge.expression(hashed(col("gram"))))))
    }
    val g = pruned
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("df") <= MaxGramDf)
      .drop("df")
    decontJoin(
      g.filter(col("doc_id") % EvalModulus =!= 0)
        .select(col("doc_id").as("train_id"), col("gram")),
      g.filter(col("doc_id") % EvalModulus === 0)
        .select(col("doc_id").as("eval_id"), col("gram")))
  }

  /** Target language mix for corpus rebalancing, in integer percent
    * (sums to 100). Languages absent from the table are dropped from
    * the rebalanced corpus. */
  private[operators] val MixTargets =
    Seq(("en", 40L), ("zh", 20L), ("de", 15L), ("fr", 15L), ("es", 10L))

  /** Corpus language-mix rebalancing: downsample to the largest corpus
    * achieving the target language proportions, selecting per-language
    * by deterministic hash order (no RNG — same doc set on every run
    * and every engine). Feasible size N* = min over languages of
    * n_lang·100 ÷ pct_lang (the scarcest language binds); each
    * language keeps N*·pct ÷ 100 docs — all BIGINT arithmetic, exact
    * cross-engine.
    *
    * Scale: the naive per-language rank is a one-reducer-per-language
    * window (the largest language lands on a single task). Here the
    * rank is assembled from hash-prefix blocks: row_number within
    * (lang, first-2-hex-chars) partitions — 256× finer parallelism,
    * widen the prefix as the corpus grows — plus a broadcast
    * (langs × 256)-row block-prefix table, the same two-pass shape as
    * blockCumsum. The quota table is a broadcast scalar fan-out, never
    * a driver-side loop. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame =
    corpusMixOf(spark, Tables.documents(spark, dir).select(col("lang"), col("doc_id")))

  /** [[corpusMix]] over an arbitrary (lang, doc_id) slice — the core
    * the e2e pipeline re-quotas over its chained survivor set. */
  private[operators] def corpusMixOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val targets = MixTargets.toDF("lang", "pct")
    val feas = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(broadcast(targets), Seq("lang"))
    val nStar = feas.select(min(expr("n_docs * 100 DIV pct")).as("n_star"))
    val quota = feas.crossJoin(broadcast(nStar))
      .select(col("lang"), expr("n_star * pct DIV 100").as("n_keep"))
    val withH = docs
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("blk", substring(col("h"), 1, 2))
    val wBlk = Window.partitionBy(col("lang"), col("blk"))
      .orderBy(col("h").asc, col("doc_id").asc)
    val wLang = Window.partitionBy(col("lang")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blkPrefix = withH.groupBy("lang", "blk").agg(count(lit(1)).as("n"))
      .withColumn("prefix", coalesce(sum(col("n")).over(wLang), lit(0L)))
      .select(col("lang"), col("blk"), col("prefix"))
    withH.withColumn("rk_in_blk", row_number().over(wBlk))
      .join(broadcast(blkPrefix), Seq("lang", "blk"))
      .withColumn("rk", col("prefix") + col("rk_in_blk"))
      .join(broadcast(quota), Seq("lang"))
      .filter(col("rk") <= col("n_keep"))
      .select(col("lang"), col("doc_id"), col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")
  }

  /** Temperature-scaled sampling weights (τ = 2 ⇔ exponent α = 1/2 —
    * the standard multilingual pretraining re-balance, mBERT/XLM-R
    * style): per language, the raw corpus share and the
    * temperature-flattened share w_i = √n_i / Σ_j √n_j, plus the doc
    * quota the flattened share implies at the current corpus size.
    * Flattening up-weights tail languages without the hard pivot of
    * the fixed MixTargets table — the OTHER standard mixer, so the
    * family now covers both specification styles.
    *
    * Cross-engine determinism: √n is one correctly-rounded IEEE op on
    * an integer count (both engines agree bitwise), but Σ_j √n_j as a
    * plain double sum would depend on reduction order — so each √n
    * rounds to 9 dp and sums as DECIMAL (order-proof), and the shares
    * are single double divisions of those exact decimals. One tiny
    * aggregation (|langs| rows) + a 1-row broadcast total. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("srt", round(sqrt(col("n_docs").cast("double")), 9)
        .cast("decimal(38,9)"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"),
      sum(col("srt")).as("srt_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6).as("raw_share"),
        round(col("srt").cast("double") / col("srt_total").cast("double"), 6)
          .as("temp_share"),
        floor(col("srt").cast("double") / col("srt_total").cast("double") *
          col("n_total").cast("double")).cast("long").as("n_keep"))
      .orderBy("lang")
  }

  /** corpusMix in REAL training units: rebalance the language mix by
    * TOKEN proportions instead of document counts — what a data-mix
    * spec actually means ("40 % English tokens"), since document
    * length varies by language and source. Same deterministic
    * lowest-hash-first selection order; the quota axis is the
    * per-language cumulative BPE token count (largest total such that
    * every language can fill its token share; a doc is kept only if
    * its cumulative count stays within the quota, the tokenBudget
    * whole-doc rule). Per-language partitioned windows only — no
    * global sort, no unpartitioned window. */
  def corpusMixTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = docBpeToks(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val docs = Tables.documents(spark, dir).select(col("lang"), col("doc_id"))
      .join(counts, Seq("doc_id"))
      .withColumn("h", md5(col("doc_id").cast("string")))
    val targets = MixTargets.toDF("lang", "pct")
    val feas = docs.groupBy("lang").agg(sum(col("n_tokens")).as("t"))
      .join(broadcast(targets), Seq("lang"))
    val nStar = feas.select(min(expr("t * 100 DIV pct")).as("n_star"))
    val quota = feas.crossJoin(broadcast(nStar))
      .select(col("lang"), expr("n_star * pct DIV 100").as("tok_quota"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum", sum(col("n_tokens")).over(w))
      .join(broadcast(quota), Seq("lang"))
      .filter(col("cum") <= col("tok_quota"))
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        col("cum").cast("long").as("cum_tokens"))
      .orderBy("lang", "cum_tokens")
  }

  /** Exact-substring duplication audit — the span-level view of exact
    * dedup (the shape of Lee et al.'s "Deduplicating Training Data
    * Makes Language Models Better": remove REPEATED SUBSTRINGS, not
    * whole near-dup documents). Per document: how many token positions
    * are covered by a word 8-gram that occurs more than once in the
    * corpus (any other position, same or different doc), and the
    * covered fraction a curation pipeline thresholds on.
    *
    * Scale: never a doc×doc join — occurrence counting is one window
    * (equivalently hash-agg) keyed by the gram, and span merging is a
    * per-document window over only the FLAGGED positions. Interval
    * union via running max-end: contribution of an interval is its
    * end minus the larger of its start and the furthest end seen so
    * far — one pass, no self-join, exact even for nested/overlapping
    * intervals. Short documents (< 8 tokens) produce one short gram
    * whose span is clamped to the doc length; both sides mirror the
    * clamp. */
  /** (doc_id, n_tokens, pos) of flagged 8-gram start positions — the
    * span feed the audit (dupSpans) and both removal policies consume.
    * `keepFirst = false` flags EVERY occurrence of a gram that occurs
    * more than once in the corpus (the aggressive policy: all copies
    * go); `keepFirst = true` flags only the occurrences after the
    * gram's global first in deterministic (doc_id, pos) order — the
    * Lee et al. production policy, where one copy of every duplicated
    * substring survives. Both are one window keyed on the gram (count
    * vs row_number over the same partitioning — identical shuffle). */
  private def flaggedGramPositions(spark: SparkSession, dir: String,
                                   keepFirst: Boolean = false): DataFrame = {
    val base = docToks(spark, dir)
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"))
    val grams = base.select(col("doc_id"), col("n_tokens"),
      posexplode(transform(
        sequence(lit(1), greatest(size(col("toks")) - (NgramLen - 1), lit(1))),
        i => concat_ws(" ", slice(col("toks"), i, lit(NgramLen)))))
        .as(Seq("pos", "gram")))
      // the phantom "" gram of a NULL/empty token array would make two
      // contentless docs flag each other as duplicate spans
      .filter(col("gram") =!= "")
    val flagged =
      if (keepFirst)
        grams.withColumn("rn", row_number().over(
            Window.partitionBy(col("gram")).orderBy(col("doc_id"), col("pos"))))
          .filter(col("rn") > 1)
      else
        grams.withColumn("occ", count(lit(1)).over(Window.partitionBy(col("gram"))))
          .filter(col("occ") > 1)
    flagged.select(col("doc_id"), col("n_tokens"), col("pos"))
  }

  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val flagged = flaggedGramPositions(spark, dir)
    val spanEnd = least(col("pos") + NgramLen, col("n_tokens"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val spans = flagged
      .withColumn("prev_end", max(spanEnd).over(wDoc))
      .select(col("doc_id"),
        greatest(spanEnd - greatest(col("pos").cast("long"),
          coalesce(col("prev_end"), lit(0L))), lit(0L)).as("contrib"))
      .groupBy("doc_id").agg(sum(col("contrib")).as("dup_tokens"))
    docToks(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** Shared removal kernel for both span policies: aggregate the
    * flagged spans to ONE bounded row per document, join that row back
    * to the staged token table, and rebuild the cleaned text with
    * higher-order array ops entirely inside the row. The earlier
    * formulation posexploded every document into (doc_id, p, tok) rows,
    * anti-joined covered positions, and re-sorted per doc — roughly 3×
    * corpus bytes through an exchange as per-token struct rows. Here
    * the only aggregation input is the flagged-span rows (already far
    * smaller than the corpus, with map-side partial collect_set), and
    * the only join is doc-count-sized: the span table is tiny next to
    * the corpus, so AQE broadcasts it and the token table never
    * shuffles at all. PlanSpec pins the shape (one Generate — the gram
    * posexplode — and no token-level exchange). */
  private def removeFlaggedSpans(spark: SparkSession, dir: String,
                                 flagged: DataFrame): DataFrame = {
    val spanEnd = least(col("pos") + NgramLen, col("n_tokens"))
    // one row per flagged doc: its (pos, end) spans — bounded by the
    // doc's own gram count, never by a dup group's size
    val spans = flagged
      .groupBy("doc_id")
      .agg(collect_set(struct(col("pos").cast("long").as("pos"),
        spanEnd.as("end"))).as("spans"))
    docToks(spark, dir)
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      // covered-position set and the surviving-token filter are per-row
      // array ops: O(doc² ) worst case inside one row, zero shuffle
      .withColumn("cov", coalesce(
        array_distinct(flatten(transform(col("spans"),
          s => sequence(s.getField("pos"), s.getField("end") - 1)))),
        array().cast("array<bigint>")))
      .withColumn("kept",
        filter(col("toks"), (tok, i) => !array_contains(col("cov"), i.cast("long"))))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Apply side of dupSpans: REMOVE every token position covered by a
    * duplicated 8-gram and re-emit the cleaned text — the aggressive
    * removal policy (all copies go; see dupSpansKeep for the
    * keep-one-copy production policy). */
  def dupSpansApply(spark: SparkSession, dir: String): DataFrame =
    removeFlaggedSpans(spark, dir, flaggedGramPositions(spark, dir))

  /** Keep-one-copy exact-substring removal (Lee et al.'s production
    * policy): for every duplicated 8-gram, the globally FIRST
    * occurrence — deterministic (doc_id, pos) order — survives; only
    * the later occurrences' spans are removed. A first occurrence can
    * still lose positions that another gram's non-first occurrence
    * covers (the policy is per-gram, the removal per-position). Same
    * plan shape as dupSpansApply: the first-occurrence winner is a
    * row_number over the identical gram-keyed window. */
  def dupSpansKeep(spark: SparkSession, dir: String): DataFrame =
    removeFlaggedSpans(spark, dir, flaggedGramPositions(spark, dir, keepFirst = true))

  /** Split-fraction boundaries on the first md5 hex byte of the doc id:
    * 0x00–0xcc train (~80.1%), 0xcd–0xe5 val (~9.8%), rest test.
    * Lexicographic compare on the lowercase hex string is engine-
    * portable (no hex→int parsing, which DuckDB lacks). */
  private[operators] def splitOf(id: Column): Column = {
    val b = substring(md5(id.cast("string")), 1, 2)
    when(b < "cd", "train").when(b < "e6", "val").otherwise("test")
  }

  /** Deterministic train/val/test split summary: docs and total chars
    * per split. Pure map + one hash-agg; assignment is a function of
    * the doc id alone. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(splitOf(col("doc_id")).as("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("split")

  /** Leakage-safe train/val/test split: the md5 split rule applied to
    * each document's DUP-CLUSTER representative instead of its own id,
    * so exact and near duplicates can never straddle the train/test
    * boundary — the contamination path a per-doc split leaves open (a
    * test doc whose near-copy sits in train is memorization, not
    * generalization; same failure class as benchmark decontamination,
    * but internal to the corpus). Unclustered docs represent
    * themselves; clustered docs inherit the component's minimum id.
    *
    * Scale shape: the cluster labels are the maintained
    * `clusterLabels` artifact (docs incident to a dup edge only —
    * tiny next to the corpus), so this is one left broadcast-able
    * join + the same single hash-agg as [[hashSplit]]. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      .join(Dedup.clusterLabels(spark, dir).select(col("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .withColumn("rep_id", coalesce(col("component"), col("doc_id")))
      .groupBy(splitOf(col("rep_id")).as("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep_id")).as("n_groups"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("component").isNotNull, 1L).otherwise(0L)).as("n_clustered"))
      .orderBy("split")

  /** Per-group sample quota. */
  private[operators] val QuotaPerGroup = 50

  /** Quota sampling: at most QuotaPerGroup docs per language, chosen
    * by hash order (md5 of the id) — a deterministic uniform draw with
    * no RNG state, so the sample is stable under reruns and
    * repartitioning. A per-partition heap prunes each input partition
    * to ≤ quota rows per group BEFORE the window's exchange, so a
    * pathological hot group (half the corpus one language) shuffles
    * O(quota·partitions) rows instead of O(group) — the group's true
    * quota winners are a subset of the union of per-partition winners
    * under the same (hash, id) total order, so the final window
    * returns the identical rows. */
  def quotaSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val quota = QuotaPerGroup
    val keyed = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
    val pruned = keyed.as[(String, Long, String)].mapPartitions { it =>
      // max-heap on (hash, id): head is the worst kept candidate
      val worstFirst = Ordering.by[(String, Long), (String, Long)](identity)
      val best = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.PriorityQueue[(String, Long)]]
      it.foreach { case (lang, id, h) =>
        val q = best.getOrElseUpdate(lang,
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        if (q.size < quota) q.enqueue((h, id))
        else if (worstFirst.lt((h, id), q.head)) { q.dequeue(); q.enqueue((h, id)) }
      }
      best.iterator.flatMap { case (lang, q) =>
        q.iterator.map { case (h, id) => (lang, id, h) }
      }
    }.toDF("lang", "doc_id", "h")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("h").asc, col("doc_id").asc)
    pruned
      .select(col("lang"), col("doc_id"), row_number().over(w).as("rn"))
      .filter(col("rn") <= quota)
      .orderBy(col("lang").asc, col("rn").asc)
  }

  /** Tokens per training chunk. */
  private[operators] val ChunkTokens = 64

  /** Fixed-size token-window chunking: split every document into
    * consecutive ChunkTokens-token windows (last window ragged) — the
    * sequence-packing precursor that turns documents into training
    * rows. Narrow map + generator, no shuffle; emits the chunk digest
    * rather than the text so the result stays audit-sized. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val k = ChunkTokens
    docToks(spark, dir)
      // degenerate guard: a null text yields a null token array; the
      // oracle's NULL propagation emits no row for it, so neither do we
      .filter(col("toks").isNotNull)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), ((size(col("toks")) - 1) / k).cast("int")))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(k), size(col("toks")) - col("chunk_idx") * k).as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("toks"), col("chunk_idx") * k + 1, lit(k)))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Staged per-doc BPE token arrays (graft.functions.Bpe) — the
    * subword twin of docToks, memoized behind the same checkpoint
    * barrier so chunking and budgeting share one tokenization pass. */
  private[operators] def docBpeToks(spark: SparkSession, dir: String): DataFrame =
    Dedup.memo(spark, s"curationBpeToks|$dir") {
      Dedup.checkpointSer(docBpeToksPlan(spark, dir))
    }

  private[operators] def docBpeToksPlan(spark: SparkSession, dir: String): DataFrame =
    docBpeToksOf(Tables.documents(spark, dir))

  /** Row-wise BPE tokenization of an arbitrary documents slice — the
    * append-path twin of [[docToksOf]]. */
  private[operators] def docBpeToksOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.BpeTokenizeColumn(col("text")).as("toks"))

  /** chunkDocs over REAL subword tokens: identical windowing, but the
    * unit is what a trained tokenizer would emit (graft.functions.Bpe),
    * so chunk sizes line up with model context windows instead of
    * word counts. `size > 0` guard: an all-whitespace doc BPE-encodes
    * to an EMPTY array (not null) and must emit no chunk. */
  def chunkDocsBpe(spark: SparkSession, dir: String): DataFrame = {
    val k = ChunkTokens
    docBpeToks(spark, dir)
      .filter(col("toks").isNotNull && size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), ((size(col("toks")) - 1) / k).cast("int")))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(k), size(col("toks")) - col("chunk_idx") * k).as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("toks"), col("chunk_idx") * k + 1, lit(k)))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Budget for the BPE-unit token-budget selection: BPE tokens run
    * ~2.5× the whitespace count on this corpus, so the budget scales
    * to keep a comparable selection depth. */
  private[operators] val TokenBudgetBpe = 20000L

  /** tokenBudget in REAL subword units: quality tiers are unchanged
    * (classification stays on word statistics) but the budget axis
    * counts BPE tokens — the number that actually bounds a training
    * run. Same distributed blockCumsum physics; the BPE counts join
    * in on doc_id (map-side after AQE broadcasts the small side). */
  def tokenBudgetBpe(spark: SparkSession, dir: String,
                     budget: Long = TokenBudgetBpe): DataFrame = {
    val counts = docBpeToks(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val docs = TextAnalysis.qualityTiers(spark, dir)
      .select(col("doc_id"), col("quality"))
      .join(counts, Seq("doc_id"))
      .withColumn("tier", when(col("quality") === "ok", 0L).otherwise(1L))
    val withCum = blockCumsum(docs, expr("tier * 1099511627776 + doc_id DIV 1024"),
      Seq(col("tier"), col("doc_id")), col("n_tokens"))
    withCum.filter(col("_cum") <= budget)
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("_cum").cast("long").as("cum_tokens"))
      // doc_id tie-break: whitespace-only docs carry 0 tokens, so
      // cum_tokens alone can tie and the presentation order would be
      // nondeterministic across runs (mirrored in the oracle)
      .orderBy("cum_tokens", "doc_id")
  }

  /** Sample size for PPS sampling. */
  private[operators] val PpsSampleN = 100L

  /** Scalable global running sum: cumulative `valCol` in `orderCol`
    * order WITHOUT a single-partition window over the full table. The
    * rows cumsum within their block (distributed window keyed on the
    * block), block totals prefix-sum in one tiny single-partition
    * window (one row per block), and the two add up. The DuckDB
    * oracles express the same quantity as a plain
    * SUM() OVER (ORDER BY …) — identical values, different physics.
    *
    * Contract: `blockCol` must be non-null (it derives from non-null
    * ids/codes everywhere this is used). The prefix join is LEFT, not
    * inner — NOT for semantics (every block key matches its own total
    * by construction) but for the PLAN: an inner join infers
    * IsNotNull(_blk), and predicate pushdown substitutes the alias all
    * the way down — for q_zorder_layout's 64-term Morton block key the
    * inferred filter inlined the whole interleave (with its quantizers
    * re-expanded) into a BroadcastNestedLoopJoin condition evaluated
    * per row OUTSIDE whole-stage codegen: 2.4 CPU-s of the query's
    * 2.5 at sf0.1 (PLANS.md round 18 §1). A left join infers
    * nothing on the probe side and the plan stays a streamed
    * broadcast-hash join. */
  private[operators] def blockCumsum(df: DataFrame, blockCol: Column, orderCol: Seq[Column],
                          valCol: Column): DataFrame = {
    val withBlock = df.withColumn("_blk", blockCol)
    val within = sum(valCol).over(
      Window.partitionBy(col("_blk")).orderBy(orderCol: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val blockTotals = withBlock.groupBy(col("_blk"))
      .agg(sum(valCol).as("_blk_total"))
      .withColumn("_blk_prefix",
        coalesce(sum(col("_blk_total")).over(
          Window.orderBy(col("_blk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_blk"), col("_blk_prefix"))
    withBlock.withColumn("_within", within)
      .join(blockTotals, Seq("_blk"), "left")
      // belt for the contract above: a non-null _blk ALWAYS matches its
      // own block total, so a null _blk_prefix can only mean a caller
      // passed a nullable block key — fail loudly per row instead of
      // propagating a silent null cumulative sum downstream. The guard
      // references ONLY _blk_prefix (the join output), never _blk: a
      // reference to _blk here lets CollapseProject re-inline the
      // caller's block expression into this projection — for
      // q_zorder_layout's 64-term Morton key that re-evaluated the
      // whole interleave per row, +0.4 CPU-s at sf0.1 (the same
      // alias-substitution trap the LEFT join exists to avoid). On
      // conforming data the assert arm is never selected; a violated
      // contract makes it assert_true(false) and raises per row.
      .withColumn("_cum",
        when(col("_blk_prefix").isNotNull, col("_blk_prefix") + col("_within"))
          .otherwise(assert_true(col("_blk_prefix").isNotNull,
            lit("blockCumsum: blockCol produced a NULL block key — the non-null " +
              "contract was violated; coalesce the key at the call site")).cast("bigint")))
      .drop("_blk", "_within", "_blk_prefix")
  }

  /** Systematic probability-proportional-to-size sampling: n evenly
    * spaced probes over the cumulative weight axis (w = n_chars + 1),
    * docs in doc_id order. Deterministic AND exact across engines: the
    * probe test counts k ∈ [0, n) with (2k+1)·W ≤ 2n·cum, i.e.
    * (2n·cum + W) intdiv (2W) — pure BIGINT arithmetic, no RNG, no
    * libm (an Efraimidis–Spirakis key u^(1/w) would hang the oracle
    * hash on pow/ln ulps). A doc heavier than W/n can be hit more
    * than once — standard PPS; n_hits reports it. Scale: one
    * distributed block cumsum + a narrow map (the probe count is a
    * closed form, never a join against the probe list). */
  def ppsSample(spark: SparkSession, dir: String, n: Long = PpsSampleN): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("n_chars") + 1L).as("w"))
    // contiguous-range block key: block b's rows all precede block
    // b+1's in doc_id order, which is what lets the block prefix
    // stand in for the global one
    val withCum = blockCumsum(docs, expr("doc_id DIV 1024"),
      Seq(col("doc_id")), col("w"))
    val total = docs.agg(sum(col("w")).cast("long").as("total"))
    withCum.crossJoin(broadcast(total))
      .withColumn("hits_le",
        expr(s"(2 * $n * _cum + total) DIV (2 * total)"))
      .withColumn("hits_lt",
        expr(s"(2 * $n * (_cum - w) + total) DIV (2 * total)"))
      .select(col("doc_id"), col("w").cast("long").as("w"),
        (col("hits_le") - col("hits_lt")).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
      .orderBy("doc_id")
  }

  /** Tokens per packed training shard. */
  private[operators] val PackBudget = 512L

  /** Sequence packing (token-budget sharding): lay the chunk stream
    * (doc_id, chunk_idx order) along the cumulative token axis and cut
    * a shard every PackBudget tokens — shard = exclusive-prefix
    * intdiv budget. Chunks stay atomic within their shard assignment;
    * a chunk straddling a boundary belongs to the shard its first
    * token falls in (deterministic, no sequential state, identical
    * under repartitioning — the property greedy first-fit packing
    * lacks). Output is the per-shard audit: chunk/token/doc counts
    * and fill level. */
  def packChunks(spark: SparkSession, dir: String, budget: Long = PackBudget): DataFrame = {
    val chunks = chunkDocs(spark, dir)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"))
    val withCum = blockCumsum(chunks, expr("doc_id DIV 1024"),
      Seq(col("doc_id"), col("chunk_idx")), col("n_tokens"))
    withCum
      .withColumn("shard", expr(s"(_cum - n_tokens) DIV $budget"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("shard")
  }

  /** packChunks in REAL subword units: the BPE chunk stream packed
    * into PackBudget-token shards — what a training loader actually
    * consumes (context windows are BPE-token-sized). Same
    * exclusive-prefix intdiv sharding over the same distributed
    * blockCumsum; only the unit changes. */
  def packChunksBpe(spark: SparkSession, dir: String, budget: Long = PackBudget): DataFrame = {
    val chunks = chunkDocsBpe(spark, dir)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"))
    val withCum = blockCumsum(chunks, expr("doc_id DIV 1024"),
      Seq(col("doc_id"), col("chunk_idx")), col("n_tokens"))
    withCum
      .withColumn("shard", expr(s"(_cum - n_tokens) DIV $budget"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("shard")
  }

  /** Token budget for the quality-first selection. */
  /** Length-bucketed batching audit — the padding-efficiency report a
    * training loader runs before choosing its batching strategy:
    * documents bucket by token-count POWER OF TWO (bucket = bit length
    * of n_tokens — an exact integer both engines derive from the
    * binary string, the q_feature_drift digit-count discipline), and
    * the report compares per-bucket padding waste (pad to the bucket
    * cap 2^bucket) against unbucketed padding (pad everything to the
    * global max) — the measured argument for length-bucketed batching,
    * which typically recovers most of the 1 − mean/max waste.
    *
    * Scale shape: one tokenizing scan, one hash-agg on the bucket id
    * (map-side partials), a 1-row broadcast global max. */
  def paddingAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    // pad to the longest doc IN the bucket (what a loader batching
    // within a bucket actually pads to), never to the 2^bucket cap —
    // the top bucket's cap exceeds the global max and would overstate
    // the bucketed waste
    val g = d
      .withColumn("bucket", length(bin(col("n_tokens"))).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .withColumn("cap", pow(lit(2d), col("bucket")).cast("long"))
    // buckets partition the corpus, so the global max is the max of
    // the K per-bucket maxes — a GLOBAL WINDOW over the K-row
    // aggregate (an agg + join-back would reference `g` from two
    // unpersisted subtrees and re-run the tokenizing scan)
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    g.withColumn("gmax", max(col("max_tokens")).over(all))
      .select(col("bucket"), col("n_docs"), col("cap"), col("max_tokens"),
        col("sum_tokens"),
        round(lit(1.0d) - col("sum_tokens").cast("double") /
          (col("n_docs") * col("max_tokens")).cast("double"), 6)
          .as("pad_ratio_bucketed"),
        round(lit(1.0d) - col("sum_tokens").cast("double") /
          (col("n_docs") * col("gmax")).cast("double"), 6)
          .as("pad_ratio_unbucketed"))
      .orderBy("bucket")
  }

  private[operators] val TokenBudget = 8000L

  /** Token-budget curation: fill a fixed training-token budget with the
    * best documents — 'ok'-quality docs first, doc_id order within a
    * tier, each doc kept only if it fits entirely (its cumulative token
    * count stays within the budget). The naive formulation is a global
    * ORDER BY + running-sum window — a single-partition window at any
    * scale. This one rides blockCumsum: the block key (tier, doc_id
    * block) is a contiguous-range prefix of the selection order, so the
    * cumulative axis is a per-block window plus a blocks-count-sized
    * prefix table — the same two-pass distributed prefix sum PPS
    * sampling and sequence packing use. CurationSpec pins equivalence
    * with the naive global window. */
  def tokenBudget(spark: SparkSession, dir: String, budget: Long = TokenBudget): DataFrame = {
    val docs = TextAnalysis.qualityTiers(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .withColumn("tier", when(col("quality") === "ok", 0L).otherwise(1L))
    // 2^40 ≫ any block index: the block key stays monotone in the
    // (tier, doc_id) selection order
    val withCum = blockCumsum(docs, expr("tier * 1099511627776 + doc_id DIV 1024"),
      Seq(col("tier"), col("doc_id")), col("n_tokens"))
    withCum.filter(col("_cum") <= budget)
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("_cum").cast("long").as("cum_tokens"))
      // doc_id tie-break: whitespace-only docs carry 0 tokens, so
      // cum_tokens alone can tie and the presentation order would be
      // nondeterministic across runs (mirrored in the oracle)
      .orderBy("cum_tokens", "doc_id")
  }

  private val ProfileCols = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  private val NumericCols = Set("o_orderkey", "o_custkey", "o_totalprice")

  /** One-pass column profiler over `orders`: per column, row/null/
    * distinct counts and min/max (numeric columns as double, the rest
    * rendered as strings). The multi-column COUNT(DISTINCT) plans one
    * Expand + hash-agg — a single scan of the table, vs one scan per
    * column for the naive UNION formulation (which the oracle uses:
    * DuckDB pays 6 scans of a 15k-row table, Spark pays 1 of the
    * 100 TB one). */
  def profileOrders(spark: SparkSession, dir: String): DataFrame = {
    val aggs = ProfileCols.flatMap { c =>
      Seq(count(col(c)).as(s"cnt_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"))
    }
    val g = Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    def numOrNull(c: String, side: String): Column =
      if (NumericCols(c)) col(s"${side}_$c").cast("double")
      else lit(null).cast("double")
    def strOrNull(c: String, side: String): Column =
      if (NumericCols(c)) lit(null).cast("string")
      else col(s"${side}_$c").cast("string")
    val rows = ProfileCols.map { c =>
      struct(lit(c).as("col_name"),
        col("n_rows"),
        (col("n_rows") - col(s"cnt_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct"),
        numOrNull(c, "min").as("min_num"), numOrNull(c, "max").as("max_num"),
        strOrNull(c, "min").as("min_str"), strOrNull(c, "max").as("max_str"))
    }
    g.select(explode(array(rows: _*)).as("r"))
      .select(col("r.*"))
      .orderBy("col_name")
  }

  /** DSIR hashed-feature space: 256 buckets keyed by the first two hex
    * chars of md5(token) — a string key both engines compute
    * identically, no numeric hash conversion. The paper uses ~10 k
    * hashed n-gram buckets; the bucket count is the smoothing knob. */
  private[operators] val DsirBuckets = 256
  private[operators] val DsirK = 100
  private[operators] val DsirTargetLang = "en"

  /** Data selection via importance resampling — DSIR (Xie et al.
    * 2023, arXiv:2302.03169). Fit two bag-of-hashed-ngram unigram
    * models — target (here: the `lang = en` slice standing in for the
    * paper's high-quality target corpus) and raw (the whole corpus) —
    * with Laplace smoothing over the [[DsirBuckets]] feature space;
    * score every candidate document (the non-target pool) by its log
    * importance weight Σ_tokens [ln p_target(bucket) − ln
    * p_raw(bucket)] and keep the top [[DsirK]]. This is the
    * zero-temperature variant of the paper's Gumbel-noise resampling:
    * top-k by weight, deterministic on every engine and every run —
    * the noise temperature is a sampling knob, not part of the scoring
    * semantics.
    *
    * Reduction-order discipline (the perplexityScore pattern): each
    * (doc, bucket) contribution is rounded to 9 dp and summed as
    * DECIMAL(29,9), so the per-doc weight is exact and the final
    * ordering cannot be moved by float reduction order; rows rank by
    * the EXACT decimal weight with doc_id tiebreak.
    *
    * Scale: the two models are 256-row broadcast tables built by one
    * map-side-combined aggregation over the staged token table; the
    * per-doc score is explode → (doc, bucket) hash-agg → broadcast
    * join → per-doc hash-agg (one shuffle row per doc-bucket, then
    * one per doc); the global top-k plans as TakeOrderedAndProject —
    * no full sort, no driver collect. At 100 TB the target model is a
    * published artifact fitted once on the curated target suite. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val db = docToks(spark, dir)
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("lang"),
        substring(md5(col("tok")), 1, 2).as("bucket"))
      .groupBy("doc_id", "lang", "bucket").agg(count(lit(1)).as("cnt"))
    val rawCnt = db.groupBy("bucket").agg(sum("cnt").as("rc"))
    val tgtCnt = db.filter(col("lang") === DsirTargetLang)
      .groupBy("bucket").agg(sum("cnt").as("tc"))
    val rawTot = rawCnt.agg(sum("rc").as("r_tot"))
    val tgtTot = tgtCnt.agg(sum("tc").as("t_tot"))
    val bucketLr = rawCnt.join(tgtCnt, Seq("bucket"), "left")
      .crossJoin(broadcast(rawTot)).crossJoin(broadcast(tgtTot))
      .select(col("bucket"),
        (log((coalesce(col("tc"), lit(0L)) + 1).cast("double") /
            (col("t_tot") + DsirBuckets).cast("double")) -
          log((col("rc") + 1).cast("double") /
            (col("r_tot") + DsirBuckets).cast("double"))).as("lr"))
    db.filter(col("lang") =!= DsirTargetLang)
      .join(broadcast(bucketLr), Seq("bucket"))
      // FIXED-POINT twin of the DECIMAL(29,9) sum (r20, §4): the same
      // 9-dp HALF_UP value carried as LONG units of 1e-9, so the
      // per-pair aggregation buffer is a primitive long instead of a
      // precision-29 Decimal (BigDecimal add + alloc per row). The
      // outer round is PROVABLY the decimal cast's unscaled value:
      // with d = round(x, 9), |fl(d·1e9) − u| ≤ |u|·(2⁻⁵²+2⁻⁵³) < 0.5
      // for |u| < 1.5e15 (|x| < 1.5e6 — a per-doc-per-bucket count
      // times a log-ratio bounded by tens), so round-to-nearest lands
      // on u in both engines and the long sum equals the decimal sum
      // exactly; u/1e9 back to double is one correctly-rounded IEEE
      // division, the same double Decimal.toDouble produced. The
      // DuckDB oracle mirrors the formulation term for term.
      .withColumn("contrib",
        round(round(col("cnt").cast("double") * col("lr"), 9) * 1e9).cast("long"))
      .groupBy("doc_id", "lang")
      .agg(sum("cnt").as("n_tokens"), sum("contrib").as("w"))
      .orderBy(col("w").desc, col("doc_id").asc)
      .limit(DsirK)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("w").cast("double") / 1e9, 6).as("dsir_logratio"))
  }

  /** Tokenizer fertility report: per language, whitespace-word vs BPE
    * subword counts and the two ratios tokenizer evaluations gate on —
    * fertility (subwords per word; high fertility on a language means
    * the vocabulary under-serves it and its effective context window
    * shrinks) and chars per subword (compression). Rides the two
    * memoized/primable tokenized-corpus artifacts — zero new
    * tokenization passes — and aggregates to |langs| rows; the ratios
    * divide exact BIGINT sums, so cross-engine parity is one IEEE
    * division per row. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame =
    docToks(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("toks")).cast("long").as("nws"))
      .join(docBpeToks(spark, dir)
        .select(col("doc_id"), size(col("toks")).cast("long").as("nbpe")), Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("nws")).as("ws_tokens"),
        sum(col("nbpe")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_chars"),
        col("ws_tokens"), col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") / col("ws_tokens"), 6).as("fertility"),
        round(col("n_chars").cast("double") / col("bpe_tokens"), 6).as("chars_per_token"))
      .orderBy("lang")
}

/** Driver-contract registration: every curation query is DuckDB-
  * oracled (all the arithmetic is md5/int/string — engine-portable). */
object CurationModule extends QueryModule {
  import Curation._

  def queries = Map(
    "q_decontaminate" -> ((s: SparkSession, d: String) => decontaminate(s, d)),
    "q_decontaminate_bloom" -> ((s: SparkSession, d: String) => decontaminateBloom(s, d)),
    "q_hash_split" -> ((s: SparkSession, d: String) => hashSplit(s, d)),
    "q_split_leakage_safe" -> ((s: SparkSession, d: String) => leakageSafeSplit(s, d)),
    "q_quota_sample" -> ((s: SparkSession, d: String) => quotaSample(s, d)),
    "q_chunk_docs" -> ((s: SparkSession, d: String) => chunkDocs(s, d)),
    "q_chunk_docs_bpe" -> ((s: SparkSession, d: String) => chunkDocsBpe(s, d)),
    "q_token_budget_bpe" -> ((s: SparkSession, d: String) => tokenBudgetBpe(s, d)),
    "q_pack_chunks_bpe" -> ((s: SparkSession, d: String) => packChunksBpe(s, d)),
    "q_pps_sample" -> ((s: SparkSession, d: String) => ppsSample(s, d)),
    "q_pack_chunks" -> ((s: SparkSession, d: String) => packChunks(s, d)),
    "q_padding_audit" -> ((s: SparkSession, d: String) => paddingAudit(s, d)),
    "q_token_budget" -> ((s: SparkSession, d: String) => tokenBudget(s, d)),
    "q_dup_spans" -> ((s: SparkSession, d: String) => dupSpans(s, d)),
    "q_dup_spans_apply" -> ((s: SparkSession, d: String) => dupSpansApply(s, d)),
    "q_dup_spans_keep" -> ((s: SparkSession, d: String) => dupSpansKeep(s, d)),
    "q_corpus_mix" -> ((s: SparkSession, d: String) => corpusMix(s, d)),
    "q_corpus_mix_temp" -> ((s: SparkSession, d: String) => temperatureMix(s, d)),
    "q_corpus_mix_tokens" -> ((s: SparkSession, d: String) => corpusMixTokens(s, d)),
    "q_profile_orders" -> ((s: SparkSession, d: String) => profileOrders(s, d)),
    "q_select_dsir" -> ((s: SparkSession, d: String) => dsirSelect(s, d)),
    "q_bpe_fertility" -> ((s: SparkSession, d: String) => bpeFertility(s, d)))

  /** Shared by the exact and Bloom-pre-filtered decontamination
    * queries: the Bloom variant's output is defined to be identical
    * (no false negatives + exact confirm join), so it is held to the
    * very same oracle. */
  private val DecontOracleSql =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks) - 7, 1)),
      |    i -> array_to_string(toks[i:i+7], ' '))) AS grams
      |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM documents)),
      |g0 AS (SELECT doc_id, unnest(grams) AS gram FROM t),
      |g AS (SELECT doc_id, gram FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY gram) AS df FROM g0)
      |  WHERE df <= 64),
      |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 20 = 0),
      |tr AS (SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 20 <> 0)
      |SELECT train_id, CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_shared,
      |  CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
      |FROM tr JOIN ev ON tr.gram = ev.gram
      |GROUP BY train_id
      |ORDER BY n_shared DESC, train_id ASC""".stripMargin

  def oracles = Map(
    "q_decontaminate" -> DecontOracleSql,
    "q_decontaminate_bloom" -> DecontOracleSql,
    "q_padding_audit" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |f AS (SELECT * FROM d WHERE n_tokens > 0),
        |g AS (SELECT CAST(length(bin(n_tokens)) AS INT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |    CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
        |  FROM f GROUP BY 1),
        |m AS (SELECT MAX(n_tokens) AS gmax FROM f)
        |SELECT bucket, n_docs, CAST(power(2, bucket) AS BIGINT) AS cap, max_tokens,
        |  sum_tokens,
        |  round(1.0::DOUBLE - CAST(sum_tokens AS DOUBLE) /
        |    (CAST(n_docs AS DOUBLE) * CAST(max_tokens AS DOUBLE)), 6) AS pad_ratio_bucketed,
        |  round(1.0::DOUBLE - CAST(sum_tokens AS DOUBLE) /
        |    (CAST(n_docs AS DOUBLE) * CAST(gmax AS DOUBLE)), 6) AS pad_ratio_unbucketed
        |FROM g CROSS JOIN m ORDER BY bucket""".stripMargin,
    "q_token_budget" ->
      """WITH d AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS distinct_ratio
        |  FROM d),
        |q AS (SELECT doc_id, n_tokens,
        |  CASE WHEN n_tokens < 10 THEN 'too_short'
        |       WHEN punct_ratio > 0.2 THEN 'too_punct'
        |       WHEN distinct_ratio < 0.2 THEN 'too_repetitive'
        |       ELSE 'ok' END AS quality FROM s),
        |c AS (SELECT doc_id, quality, n_tokens,
        |  SUM(n_tokens) OVER (
        |    ORDER BY CASE WHEN quality = 'ok' THEN 0 ELSE 1 END, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 8000 ORDER BY cum_tokens, doc_id""".stripMargin,
    "q_dup_spans" ->
      """WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM d),
        |g AS (SELECT doc_id, n_tokens, i - 1 AS pos,
        |    array_to_string(toks[i:i+7], ' ') AS gram
        |  FROM n, unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS u(i)),
        |f AS (SELECT doc_id, n_tokens, pos FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY gram) AS occ FROM g)
        |  WHERE occ > 1),
        |m AS (SELECT doc_id, n_tokens, pos,
        |    MAX(least(pos + 8, n_tokens)) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM f),
        |s AS (SELECT doc_id, SUM(greatest(
        |    least(pos + 8, n_tokens) - greatest(pos, coalesce(prev_end, 0)), 0)) AS dup_tokens
        |  FROM m GROUP BY doc_id)
        |SELECT n.doc_id, n.n_tokens,
        |  CAST(coalesce(s.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  round(CAST(coalesce(s.dup_tokens, 0) AS DOUBLE) / n.n_tokens, 6) AS dup_fraction
        |FROM n LEFT JOIN s ON n.doc_id = s.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "q_dup_spans_apply" ->
      """WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM d),
        |g AS (SELECT doc_id, n_tokens, i - 1 AS pos,
        |    array_to_string(toks[i:i+7], ' ') AS gram
        |  FROM n, unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS u(i)),
        |f AS (SELECT doc_id, n_tokens, pos FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY gram) AS occ FROM g)
        |  WHERE occ > 1),
        |cov AS (SELECT DISTINCT doc_id, u.p
        |  FROM f, unnest(generate_series(pos, least(pos + 8, n_tokens) - 1)) AS u(p)),
        |tp AS (SELECT doc_id, i - 1 AS p, toks[i] AS tok
        |  FROM n, unnest(generate_series(1, len(toks))) AS u(i)),
        |kept AS (SELECT tp.doc_id, tp.p, tp.tok FROM tp
        |  ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT n.doc_id, n.n_tokens,
        |  CAST(n.n_tokens - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(clean_text, '') AS clean_text
        |FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "q_dup_spans_keep" ->
      """WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM d),
        |g AS (SELECT doc_id, n_tokens, i - 1 AS pos,
        |    array_to_string(toks[i:i+7], ' ') AS gram
        |  FROM n, unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS u(i)),
        |f AS (SELECT doc_id, n_tokens, pos FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g)
        |  WHERE rn > 1),
        |cov AS (SELECT DISTINCT doc_id, u.p
        |  FROM f, unnest(generate_series(pos, least(pos + 8, n_tokens) - 1)) AS u(p)),
        |tp AS (SELECT doc_id, i - 1 AS p, toks[i] AS tok
        |  FROM n, unnest(generate_series(1, len(toks))) AS u(i)),
        |kept AS (SELECT tp.doc_id, tp.p, tp.tok FROM tp
        |  ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT n.doc_id, n.n_tokens,
        |  CAST(n.n_tokens - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(clean_text, '') AS clean_text
        |FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "q_corpus_mix_temp" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(round(sqrt(CAST(COUNT(*) AS DOUBLE)), 9) AS DECIMAL(38,9)) AS srt
        |  FROM documents GROUP BY lang),
        |t AS (SELECT SUM(n_docs) AS n_total, SUM(srt) AS srt_total FROM c)
        |SELECT lang, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / n_total, 6) AS raw_share,
        |  round(CAST(srt AS DOUBLE) / CAST(srt_total AS DOUBLE), 6) AS temp_share,
        |  CAST(floor(CAST(srt AS DOUBLE) / CAST(srt_total AS DOUBLE)
        |    * CAST(n_total AS DOUBLE)) AS BIGINT) AS n_keep
        |FROM c CROSS JOIN t ORDER BY lang""".stripMargin,
    "q_corpus_mix" ->
      """WITH counts AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
        |t(lang, pct) AS (VALUES
        |  ('en', 40), ('zh', 20), ('de', 15), ('fr', 15), ('es', 10)),
        |feas AS (SELECT c.lang, n_docs, CAST(pct AS BIGINT) AS pct
        |         FROM counts c JOIN t ON c.lang = t.lang),
        |ns AS (SELECT MIN(n_docs * 100 // pct) AS n_star FROM feas),
        |quota AS (SELECT lang, (n_star * pct) // 100 AS n_keep
        |          FROM feas CROSS JOIN ns),
        |r AS (SELECT lang, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT r.lang, doc_id, CAST(rk AS BIGINT) AS rk
        |FROM r JOIN quota ON r.lang = quota.lang
        |WHERE rk <= n_keep ORDER BY r.lang, rk""".stripMargin,
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE ${DedupModule.ClusterCteSql},
         |rep AS (SELECT d.doc_id, d.n_chars, c.component,
         |    coalesce(c.component, d.doc_id) AS rep_id
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT CASE WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
         |            WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |            ELSE 'test' END AS split,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT rep_id) AS BIGINT) AS n_groups,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(SUM(CASE WHEN component IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clustered
         |FROM rep GROUP BY split ORDER BY split""".stripMargin,
    "q_hash_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |            ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY split ORDER BY split""".stripMargin,
    "q_quota_sample" ->
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 50 ORDER BY lang ASC, rn ASC""".stripMargin,
    "q_chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |           FROM documents)
        |SELECT doc_id, j AS chunk_idx,
        |  least(64, len(toks) - j*64) AS n_tokens,
        |  md5(array_to_string(toks[j*64+1 : j*64+64], ' ')) AS chunk_md5
        |FROM t, unnest(generate_series(0, (len(toks)-1)//64)) AS u(j)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_chunk_docs_bpe" ->
      s"""WITH RECURSIVE
         |${graft.functions.Bpe.oracleToksCtes}
         |SELECT doc_id, j AS chunk_idx,
         |  least(64, len(toks) - j*64) AS n_tokens,
         |  md5(array_to_string(toks[j*64+1 : j*64+64], ' ')) AS chunk_md5
         |FROM bpe_toks, unnest(generate_series(0, (len(toks)-1)//64)) AS u(j)
         |WHERE len(toks) > 0
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_bpe_fertility" ->
      s"""WITH RECURSIVE
         |${graft.functions.Bpe.oracleToksCtes},
         |ws AS (SELECT doc_id, lang, n_chars,
         |         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS nws
         |       FROM documents),
         |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS nbpe FROM bpe_toks)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |  CAST(SUM(nws) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(nbpe) AS BIGINT) AS bpe_tokens,
         |  round(CAST(SUM(nbpe) AS DOUBLE) / CAST(SUM(nws) AS BIGINT), 6) AS fertility,
         |  round(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(nbpe) AS BIGINT), 6) AS chars_per_token
         |FROM ws JOIN b ON b.doc_id = ws.doc_id
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_corpus_mix_tokens" ->
      s"""WITH RECURSIVE
         |${graft.functions.Bpe.oracleToksCtes},
         |bc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM bpe_toks),
         |d AS (SELECT lang, d0.doc_id, n_tokens, md5(CAST(d0.doc_id AS VARCHAR)) AS h
         |      FROM documents d0 JOIN bc ON bc.doc_id = d0.doc_id),
         |tg AS (SELECT * FROM (VALUES ('en', 40),('zh', 20),('de', 15),('fr', 15),('es', 10)) t(lang, pct)),
         |f AS (SELECT d.lang, SUM(n_tokens) AS t, any_value(pct) AS pct
         |      FROM d JOIN tg ON tg.lang = d.lang GROUP BY d.lang),
         |ns AS (SELECT MIN(t * 100 // pct) AS n_star FROM f),
         |q AS (SELECT lang, n_star * pct // 100 AS tok_quota FROM f CROSS JOIN ns),
         |c AS (SELECT lang, doc_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d)
         |SELECT c.lang AS lang, doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
         |FROM c JOIN q ON q.lang = c.lang WHERE cum <= tok_quota
         |ORDER BY c.lang, cum_tokens""".stripMargin,
    "q_pack_chunks_bpe" ->
      s"""WITH RECURSIVE
         |${graft.functions.Bpe.oracleToksCtes},
         |ch AS (SELECT doc_id, j AS chunk_idx, least(64, len(toks) - j*64) AS n_tokens
         |       FROM bpe_toks, unnest(generate_series(0, (len(toks)-1)//64)) AS u(j)
         |       WHERE len(toks) > 0),
         |c AS (SELECT doc_id, chunk_idx, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY doc_id, chunk_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM ch)
         |SELECT CAST((cum - n_tokens) // 512 AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,
    "q_token_budget_bpe" ->
      s"""WITH RECURSIVE
         |${graft.functions.Bpe.oracleToksCtes},
         |d AS (SELECT doc_id, text,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS distinct_ratio
         |  FROM d),
         |q AS (SELECT doc_id,
         |  CASE WHEN n_tokens < 10 THEN 'too_short'
         |       WHEN punct_ratio > 0.2 THEN 'too_punct'
         |       WHEN distinct_ratio < 0.2 THEN 'too_repetitive'
         |       ELSE 'ok' END AS quality FROM s),
         |bc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM bpe_toks),
         |c AS (SELECT q.doc_id, q.quality, bc.n_tokens,
         |  SUM(bc.n_tokens) OVER (
         |    ORDER BY CASE WHEN q.quality = 'ok' THEN 0 ELSE 1 END, q.doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM q JOIN bc USING (doc_id))
         |SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 20000 ORDER BY cum_tokens, doc_id""".stripMargin,
    "q_pps_sample" ->
      """WITH d AS (SELECT doc_id, n_chars + 1 AS w FROM documents),
        |c AS (SELECT doc_id, w,
        |    SUM(w) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d),
        |t AS (SELECT SUM(w) AS total FROM d)
        |SELECT doc_id, w, n_hits FROM (
        |  SELECT doc_id, CAST(w AS BIGINT) AS w,
        |    CAST((2*100*cum + total) // (2*total)
        |       - (2*100*(cum - w) + total) // (2*total) AS BIGINT) AS n_hits
        |  FROM c CROSS JOIN t)
        |WHERE n_hits > 0 ORDER BY doc_id""".stripMargin,
    "q_pack_chunks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |           FROM documents),
        |ch AS (SELECT doc_id, j AS chunk_idx, least(64, len(toks) - j*64) AS n_tokens
        |       FROM t, unnest(generate_series(0, (len(toks)-1)//64)) AS u(j)),
        |c AS (SELECT doc_id, chunk_idx, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ch)
        |SELECT CAST((cum - n_tokens) // 512 AS BIGINT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,
    "q_profile_orders" -> {
      val numeric = Set("o_orderkey", "o_custkey", "o_totalprice")
      val selects = Seq(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority").map { c =>
        val (minN, maxN, minS, maxS) =
          if (numeric(c))
            (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)",
             "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          else
            ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
             s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)")
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $minN AS min_num, $maxN AS max_num,
           |  $minS AS min_str, $maxS AS max_str
           |FROM orders""".stripMargin
      }
      selects.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q_select_dsir" ->
      s"""WITH tk AS (SELECT doc_id, lang,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok FROM documents),
        |b AS (SELECT doc_id, lang, substr(md5(tok), 1, 2) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tk GROUP BY 1, 2, 3),
        |rawc AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS rc FROM b GROUP BY 1),
        |tgtc AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS tc FROM b
        |  WHERE lang = '$DsirTargetLang' GROUP BY 1),
        |rt AS (SELECT CAST(SUM(rc) AS BIGINT) AS r_tot FROM rawc),
        |tt AS (SELECT CAST(SUM(tc) AS BIGINT) AS t_tot FROM tgtc),
        |lr AS (SELECT bucket,
        |    ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE) / CAST(t_tot + $DsirBuckets AS DOUBLE)) -
        |    ln(CAST(rc + 1 AS DOUBLE) / CAST(r_tot + $DsirBuckets AS DOUBLE)) AS lr
        |  FROM rawc LEFT JOIN tgtc USING (bucket) CROSS JOIN rt CROSS JOIN tt),
        |sc AS (SELECT doc_id, lang, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |    SUM(CAST(round(round(CAST(cnt AS DOUBLE) * lr, 9) * 1e9, 0) AS BIGINT)) AS w
        |  FROM b JOIN lr USING (bucket) WHERE lang <> '$DsirTargetLang'
        |  GROUP BY doc_id, lang)
        |SELECT doc_id, lang, n_tokens, round(CAST(w AS DOUBLE) / 1e9, 6) AS dsir_logratio
        |FROM sc ORDER BY w DESC, doc_id ASC LIMIT $DsirK""".stripMargin)
}
