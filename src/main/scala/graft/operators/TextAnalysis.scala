package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.sources.Tables

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md
  * §2.12 / north-star extensions): token statistics, language
  * identification, quality scoring, tokenizer-style counting, and
  * document fingerprinting — all over the `documents` table.
  *
  * Design notes:
  *  - Everything is built from `org.apache.spark.sql.functions` —
  *    higher-order array functions (`transform`/`filter`/`aggregate`)
  *    keep the work inside whole-stage codegen; there are no Scala
  *    UDFs on any hot path.
  *  - Each query is mirrored by equivalent DuckDB SQL (list_transform /
  *    list_filter / generate_series) so the driver's oracle gate
  *    hash-checks the results. Where the two engines' regex dialects
  *    could diverge, the patterns are restricted to the common subset
  *    (explicit char classes, no lookaround).
  *  - Scale posture: every operator is a single narrow map over the
  *    documents scan (no shuffle at all except the final presentation
  *    ORDER BY, the histogram/bigram groupBys, and repetition's
  *    top-token aggregation). At 100 TB these run scan-bound with full
  *    column pruning.
  */
object TextAnalysis {

  /** Whitespace tokens of the trimmed, lowercased text. */
  private def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  private val enStop = Seq("the", "a", "of", "and", "is", "in", "to")
  private val deStop = Seq("der", "die", "das", "und", "ist", "nicht")
  private val frStop = Seq("le", "la", "les", "et", "est", "ne")
  private val esStop = Seq("el", "los", "las", "y", "es", "no")

  /** Per-document token statistics: token count, distinct-token count,
    * summed token length, average token length. Explode + one hash
    * aggregation keyed on the doc — whole-stage codegen with map-side
    * partial aggregation, so the shuffle carries one accumulator row
    * per document. (The per-row `aggregate(transform(...))` fold
    * computes the same values in a narrow map but runs interpreted —
    * per-token virtual-call overhead on the hottest path.)
    *
    * NULL-text documents still get an audit row (all-NULL stats, the
    * oracle's NULL propagation): explode_outer keeps the doc as a
    * null-token row, and the zero-count aggregates finish as NULL. A
    * plain explode would silently drop the doc — lost audit rows. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_calc"),
        explode_outer(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "n_chars_calc")
      .agg(count(col("tok")).as("cnt"),
        countDistinct(col("tok")).as("dcnt"),
        sum(length(col("tok")).cast("long")).as("sum_token_len"))
      .select(col("doc_id"), col("n_chars_calc"),
        when(col("cnt") > 0, col("cnt")).as("n_tokens"),
        when(col("cnt") > 0, col("dcnt")).as("n_distinct_tokens"),
        col("sum_token_len"),
        round(col("sum_token_len").cast("double") / col("cnt"), 6)
          .as("avg_token_len"))
      .orderBy("doc_id")

  /** Heuristic language ID: per-language stopword hit counts over the
    * token set plus a CJK-codepoint probe, argmax with a fixed
    * tie-break order (zh > en > de > fr > es > unknown). The pattern
    * embeds literal CJK range endpoints so the same text survives both
    * Java-regex and RE2 (no \uXXXX dialect divergence). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val en = countIn(t, enStop)
    val de = countIn(t, deStop)
    val fr = countIn(t, frStop)
    val es = countIn(t, esStop)
    val zh = length(regexp_replace(col("text"), "[^一-鿿]", ""))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("lang_meta"),
        en.cast("long").as("en_hits"), de.cast("long").as("de_hits"),
        fr.cast("long").as("fr_hits"), es.cast("long").as("es_hits"),
        when(zh > 0, "zh")
          .when(en >= de && en >= fr && en >= es && en > 0, "en")
          .when(de >= fr && de >= es && de > 0, "de")
          .when(fr >= es && fr > 0, "fr")
          .when(es > 0, "es")
          .otherwise("unknown").as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length/punctuation/stopword/repetition ratios and
    * a bucketed verdict — the standard pre-training corpus filters.
    * All ratios are round()ed so the cross-engine compare is exact. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityTiers(spark, dir).orderBy("doc_id")

  /** Unordered quality table (doc_id, n_tokens, ratios, quality) —
    * the building block qualityScore sorts for its oracle and the
    * curation operators consume sort-free (an inherited orderBy
    * would plan a dead range exchange under their own shuffles). */
  private[operators] def qualityTiers(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t)
    val nChars = length(col("text"))
    val punct = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
    val stop = countIn(t, enStop)
    // greatest(,1): a zero-length document must CLASSIFY (too_short),
    // not throw or go NaN — mirrored in every oracle that rebuilds
    // these ratios. The token guard is defensive parity only: the
    // regex split of an empty string yields [''] in both engines, so
    // len(toks) >= 1 and the guarded value is always identical.
    val nTokSafe = greatest(nTok, lit(1))
    val distinctRatio = round(size(array_distinct(t)).cast("double") / nTokSafe, 6)
    val punctRatio = round(punct.cast("double") / greatest(nChars, lit(1)), 6)
    val stopRatio = round(stop.cast("double") / nTokSafe, 6)
    Tables.documents(spark, dir)
      .select(col("doc_id"), nTok.cast("long").as("n_tokens"),
        punctRatio.as("punct_ratio"), stopRatio.as("stop_ratio"),
        distinctRatio.as("distinct_ratio"),
        when(nTok < 10, "too_short")
          .when(punctRatio > 0.2, "too_punct")
          .when(distinctRatio < 0.2, "too_repetitive")
          .otherwise("ok").as("quality"))
  }

  /** Per-source quality dashboard: the governance roll-up a
    * multi-feed pipeline reviews before admitting or re-weighting a
    * source — doc counts, ok-tier share, token volume, and mean
    * punct/distinct ratios per ingest source. One aggregation over the
    * per-doc quality tiers (the join key is the scan's own doc_id, so
    * the source join is a projection-only second read of the same
    * parquet); means sum the 6-dp-rounded per-doc ratios as DECIMAL so
    * reduction order cannot move them. */
  def sourceQuality(spark: SparkSession, dir: String): DataFrame =
    qualityTiers(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") === "ok", 1L).otherwise(0L)).as("n_ok"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("punct_ratio").cast("decimal(19,6)")).as("sp"),
        sum(col("distinct_ratio").cast("decimal(19,6)")).as("sd"))
      .select(col("source"), col("n_docs"), col("n_ok"),
        round(col("n_ok").cast("double") / col("n_docs"), 6).as("share_ok"),
        col("n_tokens"),
        round(col("sp").cast("double") / col("n_docs"), 6).as("mean_punct_ratio"),
        round(col("sd").cast("double") / col("n_docs"), 6).as("mean_distinct_ratio"))
      .orderBy("source")

  /** Terms rarer than this across both classes are excluded from the
    * discriminative-terms report (log-likelihood ratios are unstable
    * on rare terms — the PMI min-count discipline). */
  private[operators] val NbMinTermCount = 5
  private[operators] val NbTopTerms = 20

  /** The distilled quality classifier: multinomial Naive Bayes with
    * Laplace smoothing (α = 1) trained on the GOPHER rule filter's own
    * pass/reject verdicts — the "distill the heuristic filter into a
    * cheap statistical classifier" step production corpora run
    * (CCNet / DCLM-style quality classifiers, with NB standing in for
    * fastText: same bag-of-terms linear scorer, but trainable in ONE
    * aggregation pass instead of SGD epochs). Gopher is the teacher
    * because it actually SPLITS this corpus (~64/36 at sf0.01); the
    * basic tier filter passes every testdata doc, which would train a
    * one-class degenerate.
    *
    * Model artifact (`nbQualityModel`, maintained by the index job):
    * one row per vocabulary term — (term, n_pass, n_reject,
    * llr = ln P(term|pass) − ln P(term|reject)) — plus one NULL-term
    * row carrying the class prior ln((n_pass_docs+1)/(n_reject_docs+1))
    * with the doc counts in n_pass/n_reject. Scoring a document is
    * then prior + Σ llr(term): a vocabulary join and one sum — no
    * text heuristics on the serving path at all.
    *
    * Scale shape: the teacher labels are a per-doc aggregate
    * (gopherTiers), joined doc-keyed to the staged token artifact and
    * exploded into ONE fully map-side-combined term aggregation;
    * everything after is vocabulary-sized. Train-once — the join cost
    * is the index job's, never a serving query's. Corpus-global
    * aggregate, so `appendIndexes` re-derives it wholesale (the
    * labelCentroids/wordGraph posture).
    *
    * Oracle parity: llr = round(ln((n+1)/(N+V)) − ln(...), 9) — each
    * ratio ≤ 1 (no bigint-product overflow at any corpus size), ln on
    * identical integer-derived doubles in both engines; scoring sums
    * the 9-dp llrs as DECIMAL (reduction-order-proof) and classifies
    * on the 6-dp ROUNDED score. Unknown terms at serve time contribute
    * 0 (neutral) — on the training corpus every term is known; for
    * appended batches the model is one refresh behind at worst. */
  private[graft] def nbQualityModel(spark: SparkSession, dir: String): DataFrame =
    Dedup.memo(spark, s"nbQualityModel|$dir") {
      Dedup.checkpointSer(nbQualityModelPlan(spark, dir))
    }

  private[operators] def nbQualityModelPlan(spark: SparkSession, dir: String): DataFrame = {
      val labels = gopherTiers(spark, dir)
        .select(col("doc_id"), (col("pass") === 1).as("is_ok"))
      val counts = Curation.docToks(spark, dir).select("doc_id", "toks")
        .join(labels, Seq("doc_id"))
        .select(col("is_ok"), explode(col("toks")).as("term"))
        .groupBy("term")
        .agg(sum(when(col("is_ok"), 1L).otherwise(0L)).as("n_pass_t"),
          sum(when(col("is_ok"), 0L).otherwise(1L)).as("n_reject_t"))
      val tots = counts.agg(sum(col("n_pass_t")).as("n_pass_tot"),
        sum(col("n_reject_t")).as("n_reject_tot"), count(lit(1)).as("v"))
      val dtots = labels.agg(
        sum(when(col("is_ok"), 1L).otherwise(0L)).as("n_pass_docs"),
        sum(when(col("is_ok"), 0L).otherwise(1L)).as("n_reject_docs"))
      val terms = counts.crossJoin(broadcast(tots))
        .select(col("term"),
          col("n_pass_t").as("n_pass"), col("n_reject_t").as("n_reject"),
          round(log((col("n_pass_t") + 1).cast("double") / (col("n_pass_tot") + col("v"))) -
            log((col("n_reject_t") + 1).cast("double") / (col("n_reject_tot") + col("v"))), 9)
            .as("llr"))
      val prior = dtots.select(lit(null).cast("string").as("term"),
        col("n_pass_docs").as("n_pass"), col("n_reject_docs").as("n_reject"),
        round(log((col("n_pass_docs") + 1).cast("double") / (col("n_reject_docs") + 1)), 9)
          .as("llr"))
      terms.unionByName(prior)
  }

  /** Per-doc NB score sums of an arbitrary (doc_id, toks) slice
    * against a model table — the serving kernel shared by the corpus
    * score query and the streaming ingest quality gate (identical
    * arithmetic is the stream≡batch parity contract). Returns
    * (doc_id, sdec); docs with no in-vocab terms are absent (callers
    * left-join and coalesce to the prior). */
  private[graft] def nbScoreSums(toks: DataFrame, model: DataFrame): DataFrame = {
    // the vocabulary join: model is vocab-sized (tiny next to the
    // exploded corpus) — AQE broadcasts it, same shape as tf-idf's df
    // join; the only corpus-sized shuffle is the per-doc sum, fully
    // map-side combined
    val terms = model.filter(col("term").isNotNull).select(col("term"), col("llr"))
    toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .join(terms, Seq("term"))
      .groupBy("doc_id")
      .agg(sum(col("llr").cast("decimal(28,9)")).as("sdec"))
  }

  /** The 6-dp serving score off a summed (sdec, prior_dec) pair — see
    * the precision notes at the call site below. */
  private[graft] def nbScoreExpr: Column =
    round(coalesce(col("sdec"), lit(0)).cast("decimal(28,9)") +
      col("prior_dec"), 6).cast("double")

  /** The model's NULL-term prior row as a 1-row (prior_dec) table. */
  private[graft] def nbPrior(model: DataFrame): DataFrame =
    model.filter(col("term").isNull)
      .select(col("llr").cast("decimal(28,9)").as("prior_dec"))

  /** Per-doc NB scores next to the teacher's rule tier — unordered
    * internal shared by the score dump and the distillation report. */
  private def nbScored(spark: SparkSession, dir: String): DataFrame = {
    val model = nbQualityModel(spark, dir)
    val prior = nbPrior(model)
    val sums = nbScoreSums(
      Curation.docToks(spark, dir).select("doc_id", "toks"), model)
    // left join from the labeled corpus: a doc with no in-vocab terms
    // (NULL text) still scores — prior only. nbScoreExpr rounds the
    // exact DECIMAL sum to 6 dp BEFORE the double cast (rounding the
    // cast double diverges cross-engine on exact-half 7th digits),
    // and casts the (38,9) sum back to (28,9) BEFORE the addition:
    // (38,9) + (28,9) overflows precision 38, which Spark resolves by
    // silently dropping to scale 8 — a hidden half-up at digit 9 that
    // double-rounds ...499 up to ...50 → ...8 (measured at sf0.001
    // doc 163). Scores are bounded by vocab·|llr|max, far inside
    // (28,9), so the down-cast is exact.
    val score = nbScoreExpr
    gopherTiers(spark, dir)
      .select(col("doc_id"),
        when(col("pass") === 1, "pass").otherwise("reject").as("teacher"))
      .join(sums, Seq("doc_id"), "left")
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), score.as("nb_score"),
        when(score > 0, "pass").otherwise("reject").as("nb_pred"),
        col("teacher"),
        ((score > 0) === (col("teacher") === "pass")).as("agree"))
  }

  /** Per-document distilled-classifier scores: NB score, predicted
    * class, the teacher rule tier, and the agreement flag. */
  def nbQualityScore(spark: SparkSession, dir: String): DataFrame =
    nbScored(spark, dir).orderBy("doc_id")

  /** Distillation confusion table: teacher tier × student prediction
    * doc counts — the governance view that says WHERE the cheap
    * classifier diverges from the rules it distills (e.g. too_short
    * docs the token model cannot see the length of). */
  def nbDistillReport(spark: SparkSession, dir: String): DataFrame =
    nbScored(spark, dir)
      .groupBy("teacher", "nb_pred").agg(count(lit(1)).as("n_docs"))
      .orderBy("teacher", "nb_pred")

  /** Streaming quality-gate parity head — the registered BATCH side
    * of the [[graft.streaming.QualityGate]] parity pair (closing the
    * r18 "streaming heads have no driver-visible entries" gap for
    * this head; funnel/EWMA/ingest-dedup are q_stream_parity_batch,
    * drift is q_stream_parity_drift). Replays a FIXED ingest batch —
    * the even doc_ids, the corpus split the ingest-dedup head
    * established — through [[graft.streaming.QualityGate.scoreBatch]]
    * verbatim (left-join score preservation of no-vocab docs, prior
    * broadcast, the strict `score > 0` admission threshold) against
    * the fitted model, and reduces to one checksum row, so a drifted
    * batch kernel breaks a driver hash, not just QualityGateSpec. The
    * streaming side (foreachBatch wiring, per-batch model refresh)
    * stays covered by the parity spec — DuckDB cannot run a stream.
    *
    * Checksum discipline: nb_score is round(DECIMAL, 6) cast double,
    * i.e. every score IS k/10⁶ for integer k — round(score·10⁶)
    * recovers k exactly on both engines (the double sits within one
    * ulp of k, never near a half), and the per-doc BIGINTs sum
    * exactly. chk_doc signs each doc_id by its admission verdict, so
    * a flipped routing decision moves the hash even when the score
    * multiset is unchanged. */
  def streamParityQuality(spark: SparkSession, dir: String): DataFrame = {
    val batch = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(2)) === 0)
    graft.streaming.QualityGate.scoreBatch(batch, nbQualityModel(spark, dir))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum(when(col("nb_pred") === "pass", 1L).otherwise(0L))
          .cast("long").as("n_pass"),
        sum(round(col("nb_score") * lit(1e6d)).cast("long"))
          .cast("long").as("chk_score"),
        sum(when(col("nb_pred") === "pass", col("doc_id"))
          .otherwise(-col("doc_id"))).cast("long").as("chk_doc"))
  }

  /** Most discriminative vocabulary: top-[[NbTopTerms]] ok-indicative
    * (llr desc) and bad-indicative (llr asc) terms with count ≥
    * [[NbMinTermCount]] — the model audit a reviewer reads before
    * trusting a distilled filter. Both sides are
    * TakeOrderedAndProject over the vocab-sized model (no global
    * sort shuffle). */
  def nbTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val base = nbQualityModel(spark, dir)
      .filter(col("term").isNotNull &&
        (col("n_pass") + col("n_reject")) >= NbMinTermCount)
    val ok = base.orderBy(col("llr").desc, col("term").asc).limit(NbTopTerms)
      .select(lit("pass_indicative").as("side"), col("term"),
        col("n_pass"), col("n_reject"), col("llr"))
    val bad = base.orderBy(col("llr").asc, col("term").asc).limit(NbTopTerms)
      .select(lit("reject_indicative").as("side"), col("term"),
        col("n_pass"), col("n_reject"), col("llr"))
    ok.unionByName(bad).orderBy(col("side"), col("llr").desc, col("term").asc)
  }

  /** Tokenizer-style counting: whitespace tokens vs a BPE-ish regex
    * lexer ([a-z]+ | digit runs | single non-alnum) — the usual cheap
    * proxy for "how many tokens will the model see". */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("bpe_ish_tokens"))
      .orderBy("doc_id")

  /** Real subword accounting: whitespace tokens vs true BPE tokens
    * (graft.functions.Bpe — fixed merge table, canonical encode) plus
    * the chars-per-BPE-token compression ratio, the number a training
    * pipeline actually budgets on. One narrow codegen'd map per row. */
  def bpeTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars_calc"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        graft.functions.BpeTokenizeColumn(col("text")).as("toks"))
      .select(col("doc_id"), col("ws_tokens"),
        size(col("toks")).cast("long").as("bpe_tokens"),
        round(col("n_chars_calc").cast("double") /
          greatest(size(col("toks")), lit(1)), 6).as("chars_per_token"))
      .orderBy("doc_id")

  /** Corpus-wide BPE vocabulary usage: top-20 subword tokens by
    * occurrence (explode + one map-side-combined hash agg) — the
    * vocab-coverage audit run before committing to a tokenizer. */
  def bpeVocabStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.BpeTokenizeColumn(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_uses"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_uses").desc, col("token").asc)
      .limit(20)

  /** Most frequent tokens corpus-wide: explode + one hash aggregation,
    * top 20 (count desc, token asc). The generator analog of the
    * reference's 6-level flatten (SURVEY.md §2.8) applied to analytics. */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  /** Corpus bigram statistics (n-gram language-model counts): explode
    * word bigrams, one hash aggregation, top 20. The token array comes
    * from the staged/checkpointed token table (shared with the
    * curation family): the slice lambda must reference a BOUND
    * attribute — a plain `tokens(text)` alias is single-referenced, so
    * CollapseProject would inline the split into the lambda and
    * re-split the document once per bigram position (quadratic; this
    * exact regression cost 5× in round 3). */
  def bigrams(spark: SparkSession, dir: String): DataFrame =
    Curation.docToks(spark, dir)
      .select(explode(transform(
        sequence(lit(1), greatest(size(col("toks")) - 1, lit(1))),
        i => concat_ws(" ", slice(col("toks"), i, lit(2))))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)

  /** PMI collocation mining: word pairs that co-occur as bigrams far
    * more often than their unigram frequencies predict —
    * pmi = ln(p(ab) / (p(a)·p(b))) with p(ab) over the bigram total
    * and p(a), p(b) over the token total. The standard
    * phrase/multi-word-expression detector run before tokenizer or
    * vocabulary decisions. Minimum pair count 5 (PMI is unstable on
    * rare pairs); top 25 by PMI, (term_a, term_b) tie-break.
    *
    * Scale shape: two corpus-sized hash aggregations (unigram and
    * bigram counts — both fully map-side combined; the bigram explode
    * is width-2 slices of the bound token attribute, see [[bigrams]]
    * for the CollapseProject hazard), then a join against the
    * unigram vocabulary — tiny next to the corpus — and a 1-row
    * broadcast of the totals. Ranking uses the RAW probability ratio
    * (identical integer-derived doubles in both engines — monotone
    * with ln, so no libm call decides the order); ln only prints the
    * reported score. */
  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    * over the word co-occurrence graph — words are nodes, adjacent
    * token pairs (both ≥ [[TextRankMinLen]] chars, neither a
    * stopword) are undirected weighted edges, and the stationary
    * walk's mass ranks corpus keywords. Runs on the SAME generalized
    * superstep loop as the transaction-graph PageRank
    * ([[Graph.rankLoopOver]] — node ids here are the words
    * themselves), with the identical fixed-point discipline, so the
    * ranks hash-match DuckDB replaying the unrolled supersteps.
    *
    * Scale shape: the co-occurrence aggregation is the corpus-sized
    * stage (adjacent-pair explode over the staged token artifact,
    * fully map-side combined); the rank loop itself is
    * VOCABULARY-sized — sublinear in the corpus by Heaps' law — so
    * the iterations never touch the documents again. */
  private[operators] val TextRankMinLen = 3
  private[operators] val TextRankIters = 10
  private[operators] val TextRankTopK = 30

  /** The word co-occurrence graph (src, dst, frac) — memoized
    * checkpoint in-session AND index artifact #21 ("wordGraph",
    * written by `Dedup.writeIndexes`, served vectorized when primed):
    * the rank loop scans it once per superstep, and without the
    * barrier each superstep re-ran the corpus-sized co-occurrence
    * aggregation — measured 10× the engine work (5.8 s wall / 8.8 s
    * CPU for a ~500-edge graph). Like labelCentroids it is a
    * corpus-global aggregate, so `appendIndexes` re-derives it
    * wholesale from the appended token artifact (a doc batch changes
    * pair counts AND the out-weight normalizers of every touched
    * word). */
  /** Undirected co-occurrence pair counts (u < v, w) over a tokenized
    * table — ONE expression tree shared by the full wordGraph build
    * and [[appendWordGraph]]'s batch delta, so the two derivations
    * cannot drift. Single-token documents are dropped BEFORE the pair
    * explode (the pmiCollocations guard): under ANSI mode element_at
    * past the array end THROWS rather than returning the NULL a
    * post-explode filter could catch, and greatest(size-1, 1) would
    * generate exactly that dereference for a 1-token doc. */
  private def wordPairCounts(toksDf: DataFrame): DataFrame = {
    val stop = enStop
    def good(c: Column): Column =
      length(c) >= TextRankMinLen && !c.isInCollection(stop)
    toksDf
      .filter(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("a"),
          element_at(col("toks"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b") &&
        good(col("a")) && good(col("b")))
      .groupBy(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .agg(count(lit(1)).as("w"))
  }

  /** Doubled edge table (src, dst, w, frac) from undirected pair
    * counts — shared by the build and the append's merged re-derive.
    * The artifact carries the raw count `w` precisely so an append can
    * merge additively (the graphEdgeFracs schema discipline). */
  private def edgeTableOf(eb: DataFrame): DataFrame = {
    val e = eb.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(eb.select(col("v").as("src"), col("u").as("dst"), col("w")))
    val ow = e.groupBy("src").agg(sum(col("w")).as("ow"))
    e.join(ow, "src")
      .select(col("src"), col("dst"), col("w"),
        (col("w").cast("double") / col("ow").cast("double")).as("frac"))
  }

  private[graft] def wordGraph(spark: SparkSession, dir: String): DataFrame =
    Dedup.memo(spark, s"wordGraph|$dir") {
      Dedup.checkpointSer(wordGraphPlan(spark, dir))
    }

  private[operators] def wordGraphPlan(spark: SparkSession, dir: String): DataFrame =
    edgeTableOf(wordPairCounts(Curation.docToks(spark, dir)))

  /** Append a batch of NEW DOCUMENTS to the persisted wordGraph
    * artifact without re-scanning the corpus: adjacent-pair counts
    * decompose additively, so the batch contributes delta counts from
    * a batch-sized tokenize + explode, and the out-weight fractions —
    * a per-src global — are re-derived from the merged counts with the
    * artifact wholesale-replaced: linear in the VOCABULARY edge table
    * (Heaps-sublinear in the corpus), independent of corpus volume.
    * Previously the word graph was re-derived wholesale from the full
    * token artifact on every append — the one corpus-global re-derive
    * ask 5 of round 16 flagged. Machinery (exactly-once batch marker,
    * rollback, staged swap) is the shared merge-replace discipline;
    * IndexPersistenceSpec pins append-then-read ≡ full rebuild.
    *
    * Requires a w-bearing artifact (any build from r17 on); a pre-r17
    * (src, dst, frac) artifact cannot merge — rebuild it once. */
  def appendWordGraph(spark: SparkSession, dir: String, indexDir: String,
                      docPredicate: Column,
                      batchId: Option[String] = None): Unit =
    IndexLease.withExclusive(spark, indexDir, "word-graph-append") {
      Dedup.mergeReplaceArtifact(spark, indexDir, "wordGraph", batchId) {
        existing =>
          require(existing.columns.contains("w"),
            "appendWordGraph: artifact predates the w-bearing schema — " +
              "rebuild it (writeIndexes) before appending")
          val delta = wordPairCounts(Curation.docToksOf(
            Tables.documents(spark, dir).filter(docPredicate)))
          val merged = existing
            .filter(col("src") < col("dst"))
            .select(col("src").as("u"), col("dst").as("v"), col("w"))
            .unionByName(delta)
            .groupBy("u", "v").agg(sum(col("w")).as("w"))
          edgeTableOf(merged)
      } {
        Dedup.memoDrop(spark, s"wordGraph|$dir")
        Dedup.memoPut(spark, s"wordGraph|$dir",
          spark.read.parquet(s"$indexDir/wordGraph.parquet").drop("batch_id"))
      }
    }

  def textrankKeywords(spark: SparkSession, dir: String): DataFrame = {
    val en = wordGraph(spark, dir)
    Graph.rankLoopOver(spark, en, TextRankIters,
      n => lit(1.0) / n._2, n => lit(Graph.Teleport) / n._2,
      chkEvery = Graph.ChkEvery)
      .select(col("node").as("word"), round(col("r"), 6).as("rank"), col("r"))
      .orderBy(col("r").desc, col("word").asc)
      .limit(TextRankTopK)
      .drop("r")
  }

  def pmiCollocations(spark: SparkSession, dir: String,
      minCount: Int = 5, k: Int = 25): DataFrame = {
    val toksDf = Curation.docToks(spark, dir)
    val uni = toksDf.select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_term"))
    // bigram totals are over ALL bigrams — the min-count filter trims
    // the reported pairs, not the probability denominator
    val bigAll = toksDf.filter(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("term_a"),
          element_at(col("toks"), i + 1).as("term_b")))).as("bg"))
      .select(col("bg.term_a"), col("bg.term_b"))
      .groupBy("term_a", "term_b").agg(count(lit(1)).as("n_pair"))
    val tot = uni.agg(sum(col("n_term")).as("n_uni_total"))
      .crossJoin(bigAll.agg(sum(col("n_pair")).as("n_big_total")))
    val big = bigAll.filter(col("n_pair") >= minCount)
    val ua = uni.select(col("term").as("term_a"), col("n_term").as("n_a"))
    val ub = uni.select(col("term").as("term_b"), col("n_term").as("n_b"))
    big.join(ua, "term_a").join(ub, "term_b")
      .crossJoin(broadcast(tot))
      .withColumn("ratio",
        col("n_pair").cast("double") * col("n_uni_total") * col("n_uni_total") /
          (col("n_big_total").cast("double") * col("n_a") * col("n_b")))
      .select(col("term_a"), col("term_b"), col("n_pair"), col("n_a"),
        col("n_b"), round(log(col("ratio")), 6).as("pmi"), col("ratio"))
      .orderBy(col("ratio").desc, col("term_a").asc, col("term_b").asc)
      .limit(k)
      .drop("ratio")
  }

  /** TF-IDF top-3 terms per document — the classic relevance/keyword
    * signal, formulated as three hash aggregations and one vocabulary
    * join: tf = (doc, term) counts, df = docs-per-term over the tf
    * table, N joined in as a broadcast scalar (1-row aggregate, never
    * a driver-side collect). At 100 TB the df/vocabulary table is tiny
    * next to the corpus (it aggregates the already-shrunk tf table)
    * and the term join broadcasts; the only corpus-sized shuffle is
    * the (doc, term) count, which has full map-side combining.
    *
    * Oracle parity: the smoothed idf ln((N+1)/(df+1)) is computed on
    * identical doubles in both engines; ranking uses the ROUNDED score
    * (term-asc tiebreak) so a sub-ulp libm divergence cannot flip the
    * order. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        col("tf").cast("double") *
          log((col("n") + 1).cast("double") / (col("df") + 1).cast("double")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("doc_id", "term", "tf", "df", "tfidf", "rn")
      .orderBy("doc_id", "rn")
  }

  /** BM25 parameters — the Robertson/Lucene defaults. Written as
    * decimal literals on BOTH engine sides (never k1+1 arithmetic) so
    * each engine parses the identical double. */
  private[operators] val Bm25QueryTerms = 3
  private[operators] val Bm25MinTermLen = 6

  /** BM25 ranked retrieval (Robertson et al.; the Lucene `1 +` idf
    * variant, which keeps idf positive even for df > N/2): score(d) =
    * Σ_t ln(1 + (N - df + 0.5)/(df + 0.5)) · tf·(k1+1) /
    * (tf + k1·(1 - b + b·dl/avgdl)), k1 = 1.2, b = 0.75. The query is
    * itself derived deterministically from the corpus — the 3 highest-
    * df terms of length ≥ 6 (df desc, term asc) — so the operator is
    * self-contained at every SF and the oracle replays the same
    * selection.
    *
    * Plan: one corpus-sized (doc, term) hash count feeds tf, dl, and
    * df — Spark schedules the explode scan once per consumer with the
    * projection pruned to two columns; the query-term table is a
    * 3-row broadcast, so scoring touches only matching postings; the
    * final ranking is TakeOrderedAndProject. At 100 TB nothing beyond
    * the tf aggregation shuffles corpus-sized data.
    *
    * Oracle parity: per-(doc, term) weights are rounded to 9 dp and
    * summed as DECIMAL (reduction-order-proof, the perplexity
    * discipline); ranking uses the 6-dp ROUNDED score with doc_id
    * tiebreak. */
  def bm25Search(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("sdl"))
    val qterms = dft.filter(length(col("term")) >= Bm25MinTermLen)
      .orderBy(col("df").desc, col("term").asc).limit(Bm25QueryTerms)
    tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sdl").cast("double") / col("nd").cast("double"))
      .withColumn("idf", log(lit(1.0) +
        (col("nd").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("w", round(
        col("idf") * col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))), 9)
        .cast("decimal(29,9)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("w")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Corpus-LM cross-entropy quality score — CCNet-style perplexity
    * filtering re-expressed over the engine's own tables: each
    * document's average negative log-likelihood under the corpus's
    * unigram LM (MLE — the model is fit on the full corpus, so every
    * scored token has mass and no smoothing constant can drift between
    * engines). Documents far from the corpus distribution — gibberish,
    * OCR noise, rare-token spam — score HIGH; the classic pipeline
    * buckets on exactly this signal (head/middle/tail) before
    * training. `cross_entropy` is in nats; perplexity = exp(ce).
    *
    * Plan: (doc, term) tf hash-count — the only corpus-sized shuffle,
    * full map-side combine — then the unigram model aggregated FROM
    * the tf table (vocabulary-sized, far smaller), a term-keyed join
    * back, and the total joined as a 1-row broadcast scalar, same as
    * tfidf. At 100 TB the vocabulary join shuffles the already
    * aggregated tf table, never the raw token stream.
    *
    * Oracle parity: each term's contribution tf·ln(cnt/N) is computed
    * on identical IEEE doubles in both engines (ln agreement at the
    * rounding precision is the tfidf precedent), rounded to 9 dp and
    * summed EXACTLY as DECIMAL — so partition count and reduction
    * order cannot move the per-doc sum — and only the final per-doc
    * division is floating, rounded to 6. */
  def perplexityScore(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val cnts = tf.groupBy("term").agg(sum(col("tf")).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("total"))
    tf.join(cnts, "term").crossJoin(broadcast(tot))
      // FIXED-POINT twin of the DECIMAL(29,9) sum (r20, §4 — the
      // dsirSelect reshape, see the proof comment there): the 9-dp
      // value rides as long units of 1e-9 through a primitive-long
      // aggregation buffer; round(d·1e9) provably equals the decimal
      // cast's unscaled value for |units| < 1.5e15. Since cnt ≥ tf,
      // tf·|ln p| ≤ tf·ln(total/tf) ≤ total/e, so that holds for any
      // corpus under ~4e6 tokens; measured max |units| is 3.70e10 /
      // 3.40e10 / 4.75e10 at sf0.001 / sf0.01 / sf0.1 (≤ 270,704
      // tokens). The final units→double division is the same
      // correctly-rounded double the Decimal conversion produced.
      .withColumn("contrib", round(round(
        col("tf").cast("double") *
          log(col("cnt").cast("double") / col("total").cast("double")), 9) * 1e9)
        .cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"), sum(col("contrib")).as("ll"))
      .select(col("doc_id"), col("n_tokens"),
        round(-(col("ll").cast("double") / 1e9) / col("n_tokens"), 6)
          .as("cross_entropy"))
      .orderBy("doc_id")
  }

  /** Repetition signals (Gopher-style quality filters): duplicated
    * bigram/trigram fractions and the most frequent token's share of
    * the document. High values flag boilerplate/spam for removal.
    *
    * The top-token count runs as explode → (doc, token) hash count →
    * per-doc max — whole-stage codegen with map-side partials, linear
    * per document. (The per-row lambda alternative —
    * array_max(transform(distinct, tok => count of tok)) — is
    * O(distinct × tokens) in an interpreted higher-order chain: on a
    * long boilerplate doc that is quadratic work on one core.) The
    * n-gram dup fractions stay per-row: array_distinct over an O(n)
    * n-gram array is linear. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    def ngrams(t: Column, n: Int): Column = transform(
      sequence(lit(1), greatest(size(t) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(t, i, lit(n))))
    def dupFrac(g: Column): Column =
      round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 6)
    val t = col("toks")
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val fracs = base.select(col("doc_id"),
      dupFrac(ngrams(t, 2)).as("dup_bigram_frac"),
      dupFrac(ngrams(t, 3)).as("dup_trigram_frac"),
      size(t).as("n_toks"))
    val top = base.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_count"))
    // left join: a doc whose token explode yields no rows (NULL text)
    // must keep its audit row with NULL top_token_frac — the oracle
    // emits it, and textStats' explode_outer sets the same precedent
    fracs.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_bigram_frac"), col("dup_trigram_frac"),
        round(col("top_count").cast("double") / col("n_toks"), 6).as("top_token_frac"))
      .orderBy("doc_id")
  }

  /** PII redaction for training corpora: emails, URLs, and IPv4
    * addresses replaced by type tags, with per-kind match counts for
    * the redaction audit. Patterns stay in the regex subset both
    * engines share (explicit classes, no lookaround). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ \\t\\n]+"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def redactText(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      Ipv4Re, "<IP>")

  def redact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0)))
          .cast("long").as("n_urls"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0)))
          .cast("long").as("n_ips"),
        md5(redactText(col("text"))).as("redacted_fp"))
      .orderBy("doc_id")

  /** Document fingerprinting: md5 of the whitespace-normalized text
    * (exact-dup key) plus a winnowing-style min-hash over all 8-char
    * shingles (robust to local edits). Pure column arithmetic — md5 is
    * bit-identical across engines, unlike engine hash() builtins. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"),
        md5(col("norm")).as("exact_fp"),
        array_min(transform(
          sequence(lit(1), greatest(length(col("norm")) - 7, lit(1))),
          i => md5(col("norm").substr(i, lit(8)))))
          .as("shingle_fp"),
        graft.functions.RollingMinHashColumn(col("norm")).as("rolling_fp"))
      .orderBy("doc_id")
  }

  /** Gopher's 8-word stopword list (Rae et al. 2021, §A1.1): a doc
    * must contain at least [[GopherMinStopHits]] of these to pass the
    * stop-word rule. Distinct from [[enStop]] (the lang-id list) on
    * purpose — the rule is defined by the paper's exact words. */
  private val gopherStop =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private[operators] val GopherMinWords = 50L
  private[operators] val GopherMaxWords = 100000L
  private[operators] val GopherMinMeanLen = 3.0
  private[operators] val GopherMaxMeanLen = 10.0
  private[operators] val GopherMaxSymbolRatio = 0.1
  private[operators] val GopherMinAlphaFrac = 0.8
  private[operators] val GopherMinStopHits = 2L

  /** E4: the Gopher composite quality-rule filter (Rae et al. 2021,
    * "Scaling Language Models", §A1.1) — the word-level subset that
    * applies to this corpus's single-line documents (the line-shape
    * rules — bullet/ellipsis line fractions — need a line structure
    * these docs don't have and are omitted rather than computed as
    * vacuous constants):
    *   1. word count in [50, 100 000]
    *   2. mean word length in [3, 10]
    *   3. symbol-to-word ratio ('#' or '...'/'…') ≤ 0.1
    *   4. ≥ 80 % of words contain ≥ 1 alphabetic character
    *   5. ≥ 2 hits from Gopher's 8-word stopword list
    * Output keeps every per-rule flag (as 0/1 audit columns, the
    * curation-report shape) plus the composite `pass` — a filter
    * that only emitted survivors couldn't tell a user WHY a doc died.
    *
    * Same physical shape as [[textStats]]: explode + one hash
    * aggregation keyed on the doc (codegen, map-side partials — the
    * shuffle carries one accumulator row per document, not tokens),
    * with the doc-level symbol counts riding the group key the way
    * n_chars_calc does. NULL-text docs keep an all-NULL audit row
    * (explode_outer + the cnt>0 remap), matching the oracle's NULL
    * propagation. */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherTiers(spark, dir).orderBy("doc_id")

  /** Unordered [[gopherQuality]] — the building block the distilled
    * classifier trains on (an inherited orderBy would plan a dead
    * range exchange under the training aggregations). */
  private[operators] def gopherTiers(spark: SparkSession, dir: String): DataFrame = {
    // '#' and '…' by delete-and-measure (translate is a codegen char
    // map — no regex engine on the full text); ASCII '...' by
    // non-overlapping replace-and-measure (exact /3, so the double
    // division is exact)
    val nSymbols = ((length(col("text")) - length(translate(col("text"), "#", ""))) +
      ((length(col("text")) - length(replace(col("text"), lit("...")))) / 3)
        .cast("int") +
      (length(col("text")) - length(translate(col("text"), "…", "")))).cast("long")
    val agg = Tables.documents(spark, dir)
      // n_symbols is projected BELOW the Generate on purpose: an
      // expression in the same select as explode_outer lands in the
      // Project ABOVE it and would re-scan the full text once per
      // TOKEN row, not per document (measured 6.7 s → this shape)
      .select(col("doc_id"), nSymbols.as("n_symbols"), col("text"))
      .select(col("doc_id"), col("n_symbols"),
        explode_outer(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "n_symbols")
      .agg(count(col("tok")).as("cnt"),
        sum(length(col("tok")).cast("long")).as("sum_len"),
        sum(when(col("tok").rlike("[a-z]"), 1L).otherwise(0L)).as("alpha"),
        sum(when(col("tok").isInCollection(gopherStop), 1L).otherwise(0L))
          .as("stop"))
    val nWords = when(col("cnt") > 0, col("cnt"))
    val meanLen = when(col("cnt") > 0,
      round(col("sum_len").cast("double") / col("cnt"), 6))
    val symRatio = when(col("cnt") > 0,
      round(col("n_symbols").cast("double") / col("cnt"), 6))
    val alphaFrac = when(col("cnt") > 0,
      round(col("alpha").cast("double") / col("cnt"), 6))
    val nStop = when(col("cnt") > 0, col("stop"))
    agg.select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
        symRatio.as("symbol_ratio"), alphaFrac.as("alpha_frac"),
        nStop.as("n_stop"))
      .withColumn("rule_word_count",
        col("n_words").between(GopherMinWords, GopherMaxWords).cast("int"))
      .withColumn("rule_mean_word_len",
        col("mean_word_len").between(GopherMinMeanLen, GopherMaxMeanLen)
          .cast("int"))
      .withColumn("rule_symbol_ratio",
        (col("symbol_ratio") <= GopherMaxSymbolRatio).cast("int"))
      .withColumn("rule_alpha",
        (col("alpha_frac") >= GopherMinAlphaFrac).cast("int"))
      .withColumn("rule_stopwords", (col("n_stop") >= GopherMinStopHits).cast("int"))
      .withColumn("pass",
        (col("rule_word_count") === 1 && col("rule_mean_word_len") === 1 &&
          col("rule_symbol_ratio") === 1 && col("rule_alpha") === 1 &&
          col("rule_stopwords") === 1).cast("int"))
  }
}

/** Driver-contract registration for the text-analysis set. */
object TextAnalysisModule extends QueryModule {
  import TextAnalysis._

  /** Shared CTE chain replaying the NB quality model in SQL, every CTE
    * name prefixed by `p`: teacher labels from the SAME Gopher rule
    * chain as q_quality_gopher, class-conditional term counts,
    * smoothed log-likelihood ratios (each ratio ≤ 1 — no product
    * overflow), and the doc-count prior. Every nb oracle nests this
    * verbatim (p = ""), so the DuckDB side re-TRAINS the model
    * independently rather than echoing the persisted artifact; the
    * e2e pipeline oracle nests it prefixed (p = "nb") — ONE statement
    * of the replay, so a model change can never silently diverge the
    * two. */
  private[operators] def nbModelCtesWith(p: String): String =
    s"""${p}d AS (SELECT doc_id, text,
      |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
      |${p}gs AS (SELECT doc_id, toks,
      |  CAST(len(toks) AS BIGINT) AS n_words,
      |  round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
      |    / len(toks), 6) AS mean_word_len,
      |  round(CAST(length(regexp_replace(text, '[^#]', '', 'g'))
      |      + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS INTEGER)
      |      + length(regexp_replace(text, '[^…]', '', 'g')) AS DOUBLE)
      |    / len(toks), 6) AS symbol_ratio,
      |  round(CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
      |    / len(toks), 6) AS alpha_frac,
      |  CAST(len(list_filter(toks,
      |    t -> t IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop
      |  FROM ${p}d),
      |${p}q AS (SELECT doc_id, toks,
      |  CASE WHEN n_words BETWEEN ${TextAnalysis.GopherMinWords} AND ${TextAnalysis.GopherMaxWords}
      |       AND mean_word_len BETWEEN ${TextAnalysis.GopherMinMeanLen} AND ${TextAnalysis.GopherMaxMeanLen}
      |       AND symbol_ratio <= ${TextAnalysis.GopherMaxSymbolRatio}
      |       AND alpha_frac >= ${TextAnalysis.GopherMinAlphaFrac}
      |       AND n_stop >= ${TextAnalysis.GopherMinStopHits}
      |  THEN 'pass' ELSE 'reject' END AS teacher
      |  FROM ${p}gs),
      |${p}ex AS (SELECT teacher = 'pass' AS is_ok, unnest(toks) AS term FROM ${p}q),
      |${p}counts AS (SELECT term,
      |    CAST(SUM(CASE WHEN is_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |    CAST(SUM(CASE WHEN is_ok THEN 0 ELSE 1 END) AS BIGINT) AS n_reject
      |  FROM ${p}ex GROUP BY term),
      |${p}tots AS (SELECT SUM(n_pass) AS n_pass_tot, SUM(n_reject) AS n_reject_tot,
      |    COUNT(*) AS v FROM ${p}counts),
      |${p}dtots AS (SELECT
      |    CAST(SUM(CASE WHEN teacher = 'pass' THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_docs,
      |    CAST(SUM(CASE WHEN teacher = 'pass' THEN 0 ELSE 1 END) AS BIGINT) AS n_reject_docs
      |  FROM ${p}q),
      |${p}model AS (SELECT term, n_pass, n_reject,
      |    round(ln(CAST(n_pass + 1 AS DOUBLE) / (n_pass_tot + v)) -
      |          ln(CAST(n_reject + 1 AS DOUBLE) / (n_reject_tot + v)), 9) AS llr
      |  FROM ${p}counts, ${p}tots),
      |${p}prior AS (SELECT round(ln(CAST(n_pass_docs + 1 AS DOUBLE) / (n_reject_docs + 1)), 9) AS llr
      |  FROM ${p}dtots)""".stripMargin

  private val nbModelCtes = "WITH " + nbModelCtesWith("")

  def queries = Map(
    "q_text_stats" -> ((s: SparkSession, d: String) => textStats(s, d)),
    "q_text_lang_id" -> ((s: SparkSession, d: String) => langId(s, d)),
    "q_text_quality" -> ((s: SparkSession, d: String) => qualityScore(s, d)),
    "q_quality_nb" -> ((s: SparkSession, d: String) => nbQualityScore(s, d)),
    "q_stream_parity_quality" -> ((s: SparkSession, d: String) => TextAnalysis.streamParityQuality(s, d)),
    "q_quality_nb_report" -> ((s: SparkSession, d: String) => nbDistillReport(s, d)),
    "q_quality_nb_terms" -> ((s: SparkSession, d: String) => nbTopTerms(s, d)),
    "q_source_quality" -> ((s: SparkSession, d: String) => sourceQuality(s, d)),
    "q_text_token_count" -> ((s: SparkSession, d: String) => tokenCount(s, d)),
    "q_text_token_count_bpe" -> ((s: SparkSession, d: String) => bpeTokenCount(s, d)),
    "q_text_token_count_bpe_fit" -> ((s: SparkSession, d: String) => BpeFit.bpeTokenCountFit(s, d)),
    "q_bpe_vocab_stats" -> ((s: SparkSession, d: String) => bpeVocabStats(s, d)),
    "q_text_token_histogram" -> ((s: SparkSession, d: String) => tokenHistogram(s, d)),
    "q_text_bigrams" -> ((s: SparkSession, d: String) => bigrams(s, d)),
    "q_text_tfidf" -> ((s: SparkSession, d: String) => tfidfTopTerms(s, d)),
    "q_text_pmi" -> ((s: SparkSession, d: String) => pmiCollocations(s, d)),
    "q_text_keywords" -> ((s: SparkSession, d: String) => textrankKeywords(s, d)),
    "q_text_bm25" -> ((s: SparkSession, d: String) => bm25Search(s, d)),
    "q_text_perplexity" -> ((s: SparkSession, d: String) => perplexityScore(s, d)),
    "q_text_redact" -> ((s: SparkSession, d: String) => redact(s, d)),
    "q_text_repetition" -> ((s: SparkSession, d: String) => repetition(s, d)),
    "q_text_fingerprint" -> ((s: SparkSession, d: String) => fingerprint(s, d)),
    "q_quality_gopher" -> ((s: SparkSession, d: String) => gopherQuality(s, d)))

  // DuckDB lambda syntax (list_transform / list_filter) mirrors Spark's
  // higher-order functions one-to-one; counts are BIGINT on both sides.
  def oracles = Map(
    "q_text_keywords" ->
      s"""WITH t AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
         |p0 AS (SELECT toks[i] AS a, toks[i+1] AS b
         |  FROM t, unnest(generate_series(1, greatest(len(toks) - 1, 1))) AS u(i)),
         |pp AS (SELECT a, b FROM p0 WHERE b IS NOT NULL AND a <> b
         |  AND length(a) >= ${TextAnalysis.TextRankMinLen}
         |  AND length(b) >= ${TextAnalysis.TextRankMinLen}
         |  AND a NOT IN ('the','a','of','and','is','in','to')
         |  AND b NOT IN ('the','a','of','and','is','in','to')),
         |eb AS (SELECT least(a, b) AS u, greatest(a, b) AS v,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM pp GROUP BY 1, 2),
         |e AS (SELECT u AS src, v AS dst, w FROM eb
         |      UNION ALL SELECT v AS src, u AS dst, w FROM eb),
         |ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
         |en AS (SELECT e.src, e.dst,
         |    CAST(e.w AS DOUBLE) / CAST(ow.ow AS DOUBLE) AS frac
         |  FROM e JOIN ow ON ow.src = e.src),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |cnt AS (SELECT COUNT(*) AS n FROM n),
         |${GraphModule.unrolledSuperstepsSql(TextAnalysis.TextRankIters,
             "CAST(1 AS DOUBLE) / cnt.n", "CAST(0.15 AS DOUBLE) / cnt.n")}
         |SELECT node AS word, round(r, 6) AS rank
         |FROM r${TextAnalysis.TextRankIters}
         |ORDER BY r DESC, node ASC LIMIT ${TextAnalysis.TextRankTopK}""".stripMargin,
    "q_text_pmi" ->
      """WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
        |           FROM documents),
        |u AS (SELECT unnest(toks) AS term FROM t),
        |uc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY term),
        |bg AS (SELECT toks[i] AS term_a, toks[i + 1] AS term_b
        |       FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
        |       WHERE len(toks) >= 2),
        |bc AS (SELECT term_a, term_b, CAST(COUNT(*) AS BIGINT) AS n_pair
        |       FROM bg GROUP BY 1, 2),
        |tot AS (SELECT (SELECT SUM(n) FROM uc) AS nu,
        |               (SELECT SUM(n_pair) FROM bc) AS nb)
        |SELECT term_a, term_b, n_pair, a.n AS n_a, b.n AS n_b,
        |  round(ln(CAST(n_pair AS DOUBLE) * nu * nu
        |    / (CAST(nb AS DOUBLE) * a.n * b.n)), 6) AS pmi
        |FROM bc JOIN uc a ON a.term = bc.term_a
        |        JOIN uc b ON b.term = bc.term_b, tot
        |WHERE n_pair >= 5
        |ORDER BY CAST(n_pair AS DOUBLE) * nu * nu
        |    / (CAST(nb AS DOUBLE) * a.n * b.n) DESC, term_a, term_b
        |LIMIT 25""".stripMargin,
    "q_text_tfidf" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
        |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.term, tf, df,
        |    round(CAST(tf AS DOUBLE) *
        |      ln(CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "q_text_bm25" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
        |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS sdl FROM dl),
        |qt AS (SELECT term, df FROM dft WHERE length(term) >= 6
        |       ORDER BY df DESC, term ASC LIMIT 3),
        |w AS (SELECT tf.doc_id,
        |    CAST(round(
        |      ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |        * CAST(tf AS DOUBLE) * 2.2 /
        |        (CAST(tf AS DOUBLE) + 1.2 *
        |          (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(nd AS DOUBLE)))), 9)
        |      AS DECIMAL(29,9)) AS w
        |  FROM tf JOIN qt ON qt.term = tf.term
        |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  round(CAST(SUM(w) AS DOUBLE), 6) AS score
        |FROM w GROUP BY doc_id
        |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q_text_perplexity" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
        |cnts AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  round(-(CAST(SUM(CAST(round(round(CAST(tf AS DOUBLE) *
        |      ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 9) * 1e9, 0)
        |    AS BIGINT)) AS DOUBLE) / 1e9) / SUM(tf), 6) AS cross_entropy
        |FROM tf JOIN cnts ON tf.term = cnts.term CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      """WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
        |SELECT doc_id, n_chars_calc,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_token_len,
        |  round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks), 6) AS avg_token_len
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_text_lang_id" ->
      """WITH d AS (SELECT doc_id, lang, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, lang AS lang_meta,
        |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','in','to'))) AS BIGINT) AS en_hits,
        |  CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS de_hits,
        |  CAST(len(list_filter(toks, t -> t IN ('le','la','les','et','est','ne'))) AS BIGINT) AS fr_hits,
        |  CAST(len(list_filter(toks, t -> t IN ('el','los','las','y','es','no'))) AS BIGINT) AS es_hits,
        |  length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS zh_chars
        |  FROM d)
        |SELECT doc_id, lang_meta, en_hits, de_hits, fr_hits, es_hits,
        |  CASE WHEN zh_chars > 0 THEN 'zh'
        |       WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
        |       WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
        |       WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
        |       WHEN es_hits > 0 THEN 'es'
        |       ELSE 'unknown' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """WITH d AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','in','to'))) AS DOUBLE) / greatest(len(toks), 1), 6) AS stop_ratio,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS distinct_ratio
        |  FROM d)
        |SELECT doc_id, n_tokens, punct_ratio, stop_ratio, distinct_ratio,
        |  CASE WHEN n_tokens < 10 THEN 'too_short'
        |       WHEN punct_ratio > 0.2 THEN 'too_punct'
        |       WHEN distinct_ratio < 0.2 THEN 'too_repetitive'
        |       ELSE 'ok' END AS quality
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_quality_nb" ->
      s"""$nbModelCtes,
        |scores AS (
        |  SELECT e.doc_id, SUM(CAST(m.llr AS DECIMAL(28,9))) AS sdec
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM q) e
        |  JOIN model m USING (term)
        |  GROUP BY e.doc_id),
        |scored AS (
        |  SELECT q.doc_id,
        |    CAST(round(CAST(coalesce(s.sdec, 0) AS DECIMAL(28,9)) +
        |      CAST(p.llr AS DECIMAL(28,9)), 6) AS DOUBLE) AS nb_score,
        |    q.teacher
        |  FROM q LEFT JOIN scores s ON q.doc_id = s.doc_id, prior p)
        |SELECT doc_id, nb_score,
        |  CASE WHEN nb_score > 0 THEN 'pass' ELSE 'reject' END AS nb_pred,
        |  teacher,
        |  (nb_score > 0) = (teacher = 'pass') AS agree
        |FROM scored ORDER BY doc_id""".stripMargin,
    // the streaming quality gate's batch twin: the q_quality_nb score
    // algebra over the even-doc_id ingest slice (model/prior still
    // fitted on the FULL corpus — the stream scores against the
    // maintained artifact, not against itself), reduced to the BIGINT
    // checksum row (see streamParityQuality's precision notes)
    "q_stream_parity_quality" ->
      s"""$nbModelCtes,
        |scores AS (
        |  SELECT e.doc_id, SUM(CAST(m.llr AS DECIMAL(28,9))) AS sdec
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM q
        |        WHERE doc_id % 2 = 0) e
        |  JOIN model m USING (term)
        |  GROUP BY e.doc_id),
        |scored AS (
        |  SELECT q.doc_id,
        |    CAST(round(CAST(coalesce(s.sdec, 0) AS DECIMAL(28,9)) +
        |      CAST(p.llr AS DECIMAL(28,9)), 6) AS DOUBLE) AS nb_score
        |  FROM q LEFT JOIN scores s ON q.doc_id = s.doc_id, prior p
        |  WHERE q.doc_id % 2 = 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN nb_score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(SUM(CAST(round(nb_score * 1000000) AS BIGINT)) AS BIGINT) AS chk_score,
        |  CAST(SUM(CASE WHEN nb_score > 0 THEN doc_id ELSE -doc_id END) AS BIGINT) AS chk_doc
        |FROM scored""".stripMargin,
    "q_quality_nb_report" ->
      s"""$nbModelCtes,
        |scores AS (
        |  SELECT e.doc_id, SUM(CAST(m.llr AS DECIMAL(28,9))) AS sdec
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM q) e
        |  JOIN model m USING (term)
        |  GROUP BY e.doc_id),
        |scored AS (
        |  SELECT q.doc_id,
        |    CAST(round(CAST(coalesce(s.sdec, 0) AS DECIMAL(28,9)) +
        |      CAST(p.llr AS DECIMAL(28,9)), 6) AS DOUBLE) AS nb_score,
        |    q.teacher
        |  FROM q LEFT JOIN scores s ON q.doc_id = s.doc_id, prior p)
        |SELECT teacher,
        |  CASE WHEN nb_score > 0 THEN 'pass' ELSE 'reject' END AS nb_pred,
        |  COUNT(*) AS n_docs
        |FROM scored GROUP BY teacher, nb_pred ORDER BY teacher, nb_pred""".stripMargin,
    "q_quality_nb_terms" ->
      s"""$nbModelCtes,
        |filt AS (SELECT term, n_pass, n_reject, llr FROM model
        |         WHERE n_pass + n_reject >= ${TextAnalysis.NbMinTermCount}),
        |okside AS (SELECT 'pass_indicative' AS side, term, n_pass, n_reject, llr
        |           FROM filt ORDER BY llr DESC, term LIMIT ${TextAnalysis.NbTopTerms}),
        |badside AS (SELECT 'reject_indicative' AS side, term, n_pass, n_reject, llr
        |            FROM filt ORDER BY llr ASC, term LIMIT ${TextAnalysis.NbTopTerms})
        |SELECT * FROM (SELECT * FROM okside UNION ALL SELECT * FROM badside)
        |ORDER BY side, llr DESC, term""".stripMargin,
    "q_source_quality" ->
      """WITH d AS (SELECT doc_id, source, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, source,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS distinct_ratio
        |  FROM d),
        |q AS (SELECT *,
        |  CASE WHEN n_tokens < 10 THEN 'too_short'
        |       WHEN punct_ratio > 0.2 THEN 'too_punct'
        |       WHEN distinct_ratio < 0.2 THEN 'too_repetitive'
        |       ELSE 'ok' END AS quality
        |  FROM s)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN quality = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |  round(CAST(SUM(CASE WHEN quality = 'ok' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS share_ok,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(CAST(punct_ratio AS DECIMAL(19,6))) AS DOUBLE) / COUNT(*), 6) AS mean_punct_ratio,
        |  round(CAST(SUM(CAST(distinct_ratio AS DECIMAL(19,6))) AS DOUBLE) / COUNT(*), 6) AS mean_distinct_ratio
        |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "q_text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The BPE oracles replay graft.functions.Bpe's merge table in pure
    // SQL (recursive replace passes over a 0x1F-delimited token string;
    // see Bpe.oracleToksCtes) — true cross-engine verification of the
    // subword semantics, not an echo of the Spark output.
    "q_text_token_count_bpe" ->
      s"""WITH RECURSIVE
         |${graft.functions.Bpe.oracleToksCtes}
         |SELECT d.doc_id,
         |  CAST(len(string_split_regex(trim(lower(d.text)), '\\s+')) AS BIGINT) AS ws_tokens,
         |  CAST(len(b.toks) AS BIGINT) AS bpe_tokens,
         |  round(CAST(length(d.text) AS DOUBLE) / greatest(len(b.toks), 1), 6) AS chars_per_token
         |FROM documents d JOIN bpe_toks b USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_bpe_vocab_stats" ->
      s"""WITH RECURSIVE
         |${graft.functions.Bpe.oracleToksCtes}
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS n_uses,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM (SELECT doc_id, unnest(toks) AS token FROM bpe_toks)
         |GROUP BY token ORDER BY n_uses DESC, token ASC LIMIT 20""".stripMargin,
    "q_text_token_histogram" ->
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    "q_text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, toks,
        |  list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
        |    i -> array_to_string(toks[i:i+1], ' ')) AS bi,
        |  list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> array_to_string(toks[i:i+2], ' ')) AS tri
        |  FROM d)
        |SELECT doc_id,
        |  round(1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi), 6) AS dup_bigram_frac,
        |  round(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri), 6) AS dup_trigram_frac,
        |  round(CAST(list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks), 6) AS top_token_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    "q_text_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    'https?://[^ \t\n]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS redacted_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_bigrams" ->
      """WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT unnest(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 1)),
        |    i -> array_to_string(toks[i:i+1], ' '))) AS bigram FROM t)
        |SELECT bigram, COUNT(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,
    "q_text_fingerprint" ->
      """WITH d AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents)
        |SELECT doc_id, md5(norm) AS exact_fp,
        |  list_min(list_transform(
        |    generate_series(1, greatest(length(norm) - 7, 1)),
        |    i -> md5(substr(norm, CAST(i AS INT), 8)))) AS shingle_fp,
        |  CASE
        |    WHEN length(norm) = 0 THEN NULL
        |    WHEN length(norm) < 8 THEN
        |      -- whole-string window (k = min(8, len) in the engine
        |      -- kernel): fold h = (h*131 + codepoint) mod 1e9+7 from
        |      -- h = 0, which equals list_reduce seeded by the first
        |      -- codepoint (0*131 + c1 = c1)
        |      list_reduce(list_transform(generate_series(1, length(norm)),
        |        i -> CAST(ord(substr(norm, CAST(i AS INT), 1)) AS BIGINT)),
        |        (a, b) -> (a * 131 + b) % 1000000007)
        |    ELSE
        |      list_min(list_transform(
        |        generate_series(1, greatest(length(norm) - 7, 1)),
        |        i -> ((((((((((((((((CAST(0 AS BIGINT) * 131 + CAST(ord(substr(norm, CAST(i+0 AS INT), 1)) AS BIGINT)) % 1000000007) * 131 + CAST(ord(substr(norm, CAST(i+1 AS INT), 1)) AS BIGINT)) % 1000000007) * 131 + CAST(ord(substr(norm, CAST(i+2 AS INT), 1)) AS BIGINT)) % 1000000007) * 131 + CAST(ord(substr(norm, CAST(i+3 AS INT), 1)) AS BIGINT)) % 1000000007) * 131 + CAST(ord(substr(norm, CAST(i+4 AS INT), 1)) AS BIGINT)) % 1000000007) * 131 + CAST(ord(substr(norm, CAST(i+5 AS INT), 1)) AS BIGINT)) % 1000000007) * 131 + CAST(ord(substr(norm, CAST(i+6 AS INT), 1)) AS BIGINT)) % 1000000007) * 131 + CAST(ord(substr(norm, CAST(i+7 AS INT), 1)) AS BIGINT)) % 1000000007)))
        |  END AS rolling_fp
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_quality_gopher" ->
      s"""WITH d AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |    / len(toks), 6) AS mean_word_len,
        |  round(CAST(length(regexp_replace(text, '[^#]', '', 'g'))
        |      + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS INTEGER)
        |      + length(regexp_replace(text, '[^…]', '', 'g')) AS DOUBLE)
        |    / len(toks), 6) AS symbol_ratio,
        |  round(CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
        |    / len(toks), 6) AS alpha_frac,
        |  CAST(len(list_filter(toks,
        |    t -> t IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop
        |  FROM d)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
        |  CAST(n_words BETWEEN ${TextAnalysis.GopherMinWords} AND ${TextAnalysis.GopherMaxWords} AS INTEGER) AS rule_word_count,
        |  CAST(mean_word_len BETWEEN ${TextAnalysis.GopherMinMeanLen} AND ${TextAnalysis.GopherMaxMeanLen} AS INTEGER) AS rule_mean_word_len,
        |  CAST(symbol_ratio <= ${TextAnalysis.GopherMaxSymbolRatio} AS INTEGER) AS rule_symbol_ratio,
        |  CAST(alpha_frac >= ${TextAnalysis.GopherMinAlphaFrac} AS INTEGER) AS rule_alpha,
        |  CAST(n_stop >= ${TextAnalysis.GopherMinStopHits} AS INTEGER) AS rule_stopwords,
        |  CAST(rule_word_count = 1 AND rule_mean_word_len = 1 AND
        |    rule_symbol_ratio = 1 AND rule_alpha = 1 AND
        |    rule_stopwords = 1 AS INTEGER) AS pass
        |FROM s ORDER BY doc_id""".stripMargin)

  /** q_text_token_count_bpe_fit's oracle replays the merge table
    * LEARNED on this corpus — resolved when Verify dumps
    * oracle_sql.json (the q_knn_ivf_fit discipline: fitMerges is
    * deterministic and session-cached, so the inlined literals match
    * the table the query served in the same session). */
  override def dynamicOracles(spark: SparkSession, dir: String): Map[String, String] =
    Map("q_text_token_count_bpe_fit" -> BpeFit.tokenCountFitOracle(spark, dir))
}
