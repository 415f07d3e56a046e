package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.sources.Tables

/** The composed training-data pipeline: dedup is only useful if it
  * APPLIES — this module turns the pair reports of Dedup into a
  * cleaned corpus (the artifact a pre-training run consumes) and
  * exposes the per-language inventory of what survived.
  *
  * Dedup policy (deterministic greedy, standard for corpus cleaning):
  *  - exact duplicates: every doc whose normalized text equals an
  *    earlier doc's is dropped (keep-lowest-id).
  *  - near duplicates: for every pair with 3-gram Jaccard ≥ 0.8, the
  *    higher doc_id is dropped. Greedy-by-id rather than connected
  *    components: one distributed pass, no iteration, and stable
  *    under re-partitioning. (Transitive chains A~B~C with A≁C keep
  *    only A — the aggressive end; CC keeps A and C. At 100 TB the
  *    iterative CC pass is a separate job over the tiny pair table.)
  *  - quality: docs bucketed anything but 'ok' by TextAnalysis's
  *    filters are dropped.
  *
  * Everything is DuckDB-oracle-verified, including the composition.
  */
object Corpus {

  /** doc_ids dropped as exact duplicates (keep-lowest-id policy).
    * Fingerprints via Dedup.normText — the ONE normalization shared
    * with exact-dedup, so the cleaner cannot silently de-synchronize
    * from it. Window-min over the
    * fingerprint, never collect_list: a document copied n times stays
    * n rows through the window instead of one n-element array row —
    * the hot-key OOM shape at corpus scale. */
  private def exactVictims(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"), md5(Dedup.normText(col("text"))).as("fp"))
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
  }

  /** doc_ids dropped as near-duplicates: higher id of every pair with
    * Jaccard ≥ `threshold` — thresholded view of the shared
    * materialized pair table (Dedup.jaccardPairTable). */
  private def nearVictims(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    Dedup.jaccardPairTable(spark, dir)
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as("doc_id")).distinct()

  /** Quality-rejected doc_ids — TextAnalysis.qualityTiers' verdict,
    * not a re-statement of its thresholds: a tuning change there
    * cannot de-synchronize the cleaner (and the tiers carry the
    * zero-length ANSI guard this copy previously lacked). */
  private def qualityVictims(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityTiers(spark, dir)
      .filter(col("quality") =!= "ok")
      .select("doc_id")

  /** The cleaned corpus: survivors of exact-dedup, near-dedup (≥0.8),
    * and quality filtering. The survivor table is session-memoized
    * (Dedup's index cache): the clean and inventory queries share one
    * materialization instead of re-deriving the three victim scans
    * each. The victim union feeds a left_anti join, which needs
    * neither dedup nor attribution — per-reason audit counts are the
    * dedup/quality queries' own outputs. */
  def cleanedCorpus(spark: SparkSession, dir: String): DataFrame =
    Dedup.memo(spark, s"cleanedCorpus|$dir") {
      val docs = Tables.documents(spark, dir)
      val victims = exactVictims(docs)
        .unionByName(nearVictims(spark, dir, 0.8))
        .unionByName(qualityVictims(spark, dir))
      docs.join(victims, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .transform(Dedup.checkpointSer)
    }.orderBy("doc_id")

  /** Post-cleaning inventory: docs per language that survived — the
    * "what do we actually train on" report. */
  def cleanInventory(spark: SparkSession, dir: String): DataFrame =
    cleanedCorpus(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
}

/** Driver-contract registration for the composed cleaning pipeline. */
object CorpusModule extends QueryModule {
  import Corpus._

  def queries = Map(
    "q_corpus_clean" -> ((s: SparkSession, d: String) => cleanedCorpus(s, d)),
    "q_corpus_inventory" -> ((s: SparkSession, d: String) => cleanInventory(s, d)))

  private val cleanedSql =
    """WITH norm AS (
      |  SELECT doc_id, lang, source, text,
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
      |    string_split_regex(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |exact_victims AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY norm) AS keep_id FROM norm)
      |  WHERE doc_id != keep_id),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks) - 2, 1)),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |  FROM norm),
      |ex0 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
      |ex AS (SELECT doc_id, n_sh, shingle,
      |    COUNT(*) OVER (PARTITION BY shingle) AS df,
      |    MIN(doc_id) OVER (PARTITION BY shingle) AS min_id
      |  FROM ex0),
      |small_scored AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
      |    COUNT(*) AS n_common
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  WHERE a.df <= 64
      |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh),
      |star_cand AS (
      |  SELECT DISTINCT min_id AS id_a, doc_id AS id_b FROM ex
      |  WHERE df > 64 AND doc_id != min_id),
      |star_scored AS (
      |  SELECT id_a, id_b, len(sa.sh) AS n_a, len(sb.sh) AS n_b,
      |    len(list_intersect(sa.sh, sb.sh)) AS n_common
      |  FROM star_cand JOIN sh sa ON sa.doc_id = star_cand.id_a
      |                 JOIN sh sb ON sb.doc_id = star_cand.id_b),
      |np AS (
      |  SELECT id_a, id_b, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
      |    MAX(n_common) AS n_common
      |  FROM (SELECT * FROM small_scored UNION ALL SELECT * FROM star_scored)
      |  GROUP BY id_a, id_b),
      |near_victims AS (
      |  SELECT DISTINCT id_b AS doc_id FROM np
      |  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.8),
      |quality_victims AS (
      |  SELECT doc_id FROM norm
      |  WHERE len(toks) < 10
      |     OR round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) > 0.2
      |     OR round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) < 0.2),
      |victims AS (
      |  SELECT doc_id FROM exact_victims
      |  UNION SELECT doc_id FROM near_victims
      |  UNION SELECT doc_id FROM quality_victims)
      |SELECT doc_id, lang, source FROM norm
      |WHERE doc_id NOT IN (SELECT doc_id FROM victims)""".stripMargin

  def oracles = Map(
    "q_corpus_clean" -> (cleanedSql + "\nORDER BY doc_id"),
    "q_corpus_inventory" ->
      ("WITH cleaned AS (\n" + cleanedSql +
        "\n)\nSELECT lang, COUNT(*) AS n_docs FROM cleaned GROUP BY lang ORDER BY lang"))
}
