package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Embedding-corpus training ops beyond serving: contrastive
  * hard-negative mining and distribution-drift monitoring.
  *
  * Both are standard large-pipeline jobs the similarity family's
  * maintained artifacts make cheap:
  *
  *  - HARD NEGATIVES (the DPR/contrastive-training mining step,
  *    Karpukhin et al. 2020 §4.2 shape): for each query vector, the
  *    top-k most similar corpus vectors whose label DIFFERS from the
  *    query's — semantically close but wrong-class examples, the
  *    negatives that actually move a contrastive loss. Exact form for
  *    the oracle gate; an IVF-blocked form as the 100 TB path (the
  *    annIvfFiltered machinery with an exclusion predicate instead of
  *    an allow-list).
  *
  *  - EMBEDDING DRIFT (population-stability monitoring between corpus
  *    snapshots): assign both snapshots to the SAME fitted coarse
  *    quantizer and compare per-cell occupancy with the Population
  *    Stability Index, PSI = Σ (p−q)·ln(p/q) over smoothed cell
  *    shares. The monitor a recurring crawl runs before retraining —
  *    a drifted cell histogram means the new snapshot no longer looks
  *    like the data the downstream model (or the ANN index geometry)
  *    was tuned on. The registered query splits the corpus by vec_id
  *    parity as a deterministic stand-in for crawl t vs t+1.
  */
object EmbeddingOps {

  private def dot(a: Column, b: Column): Column =
    graft.functions.ArrayDotProduct(a, b)

  /** (vec_id, v, nrm, label) in ONE scan of the embeddings table — the
    * labeled twin of Similarity.embBase. The label rides the same
    * parquet row, so carrying it costs a column, not a join; the
    * zero-norm exclusion matches embBase (no cosine exists). */
  private def labeledBase(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"),
        col("label").cast("int").as("label"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0d)

  /** Exact hard-negative mining: queries vec_id < nQueries, top-k by
    * cosine among corpus vectors with a DIFFERENT label.
    *
    * Plan shape = knnExact's (the formulation that survives a 100×
    * corpus): the query side broadcasts, each executor scores its
    * corpus slice inside codegen with the label inequality applied in
    * the join condition (before any shuffle), and a per-partition
    * top-k heap prunes to ≤ |Q|·k rows per partition BEFORE the
    * ranking window's exchange — the shuffle carries
    * O(|Q|·k·partitions), never O(|Q|·N). Labels ride the pruned
    * tuples, so no second corpus scan joins them back. */
  def hardNegatives(spark: SparkSession, dir: String,
                    nQueries: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    val e = labeledBase(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("v_q"),
        col("nrm").as("nrm_q"), col("label").as("qlab"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("v_c"),
      col("nrm").as("nrm_c"), col("label").as("nlab"))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id") &&
        col("qlab") =!= col("nlab"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("v_q"), col("v_c")) / (col("nrm_q") * col("nrm_c"))).as("cos"),
        col("qlab"), col("nlab"))
    // per-partition min-heap, same total order as the ranking window
    // (cos desc with NaN greatest — java.lang.Double.compare, Spark's
    // desc semantics — then neighbor_id asc); see knnExact for why the
    // orders must agree exactly
    val pruned = scored.as[(Long, Long, Double, Int, Int)].mapPartitions { it =>
      val worstFirst = new Ordering[(Double, Long, Int)] {
        def compare(x: (Double, Long, Int), y: (Double, Long, Int)): Int = {
          val c = java.lang.Double.compare(y._1, x._1)
          if (c != 0) c else java.lang.Long.compare(x._2, y._2)
        }
      }
      val best = scala.collection.mutable.Map
        .empty[(Long, Int), scala.collection.mutable.PriorityQueue[(Double, Long, Int)]]
      it.foreach { case (qid, nid, cos, qlab, nlab) =>
        val h = best.getOrElseUpdate((qid, qlab),
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        if (h.size < k) h.enqueue((cos, nid, nlab))
        else if (worstFirst.lt((cos, nid, nlab), h.head)) {
          h.dequeue(); h.enqueue((cos, nid, nlab))
        }
      }
      best.iterator.flatMap { case ((qid, qlab), h) =>
        h.iterator.map { case (cos, nid, nlab) => (qid, qlab, nid, nlab, cos) }
      }
    }.toDF("query_id", "query_label", "neighbor_id", "neighbor_label", "cos")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    pruned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

  /** Static DuckDB twin of [[hardNegatives]]. */
  private[operators] val hardNegOracleSql: String =
    """WITH el AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
      |  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
      |                         CAST(embedding AS DOUBLE[])) > 0),
      |s AS (SELECT q.vec_id AS query_id, q.label AS query_label,
      |        c.vec_id AS neighbor_id, c.label AS neighbor_label,
      |        list_dot_product(q.v, c.v) /
      |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      |      FROM el q JOIN el c
      |        ON c.vec_id <> q.vec_id AND c.label <> q.label
      |      WHERE q.vec_id < 10)
      |SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rn FROM (
      |  SELECT query_id, query_label, neighbor_id, neighbor_label, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY cos DESC, neighbor_id ASC) AS rn
      |  FROM s)
      |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  /** Probe budget under a label-EXCLUSION predicate: per query the
    * allowed population is everything but the query's own label, so
    * selectivity = 1 − share(label). One budget serves all queries —
    * sized for the worst case (the most common label, whose exclusion
    * keeps the least), from the same cached label histogram the
    * allow-list filter reads. Capped at the cell count (probe
    * everything — the safe degenerate limit). */
  private[operators] def probeForExclusion(spark: SparkSession, dir: String,
                                           kCells: Int): Int = {
    val hist = SimilarityIvf.labelHistogram(spark, dir)
    val total = hist.values.sum
    if (total == 0L) kCells
    else {
      val worstSel = 1.0 - hist.values.max.toDouble / total
      if (worstSel <= 0.0) kCells // single-label corpus: no negatives exist
      else math.min(kCells,
        math.ceil(SimilarityIvf.probeFor(kCells) *
          SimilarityIvf.FilteredProbeHeadroom / worstSel).toInt)
    }
  }

  /** IVF-blocked hard-negative mining — the 100 TB path: candidates
    * come from the maintained ids-only fitted-cell index joined with
    * the (vec_id, label) projection, the label inequality prunes
    * INSIDE the candidate stage (the annIvfFiltered pre-filter
    * posture — post-filtering the top-k silently under-fills whenever
    * same-label vectors dominate a neighborhood, which is exactly the
    * clustered case), and only the pruned candidate set pays the
    * exact-cosine rerank. Probe budget scales with the exclusion's
    * worst-case selectivity. */
  def hardNegativesAnn(spark: SparkSession, dir: String,
                       nQueries: Int = 10, k: Int = 5): DataFrame = {
    val cents = SimilarityIvf.fitCentroids(spark, dir)
    val base = Similarity.embBase(spark, dir)
    val cells = SimilarityIvf.ivfCells(spark, dir, cents, s"ivfCellsFit|$dir")
    val lbl = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("int").as("label"))
    val nprobe = probeForExclusion(spark, dir, cents.length)
    val qcells = SimilarityIvf.queryProbesOf(
      base.filter(col("vec_id") < nQueries), cents, nprobe)
      .join(lbl.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("label").as("qlab")),
        Seq("query_id"))
    val candCells = cells.join(lbl, Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("label").as("nlab"))
    val pairs = broadcast(qcells)
      .join(candCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("qlab") =!= col("nlab"))
      .select("query_id", "neighbor_id").distinct()
    Similarity.rerankTopK(base, pairs, nQueries, k)
  }

  /** Dump-time DuckDB twin of [[hardNegativesAnn]] — fitted centroids
    * and the resolved exclusion probe budget inlined as literals
    * (the q_knn_ivf_fit discipline). */
  private[operators] def hardNegAnnOracleSql(cents: Seq[Seq[Double]],
                                             nprobe: Int): String = {
    val rows = cents.zipWithIndex
      .map { case (c, i) => s"(${i + 1}, ${c.mkString("[", ", ", "]")}::DOUBLE[])" }
      .mkString(",\n    ")
    s"""WITH ${SimilarityModule.eCte},
       |cents(cell, cv) AS (VALUES
       |    $rows),
       |d AS (SELECT vec_id, cell, list_dot_product(v, cv) AS dt FROM e CROSS JOIN cents),
       |assign AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dt DESC, cell ASC) AS rn
       |    FROM d) WHERE rn = 1),
       |qcells AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dt DESC, cell DESC) AS rn
       |    FROM d WHERE vec_id < 10) WHERE rn <= $nprobe),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cand AS (SELECT DISTINCT query_id, a.vec_id AS neighbor_id
       |         FROM qcells
       |           JOIN lab ql ON ql.vec_id = qcells.query_id
       |           JOIN assign a USING (cell)
       |           JOIN lab nl ON nl.vec_id = a.vec_id
       |         WHERE a.vec_id <> qcells.query_id AND nl.label <> ql.label),
       |${SimilarityModule.rerankTail}""".stripMargin
  }

  /** Training-triplet mining: per anchor (vec_id < nQueries) the
    * hardest POSITIVE (top same-label neighbor by cosine) and the
    * hardest NEGATIVE (top cross-label neighbor) in one corpus pass —
    * the (anchor, positive, negative) export a contrastive/metric-
    * learning trainer consumes, with the margin (pos_cos − neg_cos)
    * reported so violated triplets (margin < 0: an imposter scores
    * above the best same-class example) surface as the curriculum's
    * hard cases.
    *
    * One scan scores both branches (the label comparison is a flag,
    * not a second pass); a per-partition top-1 heap per (anchor,
    * branch) prunes to ≤ 2·|Q| rows per partition before any
    * exchange. Anchors with no same-label peer keep a NULL positive
    * (left join) rather than silently vanishing. */
  def trainingTriplets(spark: SparkSession, dir: String,
                       nQueries: Int = 10): DataFrame = {
    import spark.implicits._
    val e = labeledBase(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("anchor_id"), col("v").as("v_q"),
        col("nrm").as("nrm_q"), col("label").as("qlab"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("v_c"),
      col("nrm").as("nrm_c"), col("label").as("nlab"))
    val scored = broadcast(q)
      .join(c, col("anchor_id") =!= col("neighbor_id"))
      .select(col("anchor_id"), col("qlab"), col("neighbor_id"),
        (col("qlab") === col("nlab")).as("same"),
        (dot(col("v_q"), col("v_c")) / (col("nrm_q") * col("nrm_c"))).as("cos"))
    val pruned = scored.as[(Long, Int, Long, Boolean, Double)].mapPartitions { it =>
      // top-1 per (anchor, branch): the same total order as the final
      // argmax (cos desc, neighbor_id asc)
      val best = scala.collection.mutable.Map.empty[(Long, Boolean), (Int, Long, Double)]
      it.foreach { case (aid, qlab, nid, same, cos) =>
        val k = (aid, same)
        val cur = best.get(k)
        if (cur.isEmpty || cos > cur.get._3 ||
          (cos == cur.get._3 && nid < cur.get._2))
          best(k) = (qlab, nid, cos)
      }
      best.iterator.map { case ((aid, same), (qlab, nid, cos)) =>
        (aid, qlab, nid, same, cos)
      }
    }.toDF("anchor_id", "qlab", "neighbor_id", "same", "cos")
    // both branch argmaxes from ONE aggregation over the pruned rows
    // (a per-branch window would re-evaluate the corpus scan once per
    // branch — the plans would share no exchange): max of
    // struct(cos, -neighbor_id, …) IS the (cos desc, neighbor_id asc)
    // argmax, and max(when(…)) over an all-null branch yields the NULL
    // positive the report contract requires
    def top(branch: Column) = max(when(branch,
      struct(col("cos"), (-col("neighbor_id")).as("_negid"),
        col("neighbor_id"))))
    val tops = pruned.groupBy("anchor_id").agg(
      top(col("same")).as("pos"), top(!col("same")).as("neg"))
    val anchors = q.select(col("anchor_id"), col("qlab").as("anchor_label"))
    anchors
      .join(tops, Seq("anchor_id"), "left")
      .select(col("anchor_id"), col("anchor_label"),
        col("pos.neighbor_id").as("pos_id"), col("pos.cos").as("pos_cos"),
        col("neg.neighbor_id").as("neg_id"), col("neg.cos").as("neg_cos"),
        (col("pos.cos") - col("neg.cos")).as("margin"))
      .orderBy("anchor_id")
  }

  /** Probe budget under a label-INCLUSION predicate keyed per query:
    * the allowed population is exactly the query's own label, so the
    * worst case is the RAREST label present. With realistic label
    * arities this caps at probe-everything for the positive leg —
    * correct (the allowed population is ~1/labels of the corpus, and
    * mining the hardest positive from a thin slice needs wide
    * probing), and self-limiting: the cap IS exact search over the
    * filtered corpus. */
  private[operators] def probeForInclusion(spark: SparkSession, dir: String,
                                           kCells: Int): Int = {
    val hist = SimilarityIvf.labelHistogram(spark, dir)
    val total = hist.values.sum
    if (total == 0L || hist.isEmpty) kCells
    else {
      val worstSel = hist.values.min.toDouble / total
      math.min(kCells,
        math.ceil(SimilarityIvf.probeFor(kCells) *
          SimilarityIvf.FilteredProbeHeadroom / worstSel).toInt)
    }
  }

  /** IVF-blocked triplet mining — [[trainingTriplets]]'s 100 TB path:
    * both branches come from the maintained ids-only fitted-cell
    * index joined with the label projection, the label predicate
    * (equality for the positive, inequality for the negative) pruning
    * INSIDE each candidate stage, each with its own
    * selectivity-scaled probe budget. Anchors whose probes miss every
    * same-label vector keep a NULL positive — the report discipline,
    * never a silent drop. */
  def trainingTripletsAnn(spark: SparkSession, dir: String,
                          nQueries: Int = 10): DataFrame = {
    val cents = SimilarityIvf.fitCentroids(spark, dir)
    val base = Similarity.embBase(spark, dir)
    val cells = SimilarityIvf.ivfCells(spark, dir, cents, s"ivfCellsFit|$dir")
    val lbl = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("int").as("label"))
    // anchors come from the norm-filtered base, NOT the raw table —
    // the exact twin and both oracles exclude zero-norm vectors (no
    // cosine exists), and an anchor universe that disagreed by one
    // row would row-count-mismatch the gate on such a corpus
    val qlabs = base.filter(col("vec_id") < nQueries).select("vec_id")
      .join(lbl, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("label").as("qlab"))
    val candCells = cells.join(lbl, Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("label").as("nlab"))
    def leg(nprobe: Int, samePred: Column => Column,
            idName: String, cosName: String): DataFrame = {
      val qcells = SimilarityIvf.queryProbesOf(
        base.filter(col("vec_id") < nQueries), cents, nprobe)
        .join(qlabs, Seq("query_id"))
      val pairs = broadcast(qcells)
        .join(candCells, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id") &&
          samePred(col("qlab")))
        .select("query_id", "neighbor_id").distinct()
      Similarity.rerankTopK(base, pairs, nQueries, 1)
        .select(col("query_id").as("anchor_id"),
          col("neighbor_id").as(idName), col("cos").as(cosName))
    }
    val pos = leg(probeForInclusion(spark, dir, cents.length),
      q => col("nlab") === q, "pos_id", "pos_cos")
    val neg = leg(probeForExclusion(spark, dir, cents.length),
      q => col("nlab") =!= q, "neg_id", "neg_cos")
    qlabs.select(col("query_id").as("anchor_id"), col("qlab").as("anchor_label"))
      .join(pos, Seq("anchor_id"), "left")
      .join(neg, Seq("anchor_id"), "left")
      .select(col("anchor_id"), col("anchor_label"),
        col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"))
      .orderBy("anchor_id")
  }

  /** Dump-time DuckDB twin of [[trainingTripletsAnn]] — fitted
    * centroids and both resolved probe budgets inlined. */
  private[operators] def tripletAnnOracleSql(cents: Seq[Seq[Double]],
                                             nprobePos: Int,
                                             nprobeNeg: Int): String = {
    val rows = cents.zipWithIndex
      .map { case (c, i) => s"(${i + 1}, ${c.mkString("[", ", ", "]")}::DOUBLE[])" }
      .mkString(",\n    ")
    def legSql(nprobe: Int, op: String, idName: String, cosName: String) =
      s"""qc_$idName AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dt DESC, cell DESC) AS rn
         |    FROM d WHERE vec_id < 10) WHERE rn <= $nprobe),
         |cand_$idName AS (SELECT DISTINCT query_id, a.vec_id AS neighbor_id
         |         FROM qc_$idName
         |           JOIN lab ql ON ql.vec_id = qc_$idName.query_id
         |           JOIN assign a USING (cell)
         |           JOIN lab nl ON nl.vec_id = a.vec_id
         |         WHERE a.vec_id <> qc_$idName.query_id AND nl.label $op ql.label),
         |$idName AS (SELECT query_id AS anchor_id, neighbor_id AS $idName, cos AS $cosName FROM (
         |    SELECT query_id, neighbor_id,
         |      list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |                         ORDER BY list_dot_product(q.v, c.v) /
         |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |          neighbor_id ASC) AS rn
         |    FROM cand_$idName JOIN e q ON q.vec_id = cand_$idName.query_id
         |                      JOIN e c ON c.vec_id = cand_$idName.neighbor_id)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH ${SimilarityModule.eCte},
       |cents(cell, cv) AS (VALUES
       |    $rows),
       |d AS (SELECT vec_id, cell, list_dot_product(v, cv) AS dt FROM e CROSS JOIN cents),
       |assign AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dt DESC, cell ASC) AS rn
       |    FROM d) WHERE rn = 1),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |${legSql(nprobePos, "=", "pos_id", "pos_cos")},
       |${legSql(nprobeNeg, "<>", "neg_id", "neg_cos")},
       |anchors AS (SELECT e.vec_id AS anchor_id, lab.label AS anchor_label
       |            FROM e JOIN lab ON lab.vec_id = e.vec_id WHERE e.vec_id < 10)
       |SELECT anchor_id, anchor_label, pos_id, pos_cos, neg_id, neg_cos,
       |  pos_cos - neg_cos AS margin
       |FROM anchors LEFT JOIN pos_id USING (anchor_id)
       |             LEFT JOIN neg_id USING (anchor_id)
       |ORDER BY anchor_id""".stripMargin
  }

  /** Static DuckDB twin of [[trainingTriplets]]. */
  private[operators] val tripletOracleSql: String =
    """WITH el AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
      |  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
      |                         CAST(embedding AS DOUBLE[])) > 0),
      |s AS (SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
      |        c.vec_id AS neighbor_id, c.label = q.label AS same,
      |        list_dot_product(q.v, c.v) /
      |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      |      FROM el q JOIN el c ON c.vec_id <> q.vec_id
      |      WHERE q.vec_id < 10),
      |r AS (SELECT anchor_id, neighbor_id, same, cos,
      |        ROW_NUMBER() OVER (PARTITION BY anchor_id, same
      |                           ORDER BY cos DESC, neighbor_id ASC) AS rn
      |      FROM s),
      |pos AS (SELECT anchor_id, neighbor_id AS pos_id, cos AS pos_cos
      |        FROM r WHERE same AND rn = 1),
      |neg AS (SELECT anchor_id, neighbor_id AS neg_id, cos AS neg_cos
      |        FROM r WHERE NOT same AND rn = 1),
      |a AS (SELECT DISTINCT vec_id AS anchor_id, label AS anchor_label
      |      FROM el WHERE vec_id < 10)
      |SELECT a.anchor_id, a.anchor_label, pos_id, pos_cos, neg_id, neg_cos,
      |  pos_cos - neg_cos AS margin
      |FROM a LEFT JOIN pos USING (anchor_id) LEFT JOIN neg USING (anchor_id)
      |ORDER BY a.anchor_id""".stripMargin

  /** Per-cell PSI drift report between the corpus's two snapshot
    * halves (vec_id even = reference, odd = current), under the FITTED
    * coarse quantizer — both snapshots in ONE cell geometry, which is
    * what makes occupancies comparable at all (re-fitting per snapshot
    * would move the cells with the data and hide the drift).
    *
    * shares are Laplace-smoothed — p = (n+0.5)/(N+0.5·K) — so empty
    * cells stay finite; per-cell contribution (p−q)·ln(p/q) is rounded
    * to 9 dp and decimal-summed (the CCNet-perplexity discipline: the
    * one libm call is pinned to a tolerance-absorbing precision and
    * the reduction is exact, so partition order can't move the total).
    *
    * Scale shape: one hash-agg over the maintained ids-only cell index
    * (parity flag computed from the id — no vector is read), a 1-row
    * broadcast total, a K-row broadcast PSI sum. At 100 TB this is the
    * cheapest query in the family. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val cents = SimilarityIvf.fitCentroids(spark, dir)
    val cells = SimilarityIvf.ivfCells(spark, dir, cents, s"ivfCellsFit|$dir")
    val cnt = cells.groupBy("cell").agg(
      sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_ref"),
      sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_cur"))
    psiReport(cnt, cents.length)
  }

  /** The PSI scoring kernel over a (cell, n_ref, n_cur) occupancy
    * table — shared verbatim by the registered snapshot-halves query
    * above and the batch-vs-corpus [[driftReport]], so both score the
    * same counts identically. */
  private[graft] def psiReport(cnt: DataFrame, kCells: Int): DataFrame = {
    // totals as GLOBAL WINDOW sums over the K-row occupancy table (a
    // single-partition exchange of K rows — negligible) instead of
    // agg + crossJoin: the crossJoin formulation referenced `cnt`
    // from two unpersisted subtrees and the final plan evaluated the
    // upstream (for driftReport: the batch assignment scan) ~4×. One
    // window pass evaluates it once; the decimal sums are exact either
    // way, so every emitted value is unchanged.
    val all = Window.partitionBy(lit(1))
    cnt
      .withColumn("t_ref", sum(col("n_ref")).over(all))
      .withColumn("t_cur", sum(col("n_cur")).over(all))
      .withColumn("p",
        (col("n_ref") + lit(0.5d)) / (col("t_ref") + lit(0.5d * kCells)))
      .withColumn("q",
        (col("n_cur") + lit(0.5d)) / (col("t_cur") + lit(0.5d * kCells)))
      .withColumn("contrib",
        round((col("p") - col("q")) * log(col("p") / col("q")), 9)
          .cast("decimal(20,9)"))
      .withColumn("psi_sum", sum(col("contrib")).over(all))
      .select(col("cell"), col("n_ref"), col("n_cur"),
        round(col("p"), 6).as("p_ref"), round(col("q"), 6).as("p_cur"),
        col("contrib").cast("double").as("psi_contrib"),
        round(col("psi_sum").cast("double"), 6).as("psi_total"))
      .orderBy("cell")
  }

  /** The CTE chain of the [[psiReport]] SQL twin (tot/sh/co) over
    * whatever `cnt(cell, n_ref, n_cur)` CTE the WITH head defines —
    * split from [[psiSqlTail]] so oracles that need a different final
    * reduction over `co` (the q_stream_parity_drift checksum)
    * share the share/contrib arithmetic verbatim. */
  private[operators] def psiSqlCtes(kCells: Int): String =
    s"""tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM cnt),
       |-- all share arithmetic in DOUBLE (DuckDB parses bare decimal
       |-- literals as DECIMAL, whose division would diverge from the
       |-- Spark side's IEEE doubles)
       |sh AS (SELECT cell, n_ref, n_cur,
       |    (CAST(n_ref AS DOUBLE) + 0.5::DOUBLE) /
       |      (CAST(t_ref AS DOUBLE) + ${0.5d * kCells}::DOUBLE) AS p,
       |    (CAST(n_cur AS DOUBLE) + 0.5::DOUBLE) /
       |      (CAST(t_cur AS DOUBLE) + ${0.5d * kCells}::DOUBLE) AS q
       |  FROM cnt CROSS JOIN tot),
       |co AS (SELECT cell, n_ref, n_cur, p, q,
       |    CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(20,9)) AS contrib
       |  FROM sh)""".stripMargin

  /** The SQL twin of [[psiReport]] over whatever `cnt(cell, n_ref,
    * n_cur)` CTE the WITH head defines — shared by the embedding and
    * scalar-feature drift oracles. */
  private[operators] def psiSqlTail(kCells: Int): String =
    s"""${psiSqlCtes(kCells)}
       |SELECT cell, n_ref, n_cur, round(p, 6) AS p_ref, round(q, 6) AS p_cur,
       |  CAST(contrib AS DOUBLE) AS psi_contrib,
       |  round(CAST((SELECT SUM(contrib) FROM co) AS DOUBLE), 6) AS psi_total
       |FROM co ORDER BY cell""".stripMargin

  /** Dump-time DuckDB twin of [[embeddingDrift]] — fitted centroids
    * inlined; the smoothing constants carry the same cell count. */
  private[operators] def driftOracleSql(cents: Seq[Seq[Double]]): String =
    s"""WITH ${SimilarityIvf.assignCteSqlWith(cents)},
       |cnt AS (SELECT cell,
       |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
       |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
       |  FROM assign GROUP BY cell),
       |${psiSqlTail(cents.length)}""".stripMargin

  /** PSI report of one (vec_id, embedding) slice against the corpus.
    * Reference = the maintained fitted-cell index's occupancy; current
    * = `batch` assigned under the SAME frozen fitted quantizer
    * ([[SimilarityIvf.ivfAssign]]), so both histograms share one cell
    * geometry. Cells empty on one side survive the full join (smoothed
    * by [[psiReport]]), so a batch concentrated in a single cell reads
    * as the drift it is. */
  private[graft] def driftReport(batch: DataFrame, spark: SparkSession, dir: String)
      : DataFrame = {
    val cents = SimilarityIvf.fitCentroids(spark, dir)
    val ref = SimilarityIvf.ivfCells(spark, dir, cents, s"ivfCellsFit|$dir")
      .groupBy("cell").agg(count(lit(1)).as("n_ref"))
    val cur = SimilarityIvf.ivfAssign(Similarity.embBaseOf(batch), cents)
      .groupBy("cell").agg(count(lit(1)).as("n_cur"))
    val cnt = ref.join(cur, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    psiReport(cnt, cents.length)
  }

  /** Batch-vs-corpus drift head (`q_stream_parity_drift`). Scores a
    * FIXED batch (the even vec_ids) with [[driftReport]] and reduces
    * the K-cell report to one checksum row, so a drifted kernel breaks
    * an oracle hash.
    *
    * Checksum discipline: the histogram checksum is BIGINT-exact
    * (cells ≤ K = a few thousand, so the weighted sum is far inside
    * BIGINT); the PSI checksum recovers each contrib's EXACT
    * DECIMAL(20,9) integer numerator from its double rendering —
    * round(x·10⁹) is exact because every psi_contrib IS k/10⁹ for
    * integer k (psiReport rounds to 9 dp before the decimal sum), so
    * the double sits within one ulp of k and never near a half. */
  def streamParityDrift(spark: SparkSession, dir: String): DataFrame = {
    val batch = Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(2)) === 0)
    driftReport(batch, spark, dir)
      .agg(
        count(lit(1)).cast("long").as("n_cells"),
        sum(col("n_ref")).cast("long").as("t_ref"),
        sum(col("n_cur")).cast("long").as("t_cur"),
        sum((col("cell").cast("long") + lit(1L)) *
          (col("n_ref") + lit(1000003L) * col("n_cur"))).cast("long").as("chk_hist"),
        sum(round(col("psi_contrib") * lit(1e9d)).cast("long"))
          .cast("long").as("chk_psi"))
  }

  /** Dump-time DuckDB twin of [[streamParityDrift]] — the corpus-wide
    * reference and even-id current occupancies under the same inlined
    * fitted centroids, the shared [[psiSqlCtes]] share arithmetic, and
    * the one-row BIGINT reduction. */
  private[operators] def streamParityDriftOracleSql(cents: Seq[Seq[Double]]): String =
    s"""WITH ${SimilarityIvf.assignCteSqlWith(cents)},
       |ref AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_ref
       |  FROM assign GROUP BY cell),
       |cur AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_cur
       |  FROM assign WHERE vec_id % 2 = 0 GROUP BY cell),
       |cnt AS (SELECT COALESCE(r.cell, c.cell) AS cell,
       |    COALESCE(r.n_ref, 0) AS n_ref, COALESCE(c.n_cur, 0) AS n_cur
       |  FROM ref r FULL JOIN cur c ON r.cell = c.cell),
       |${psiSqlCtes(cents.length)}
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       |  CAST(SUM(n_ref) AS BIGINT) AS t_ref,
       |  CAST(SUM(n_cur) AS BIGINT) AS t_cur,
       |  CAST(SUM((cell + 1) * (n_ref + 1000003 * n_cur)) AS BIGINT) AS chk_hist,
       |  CAST(SUM(CAST(round(CAST(contrib AS DOUBLE) * 1000000000) AS BIGINT))
       |    AS BIGINT) AS chk_psi
       |FROM co""".stripMargin

  /** Smoothing denominator for the scalar-feature drift report: doc
    * lengths bucket by DIGIT COUNT (order of magnitude), so 10 covers
    * every corpus up to 10^10-char documents — a fixed constant both
    * engines inline. */
  private[operators] val FeatureDriftBuckets = 10

  /** Scalar-feature drift: the [[psiReport]] kernel over a document
    * LENGTH histogram instead of embedding cells — the cheap first
    * alarm a text pipeline checks before anything embedding-based (a
    * new crawl whose length profile shifted an order of magnitude is
    * broken upstream, no model needed to see it). Buckets are the
    * n_chars DIGIT COUNT — an exact integer both engines derive from
    * the decimal string, no libm in the bucketing (log-family buckets
    * would put boundary values at the mercy of ln round-off). Same
    * parity-split snapshot convention as [[embeddingDrift]]. */
  def featureDrift(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("n_chars").cast("string")).cast("int").as("cell"))
      .groupBy("cell").agg(
        sum(when(pmod(col("doc_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(pmod(col("doc_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_cur"))
    psiReport(cnt, FeatureDriftBuckets)
  }

  /** Static DuckDB twin of [[featureDrift]]. */
  private[operators] val featureDriftOracleSql: String =
    s"""WITH cnt AS (SELECT CAST(length(CAST(n_chars AS VARCHAR)) AS INT) AS cell,
       |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
       |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
       |  FROM documents GROUP BY 1),
       |${psiSqlTail(FeatureDriftBuckets)}""".stripMargin
}
