package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index-geometry drift monitoring — the operational complement of the
  * train-once index posture.
  *
  * The engine freezes index geometry at build time on purpose: the LSH
  * plane count is sized to the corpus once and inherited by every
  * append (Similarity.corpusH), and the fitted IVF quantizer is never
  * refit on ingest (the FAISS coarse-quantizer posture). That is the
  * right consistency contract — old and new rows must collide under
  * ONE geometry — but it leaves a silent failure mode at 100 TB: a
  * corpus that grows far past its build keeps the stale geometry,
  * bucket occupancy grows linearly, and serving degrades back toward
  * the fixed-H scale-killer with nothing measuring it.
  *
  * [[geometryDrift]] is that measurement: one row per index family
  * comparing the AS-BUILT sizing parameter against what the current
  * corpus would be sized to, plus measured bucket/cell occupancy, and
  * a rebuild recommendation. In a session primed on an index directory
  * the report measures the persisted artifacts (the memo serves them);
  * unprimed, it measures the session build — same code path either
  * way, which is what makes it oracle-checkable. The maintenance verb
  * that acts on the recommendation is [[Dedup.reindexArtifacts]];
  * [[Dedup.eraseDocuments]] surfaces the same recommendation when an
  * erasure removes a large fraction of the indexed vectors.
  */
object Reindex {

  /** Occupancy-skew ceiling for the IVF families: max cell population
    * above this multiple of the mean marks a quantizer whose cells no
    * longer balance the corpus (distribution shift since the fit) —
    * probing cost concentrates in the hot cells. */
  private[operators] val IvfSkewMax = 4.0

  /** Erased-vector fraction past which [[Dedup.eraseDocuments]] writes
    * the re-index advice marker: train-once models are statistical
    * summaries of a corpus that, beyond this, no longer exists. */
  private[graft] val EraseReindexFrac = 0.25

  /** Advice-marker artifact name under an index directory. Written by
    * eraseDocuments past [[EraseReindexFrac]]; cleared by the next
    * writeIndexes / reindexArtifacts (the rebuild resolves it). */
  private[graft] val AdviceArtifact = "reindexAdvice.parquet"

  /** ⌈log₂⌈n/target⌉⌉ clamped to the plane-count band, as a PLAN
    * expression — the in-plan twin of Similarity.hForCount, INTEGER
    * arithmetic like the Scala original: bit length via the binary
    * string (`length(bin(cells-1))`, which both engines derive
    * exactly). A float log2 here could flap at an exact power-of-two
    * boundary — the monitor recommending a rebuild that hForCount's
    * integer sizing then doesn't perform, forever. */
  private def hTargetExpr(nVecs: Column): Column = {
    val occ = Similarity.TargetBucketOccupancy.toLong
    // ceil-division via floor on doubles is exact at any real corpus
    // count (≪ 2^53); the bit length itself is pure integer/string work
    val cells = greatest(lit(1L),
      floor((nVecs.cast("double") + (occ - 1)) / occ).cast("long"))
    greatest(lit(Similarity.NumPlanes), least(lit(Similarity.MaxPlanes),
      when(cells <= 1, lit(0))
        .otherwise(length(bin(cells - 1))).cast("int")))
  }

  /** clamp(4·⌈√n⌉, 16, 4096) — the in-plan twin of
    * SimilarityIvf.corpusK (raw corpus count, FAISS sizing band). */
  private def kTargetExpr(nRaw: Column): Column =
    greatest(lit(16), least(lit(4096),
      (ceil(sqrt(nRaw.cast("double"))) * 4).cast("int")))

  /** One family's occupancy aggregate over a (bucket-key…, c) count
    * table: occupied-bucket count, total rows, max population, plus
    * mean and skew (max/mean) — the shared shape all three families
    * report. */
  private def occAgg(occ: DataFrame): DataFrame =
    occ.agg(
      count(lit(1)).cast("long").as("n_buckets"),
      sum("c").cast("long").as("total"),
      max("c").cast("long").as("max_occ"))
      // empty family → no row (see the lsh twin's note)
      .filter(col("total").isNotNull && col("total") > 0)

  private def occCols: Seq[Column] = Seq(
    col("n_buckets"),
    round(col("total").cast("double") / col("n_buckets"), 6).as("mean_occ"),
    col("max_occ"),
    round(col("max_occ").cast("double") * col("n_buckets") / col("total"), 6)
      .as("skew"))

  /** Geometry-drift report: one row per index family (`ivf` seeded,
    * `ivf_fit` fitted, `lsh`), each carrying the as-built sizing
    * parameter, the parameter the CURRENT corpus would be sized to,
    * measured occupancy (occupied buckets/cells, mean, max, skew =
    * max/mean), and the rebuild recommendation:
    *   - lsh: built plane count ≠ corpus-sized plane count (the
    *     artifact is self-describing — built h is read off the bucket
    *     strings themselves, so a primed session reports the
    *     PERSISTED geometry);
    *   - ivf (seeded, fixed k): occupancy skew past [[IvfSkewMax]];
    *   - ivf_fit: fitted cell count ≠ corpus-sized cell count, or
    *     skew past [[IvfSkewMax]].
    * Fully oracled (the fitted-centroid literals resolve at dump time,
    * the q_knn_ivf_fit discipline). */
  def geometryDrift(spark: SparkSession, dir: String,
                    families: Set[String] = Set("lsh", "ivf", "ivf_fit")): DataFrame = {
    // lsh: occupancy of the (possibly primed) bucket index; built h is
    // the bucket-string length — the artifact's own geometry
    def lOcc = Similarity.lshBuckets(spark, dir)
      .groupBy("table_idx", "bucket").agg(count(lit(1)).as("c"))
    // an EMPTY index family (e.g. every vector erased while the
    // artifact file remains) emits NO row rather than a NULL-filled
    // one — division by zero buckets has no cross-engine-stable value
    // and callers read typed columns
    def lAgg = lOcc.groupBy().agg(
      count(lit(1)).cast("long").as("n_buckets"),
      sum("c").cast("long").as("total"),
      max("c").cast("long").as("max_occ"),
      min(length(col("bucket"))).cast("int").as("built_h"))
      .filter(col("total").isNotNull && col("total") > 0)
    def lshRow = lAgg
      .withColumn("n_vecs", expr(s"total div ${Similarity.NumTables}"))
      .select(Seq(
        lit("lsh").as("family"),
        col("built_h").as("built_param"),
        hTargetExpr(col("n_vecs")).as("target_param"),
        col("n_vecs")) ++ occCols :+
          (col("built_h") =!= hTargetExpr(col("n_vecs"))).as("rebuild"): _*)
    // ivf seeded: k is a compile-time constant, so only skew can drift
    def sRow = occAgg(SimilarityIvf.ivfCells(spark, dir)
        .groupBy("cell").agg(count(lit(1)).as("c")))
      .select(Seq(
        lit("ivf").as("family"),
        lit(SimilarityIvf.NumCentroids).as("built_param"),
        lit(SimilarityIvf.NumCentroids).as("target_param"),
        col("total").as("n_vecs")) ++ occCols :+
          (round(col("max_occ").cast("double") * col("n_buckets") / col("total"), 6)
            > IvfSkewMax).as("rebuild"): _*)
    // ivf_fit: the trained quantizer — both the sizing band and the
    // balance can drift. built k comes from the served model (primed
    // artifact wins, exactly like serving); target k from the raw
    // corpus count, corpusK's own input.
    def builtK = SimilarityIvf.fitCentroids(spark, dir).length
    def nRaw = graft.sources.Tables.embeddings(spark, dir)
      .groupBy().agg(count(lit(1)).cast("long").as("n_raw"))
    def fRow = occAgg(SimilarityIvf.ivfCellsFit(spark, dir)
        .groupBy("cell").agg(count(lit(1)).as("c")))
      .crossJoin(nRaw)
      .select(Seq(
        lit("ivf_fit").as("family"),
        lit(builtK).as("built_param"),
        kTargetExpr(col("n_raw")).as("target_param"),
        col("total").as("n_vecs")) ++ occCols :+
          (lit(builtK) =!= kTargetExpr(col("n_raw")) ||
            round(col("max_occ").cast("double") * col("n_buckets") / col("total"), 6)
              > IvfSkewMax).as("rebuild"): _*)
    // families gate which index builds the report touches — a probe or
    // a deployment maintaining only one family must not pay another's
    // fit (ivf_fit's k-means is the expensive one at scale)
    val rows = Seq("lsh" -> (() => lshRow), "ivf" -> (() => sRow),
        "ivf_fit" -> (() => fRow))
      .collect { case (n, f) if families(n) => f() }
    require(rows.nonEmpty, s"geometryDrift: no known family in $families")
    rows.reduce(_.unionByName(_)).orderBy("family")
  }

  /** Ledger naming the vector-corpus size the frozen geometry was
    * FITTED on plus the running count of fitted-era vectors ERASED
    * since — written by writeIndexes/reindexArtifacts (erased restarts
    * at 0), bumped by each eraseDocuments, so the erased fraction
    * accumulates ACROSS calls AND survives interleaved appends: the
    * pre-r16 formulation derived the fraction from the total REMAINING
    * row count, so fitting at 1000, appending 1000 and erasing the
    * entire original 1000 read as 0% erased — 100% of the corpus the
    * frozen quantizers summarize gone with no advice. The explicit
    * erased counter keeps the denominator the fitted corpus and the
    * numerator the erased total, independent of growth. */
  private[graft] val BaselineArtifact = "geometryBaseline.parquet"

  private[operators] def writeGeometryBaseline(spark: SparkSession, dir: String,
                                               indexDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) {
      val stats = spark.read.parquet(p.toString)
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.col("vec_id")))
        .first()
      writeGeometryLedger(spark, indexDir, stats.getLong(0), erased = 0L,
        fitMaxVec = if (stats.isNullAt(1)) -1L else stats.getLong(1))
    }
  }

  /** `fitMaxVec` = the highest vec_id present at fit time (-1 =
    * unknown: empty corpus or a pre-r17 ledger). It is the fitted-ERA
    * membership test for the erased counter: appended vectors carry
    * fresh ids above the boundary (the id-uniqueness discipline every
    * vec_id-keyed artifact already requires), so an erase of
    * post-fit appends must NOT bump the fitted-corpus-erased fraction
    * — fit 1000, append 9000, erase 3000 appended vectors previously
    * read as 300% of the fitted corpus erased and produced spurious
    * reindex advice. */
  private[operators] def writeGeometryLedger(spark: SparkSession,
      indexDir: String, fitted: Long, erased: Long,
      fitMaxVec: Long = -1L): Unit = {
    import spark.implicits._
    Seq((fitted, erased, fitMaxVec)).toDF("n_vecs", "erased", "fit_max_vec")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/$BaselineArtifact")
  }

  /** (fitted corpus size, erased-since-fit total, fit-era id boundary
    * or -1). A pre-r16 ledger file carries only `n_vecs` — its erased
    * counter reads 0; a pre-r17 one lacks the boundary — it reads -1
    * (unknown era, every erased id counts, the conservative side) —
    * and the next write rewrites the full schema. */
  private[operators] def readGeometryLedger(spark: SparkSession,
      indexDir: String): Option[(Long, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$BaselineArtifact")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val df = spark.read.parquet(p.toString)
      val hasErased = df.columns.contains("erased")
      val hasBoundary = df.columns.contains("fit_max_vec")
      df.collect().headOption.map(r =>
        (r.getLong(r.fieldIndex("n_vecs")),
         if (hasErased) r.getLong(r.fieldIndex("erased")) else 0L,
         if (hasBoundary) r.getLong(r.fieldIndex("fit_max_vec")) else -1L))
    }
  }

  private[operators] def readGeometryBaseline(spark: SparkSession,
                                              indexDir: String): Option[Long] =
    readGeometryLedger(spark, indexDir).map(_._1)

  /** In-progress marker for [[Dedup.reindexArtifacts]]'s phase 2: the
    * artifact swaps are per-file renames, so a crash MID-PHASE-2
    * leaves a mixed-generation index in which every file exists — e.g.
    * a new ivfCentroidsFit already swapped in while ivfCellsFit still
    * holds cells assigned under the old centroids. Nothing fails
    * loudly on its own (unlike a missing file), so a session priming
    * that state would silently serve ANN results with collapsed
    * recall. The marker brackets the swap window: written before the
    * first rename, cleared after the last — primeIndexes refuses to
    * prime while it exists, and re-running reindexArtifacts (which
    * rebuilds every artifact from the corpus) is the repair. */
  private[graft] val InProgressMarker = ".reindex-in-progress"

  private[operators] def writeInProgress(spark: SparkSession, indexDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$InProgressMarker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.close()
  }

  private[operators] def clearInProgress(spark: SparkSession, indexDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$InProgressMarker")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  private[graft] def inProgress(spark: SparkSession, indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$InProgressMarker")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Kernel-generation tag for the LSH bucket artifact — the strong
    * form of the r17 "NaN generation" doc note: the builder stamps the
    * kernel generation it bucketed under
    * ([[Similarity.LshKernelGeneration]]) into this sidecar at
    * build/reindex time, and the two verbs that would otherwise mix
    * generations silently (append new rows under the new kernel;
    * prime a session onto an old artifact) compare tags and surface
    * reindex advice on mismatch. An artifact WITHOUT a tag predates
    * the tagging and reads as generation 0 — the conservative side:
    * it may have been written by any kernel, so it is flagged too. */
  private[graft] val KernelTagFile = "lshBuckets.kernel"

  private[operators] def writeKernelTag(spark: SparkSession, indexDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$KernelTagFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"generation=${Similarity.LshKernelGeneration}\n".getBytes("UTF-8"))
    finally out.close()
  }

  private[graft] def readKernelTag(spark: SparkSession, indexDir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$KernelTagFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      txt.linesIterator.find(_.startsWith("generation="))
        .flatMap(_.drop("generation=".length).trim.toIntOption)
    } catch { case _: java.io.IOException => None }
  }

  /** Compare the artifact's kernel tag against the current kernel and
    * surface reindex advice on mismatch — called by appendIndexes and
    * primeIndexes (`verb` names the caller in the log line). A
    * directory without an LSH bucket artifact has nothing to check;
    * results under a mismatched tag are unchanged for finite vectors,
    * so this advises loudly rather than failing. */
  private[operators] def checkKernelTag(spark: SparkSession, indexDir: String,
                                        verb: String): Unit = {
    val buckets = new org.apache.hadoop.fs.Path(s"$indexDir/lshBuckets.parquet")
    val fs = buckets.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(buckets)) return
    val found = readKernelTag(spark, indexDir).getOrElse(0)
    if (found != Similarity.LshKernelGeneration) {
      System.err.println(
        s"[$verb] WARNING: $indexDir/lshBuckets.parquet was written by bucket-kernel " +
          s"generation $found (current ${Similarity.LshKernelGeneration}) — non-finite " +
          "vectors bucket differently across generations; run " +
          "Dedup.reindexArtifacts before appending or probing such a corpus")
      // The read-mostly verbs (prime, append) must not clobber a
      // DISTINCT outstanding recommendation (e.g. erased-fraction) with
      // this one — the marker is single-row, so persist only when no
      // advice exists yet; an existing kernel-generation row is simply
      // refreshed-by-equivalence. And the whole persist is best-effort:
      // a prime onto a read-only/shared index mount should degrade to
      // the stderr warning above, not throw where it used to succeed.
      try {
        val existing = readAdvice(spark, indexDir)
        if (existing.isEmpty || existing.exists(_._1 == "kernel-generation"))
          writeAdvice(spark, indexDir, "kernel-generation", found.toDouble)
      } catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[$verb] note: could not persist kernel-generation advice under " +
            s"$indexDir (${e.getClass.getSimpleName}) — the warning above still stands")
      }
    }
  }

  /** Write the advice marker under `indexDir` — one row naming why a
    * re-index is recommended. Flat layout (it is an operational flag,
    * not a batch-appended index). */
  private[operators] def writeAdvice(spark: SparkSession, indexDir: String,
                                     reason: String, detail: Double): Unit = {
    import spark.implicits._
    Seq((reason, detail, true)).toDF("reason", "detail", "recommended")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/$AdviceArtifact")
    System.err.println(
      f"[reindex] ADVICE written to $indexDir/$AdviceArtifact: $reason ($detail%.4f) — " +
        "run Dedup.reindexArtifacts to re-fit the frozen index geometry")
  }

  /** Read the advice marker, if present — empty means no outstanding
    * recommendation. */
  def readAdvice(spark: SparkSession, indexDir: String): Option[(String, Double)] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$AdviceArtifact")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else spark.read.parquet(p.toString).select("reason", "detail").collect()
      .headOption.map(r => (r.getString(0), r.getDouble(1)))
  }

  /** Drop the advice marker — the rebuild that resolves it has run. */
  private[operators] def clearAdvice(spark: SparkSession, indexDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$AdviceArtifact")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** Side report for the online-serving heads: what the advice marker
  * said the last time each index directory served. The serving heads
  * (Similarity.annServeBatch*) consult [[Reindex.readAdvice]] per call
  * and record here —
  * results are unchanged, but a deployment serving on an index its own
  * monitor has flagged stale gets a loud log line plus a queryable
  * flag instead of silently degraded recall. */
object ServeStatus {
  private val last =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Double)]()

  private[operators] def record(indexDir: String,
                                advice: Option[(String, Double)]): Unit =
    advice match {
      case Some(a) =>
        last.put(indexDir, a)
        System.err.println(
          f"[annServe] WARNING: serving on index $indexDir flagged stale " +
            f"(reason=${a._1}, detail=${a._2}%.4f) — results are served on the " +
            "frozen geometry; run Dedup.reindexArtifacts to restore recall")
      case None => last.remove(indexDir)
    }

  /** The advice in force at this index directory's most recent serve —
    * empty means the last serve ran on an unflagged index. */
  def lastAdvice(indexDir: String): Option[(String, Double)] =
    Option(last.get(indexDir))
}
