package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.sources.Tables

/** Deduplication operators for LLM training-data pipelines (SURVEY.md
  * §2.12 E1/E2): exact dedup, n-gram Jaccard near-dup, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup — over `documents` and
  * `embeddings`.
  *
  * Scale posture (100 TB):
  *  - Exact dedup is one hash aggregation on the normalized-text key —
  *    map-side partial combine, no driver state.
  *  - Jaccard candidates come from an INVERTED-INDEX join (explode
  *    shingles, equi-join on the shingle) — never an all-pairs cross
  *    join. The shuffle is keyed on the shingle, so co-occurring docs
  *    meet in one partition; shingles above a document-frequency
  *    threshold (boilerplate shared by everything — O(df²) pairs
  *    each) degrade to star pairs against the shingle-group minimum
  *    (O(df), exact-intersection scored), and what skew remains is an
  *    AQE skew-join case.
  *  - MinHash compresses each doc to a k-int signature *before* any
  *    shuffle: the candidate join moves k longs per doc instead of the
  *    full shingle set. Banding (b bands of r rows) tunes the
  *    recall/precision knee: P(candidate) = 1-(1-j^r)^b.
  *  - SimHash compresses to 64 bits; the 4×16-bit chunk join finds all
  *    pairs within Hamming distance 3 by pigeonhole without comparing
  *    all pairs.
  *  - All hash arithmetic is xxhash64/md5 + integer ops inside
  *    whole-stage codegen; no Scala UDFs.
  *
  * Oracle posture: exact dedup, Jaccard pairs, edit-distance pairs,
  * and embedding-cosine pairs are DuckDB-verified. MinHash/SimHash
  * outputs depend on
  * Spark's xxhash64 (no DuckDB twin), so they are declared rows-only
  * for the driver and pinned by ScalaTest fixtures instead
  * (DedupSpec): estimates converge to true Jaccard, candidates are a
  * superset of high-similarity pairs, SimHash Hamming distance is 0
  * for identical docs.
  */
object Dedup {

  private def toks(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Distinct word 3-gram shingles over an ALREADY-STAGED token-array
    * column. The token column must be a bound attribute (own
    * projection), never the raw split expression: the slice lambda
    * references it once per position, and Catalyst would inline a
    * split() per shingle — quadratic in document length (measured 6×
    * on the shingle stage). */
  private def shingleArray(t: Column): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(t) - 2, lit(1))),
      i => concat_ws(" ", slice(t, i, lit(3)))))

  /** Shingle set of a raw text column in one expression tree — the
    * batch docShingles pipeline without its checkpoint stages, using
    * the same lambda-variable binding as minhashOfText (the token
    * array is bound once; CollapseProject cannot inline through a
    * higher-order-function lambda). For batch-sized inputs (index
    * appends, streams) where a memoized checkpoint would be waste. */
  private def shingleOfText(text: Column): Column =
    element_at(transform(array(toks(text)), t => shingleArray(t)), 1)

  /** House checkpoint for session-resident index state: eager
    * localCheckpoint at MEMORY_AND_DISK_SER. The default level stores
    * one UnsafeRow object per row; a multi-million-row shingle or
    * signature table then costs the old generation millions of live
    * objects and every query in the session pays the GC scans
    * (measured at a 10× docs tier: q_dedup_canonical 148 s in-session
    * vs 4.7 s served from parquet — the gap was heap thrash, not
    * compute). Serialized storage packs each partition into a handful
    * of byte buffers: same lineage-truncation semantics, ~zero GC
    * residency, a small per-access deserialization cost the index
    * access patterns (build once, scan a few times) never notice. */
  private[graft] def checkpointSer(df: DataFrame): DataFrame = {
    // RELIABLE mode (spark.graft.checkpointDir set): a filesystem
    // checkpoint instead of the session-resident localCheckpoint.
    // localCheckpoint truncates lineage into executor-held blocks, so
    // at cluster scale an executor loss mid-iteration KILLS the query
    // (nothing to recompute from); the reliable variant writes the
    // rows to the shared checkpoint dir and an executor loss re-reads
    // files. The cost is one write + per-access reads against the
    // checkpoint store — the fault-tolerance tradeoff a 1000-executor
    // run takes and a local[32] bench doesn't. The caller owns the
    // dir's lifecycle (set spark.cleaner.referenceTracking
    // .cleanCheckpoints=true to reap with GC).
    val ckDir = df.sparkSession.conf.get("spark.graft.checkpointDir", "")
    if (ckDir.nonEmpty) {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(ckDir)
      // persist BEFORE the eager checkpoint: Dataset.checkpoint runs
      // the count job and THEN writes the files in a second job that
      // would otherwise recompute the whole un-persisted plan — a
      // silent 2× of the dominant index-build cost (the ColumnBridge
      // reliable path got this right from the start). The cache is
      // dropped once the files are down; per-access reads then come
      // from the checkpoint store, the documented reliable semantics.
      val cached = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try cached.checkpoint(true) finally cached.unpersist()
    } else df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }

  /** Session-scoped cache of materialized signature/index tables —
    * the engine's equivalent of a database index: MinHash, Jaccard,
    * and the corpus-cleaning pipeline all need the same shingle
    * index, and rebuilding it per query wastes the dominant cost.
    * Keyed by (session, dir); entries are small checkpointed tables.
    * At 100 TB these are parquet-staged index tables maintained
    * alongside the corpus. */
  private val indexCache =
    graft.sources.SessionSweep.scoped(new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())

  /** Persistent-RDD ids held by each memoized entry (and by loose
    * iteration state registered via trackStray), so releaseIndexes can
    * free the block-manager storage, not just drop the references.
    * A dropped reference alone leaves the checkpoint blocks resident
    * until the session dies — at 32 concurrent tasks that turns into
    * steady heap growth and a GC-bound session (the round-3 bench ran
    * 2× slower for exactly this reason). */
  private val indexRdds =
    graft.sources.SessionSweep.scoped(new java.util.concurrent.ConcurrentHashMap[String, Set[Int]]())

  /** Eager localCheckpoint that also reports the persistent-RDD ids it
    * registered, so the caller can free the blocks once the table is
    * superseded. (Dataset.unpersist does not release checkpoint blocks
    * — they live on the RDD, not in the CacheManager.) The ids are
    * read directly off the returned plan's LogicalRDD leaf (exact
    * attribution even with concurrent jobs persisting their own RDDs);
    * the before/after diff is only the fallback for a plan shape with
    * no visible LogicalRDD. */
  private[operators] def trackedCheckpoint(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = checkpointSer(df)
    val exact = org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRddIds(out)
    val ids = if (exact.nonEmpty) exact
              else sc.getPersistentRDDs.keySet.toSet -- before
    (out, ids)
  }

  /** Free the block-manager storage behind previously tracked
    * checkpoint ids. Safe to call twice (unpersist is idempotent). */
  private[operators] def unpersistIds(spark: SparkSession, ids: Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Collision-free per-session cache-key prefix: a UUID assigned on
    * first use, held weakly so a dropped session's entry can be
    * collected — and, since r20, so a collected session's entries are
    * PURGED from every scoped cache (SessionSweep). identityHashCode
    * (the old key) carries no uniqueness guarantee, so two
    * concurrently live sessions in one JVM could in principle serve
    * each other's memoized index tables or fitted quantizer —
    * wrong-session state with no error. */
  private[operators] def sessionKey(spark: SparkSession): String =
    graft.sources.SessionSweep.key(spark)

  /** Register loose (non-memoized) checkpoint ids — e.g. the final
    * label table of an iterative job — for release with the rest of
    * the session's index state. */
  private[operators] def trackStray(spark: SparkSession, ids: Set[Int]): Unit = {
    val k = s"${sessionKey(spark)}|stray"
    indexCache.synchronized {
      val prev = Option(indexRdds.get(k)).getOrElse(Set.empty)
      indexRdds.put(k, prev ++ ids)
    }
  }

  /** Per-key build monitors: two threads building DIFFERENT artifacts
    * proceed concurrently (writeIndexes runs independent builder
    * chains in parallel), two building the SAME key serialize, and a
    * nested build (shingleIndex builds docShingles) just takes a
    * second monitor — no lock ordering issue because the nesting
    * relation is acyclic (an artifact only builds its upstreams). */
  private val keyLocks =
    graft.sources.SessionSweep.scoped(new java.util.concurrent.ConcurrentHashMap[String, Object]())

  /** Double-checked get/build under a PER-KEY re-entrant monitor — NOT
    * computeIfAbsent: index builds nest (shingleIndex builds
    * docShingles), and a nested computeIfAbsent on the same map throws
    * "Recursive update"; not a global lock: that would serialize every
    * concurrent independent build. */
  private[operators] def memo(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = s"${sessionKey(spark)}|$key"
    val hit = indexCache.get(k)
    if (hit != null) hit
    else keyLocks.computeIfAbsent(k, _ => new Object).synchronized {
      val again = indexCache.get(k)
      if (again != null) again
      else {
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val df = build
        // exact ownership: every memo build returns a checkpointed
        // table, so its LogicalRDD leaves name the blocks this entry
        // owns (nested builds registered their own under their own
        // keys). The before/after diff is only the fallback — it can
        // over-attribute under concurrent builds, which at worst
        // releases a sibling's blocks early (they rebuild on demand).
        val exact = org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRddIds(df)
        val ids = if (exact.nonEmpty) exact
                  else spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
        indexCache.put(k, df)
        indexRdds.put(k, ids)
        df
      }
    }
  }

  /** Release every index table this session has materialized: drop the
    * memo entries AND unpersist their checkpoint blocks. The library's
    * eviction API — a long-lived session that sweeps many directories
    * (or a bench harness moving between operator families) calls this
    * at the boundary; the next query transparently rebuilds what it
    * needs. Nested entries may share ids; unpersist is idempotent.
    *
    * INVALIDATION CONTRACT: releasing frees the block-manager storage
    * that memoized DataFrames are built on, so any still-held reference
    * to a DataFrame previously returned by an index-backed operator
    * (jaccardPairs, minhashLsh, annLsh, …) is invalid after this call —
    * its next action fails with block-not-found rather than rebuilding
    * (a localCheckpoint truncates lineage; there is nothing to recompute
    * from). Call releaseIndexes only at a boundary where no results from
    * this session's index-backed queries are still live, and re-obtain
    * DataFrames through the API afterwards — the memo rebuilds on first
    * use. Tables primed from parquet (primeIndexes) are exempt: their
    * storage is the file, and release only drops the cache entry. */
  def releaseIndexes(spark: SparkSession): Unit = indexCache.synchronized {
    import scala.jdk.CollectionConverters._
    val prefix = s"${sessionKey(spark)}|"
    val keys = (indexCache.keySet.asScala ++ indexRdds.keySet.asScala)
      .filter(_.startsWith(prefix)).toList
    keys.foreach { k =>
      indexCache.remove(k)
      Option(indexRdds.remove(k)).foreach(unpersistIds(spark, _))
    }
    primedDirs.keySet.asScala.filter(_.startsWith(prefix)).toList
      .foreach(primedDirs.remove)
    // derived star caps are corpus observations — a release boundary
    // (family switch, post-append re-prime) must re-derive them
    capCache.keySet.asScala.filter(_.startsWith(prefix)).toList
      .foreach(capCache.remove)
  }

  /** Which index directory a corpus dir was primed from — recorded by
    * primeIndexes, living exactly as long as the primed memos. The
    * online-serving heads use it to consult the directory's
    * reindex-advice marker: a serve on an index the engine itself has
    * flagged stale must DISCLOSE that (log + ServeStatus side report)
    * instead of silently returning degraded-recall results. */
  private val primedDirs =
    graft.sources.SessionSweep.scoped(new java.util.concurrent.ConcurrentHashMap[String, String]())
  private[graft] def primedIndexDir(spark: SparkSession, dir: String): Option[String] =
    Option(primedDirs.get(s"${sessionKey(spark)}|$dir"))

  /** Seed the memo cache with an externally materialized table (e.g. a
    * parquet-backed index loaded by primeIndexes) — no checkpoint ids
    * to track, the storage is the file. */
  private[graft] def memoPut(spark: SparkSession, key: String, df: DataFrame): Unit =
    indexCache.synchronized {
      indexCache.put(s"${sessionKey(spark)}|$key", df)
    }

  /** Peek at a memo entry without building — lets a driver-side model
    * load (SimilarityIvf.fitCentroids) serve from a primed parquet
    * artifact instead of refitting. */
  private[operators] def memoGet(spark: SparkSession, key: String): Option[DataFrame] =
    Option(indexCache.get(s"${sessionKey(spark)}|$key"))

  /** The engine's materializable index artifacts: name → builder. The
    * name doubles as the memo-key prefix and the parquet directory
    * name under the index root. */
  private def indexBuilders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "docShingles" -> (docShingles(_, _)),
    "shingleIndex" -> (shingleIndex(_, _)),
    "jaccardPairs" -> (jaccardPairTable(_, _)),
    "minhashSigs" -> (minhashSignatures(_, _)),
    "minhashBands" -> (minhashBandTable(_, _)),
    "simhashTable" -> (simhashDocs(_, _)),
    "embBase" -> ((s, d) => Similarity.embBase(s, d)),
    "lshBuckets" -> ((s, d) => Similarity.lshBuckets(s, d)),
    "ivfCells" -> ((s, d) => SimilarityIvf.ivfCells(s, d)),
    "ivfCentroidsFit" -> ((s, d) => SimilarityIvf.centroidTable(s, d)),
    "ivfCellsFit" -> ((s, d) => SimilarityIvf.ivfCellsFit(s, d)),
    // the recall-tuned probe budget (k, nprobe) — the serving knob the
    // ladder walk chose under ivfCentroidsFit; persisting it makes the
    // tune train-once like the quantizer instead of per-session
    "ivfProbeTuned" -> ((s, d) => SimilarityIvf.probeTunedTable(s, d)),
    // the LSH twin: the recall-tuned Hamming probe radius (k, radius)
    "lshProbeTuned" -> ((s, d) => Similarity.lshProbeTunedTable(s, d)),
    // the PQ twin: the recall-tuned ADC rerank shortlist size (k, cands)
    "pqRerankTuned" -> ((s, d) => SimilarityPq.rerankTunedTable(s, d)),
    // PQ model (train-once, M·K rows) + per-vector code table — the
    // compressed-domain ANN pair (codes are 64× smaller than vectors)
    "pqCodebooksFit" -> ((s, d) => SimilarityPq.codebookTable(s, d)),
    "pqCodes" -> ((s, d) => SimilarityPq.pqCodes(s, d)),
    // int8 scalar-quantized code table — the 4×-smaller representation
    // knnSq8 serves; scale is per-vector, so appends decompose row-wise
    "sq8Codes" -> ((s, d) => Similarity.sq8Codes(s, d)),
    "bpeMergesFit" -> ((s, d) => BpeFit.mergesTable(s, d)),
    // the tokenized-corpus materializations (whitespace + subword) —
    // what a training pipeline persists next to the raw text so every
    // budget/chunk/mix job shares one tokenization pass
    "curationToks" -> ((s, d) => Curation.docToks(s, d)),
    "curationBpeToks" -> ((s, d) => Curation.docBpeToks(s, d)),
    // per-label centroid model (labels × dim rows, tiny)
    "labelCentroids" -> ((s, d) => Similarity.centroidTable(s, d)),
    // converged dup-cluster labels — the cluster-RESOLUTION artifact
    // (docs incident to a dup edge only, tiny next to the corpus);
    // derived from the pair table, so rebuildPairTable re-derives it
    "clusterLabels" -> ((s, d) => clusterLabels(s, d)),
    // the transaction-graph edge table (orders ⋈ lineitem, both
    // directions, out-weight fractions) — scanned PrIters times per
    // PageRank run, so primed columnar serving matters most here;
    // re-derived wholesale by the index job, never appended (it
    // derives from the relational tables, not doc/embedding batches)
    "graphEdgeFracs" -> ((s, d) => Graph.edgeFracs(s, d)),
    // the TextRank word co-occurrence graph — corpus-global aggregate
    // over the tokenized corpus (the labelCentroids posture: appends
    // re-derive it wholesale from the appended token artifact)
    "wordGraph" -> ((s, d) => TextAnalysis.wordGraph(s, d)),
    // the distilled quality classifier (multinomial NB trained on the
    // rule-filter labels) — vocabulary-sized model table, corpus-global
    // aggregate: appends re-derive it wholesale like wordGraph
    "nbQualityModel" -> ((s, d) => TextAnalysis.nbQualityModel(s, d)))

  /** Builder names that read the relational (orders/lineitem) tables —
    * skipped when the corpus directory has none (document-only spec
    * fixtures). */
  private val relationalArtifacts = Set("graphEdgeFracs")

  private def hasOrders(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/orders.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Builder names that read the embeddings table — skipped when a
    * corpus has no embeddings (`withEmbeddings = false`). */
  private val embeddingArtifacts =
    Set("embBase", "lshBuckets", "ivfCells", "ivfCentroidsFit", "ivfCellsFit",
      "ivfProbeTuned", "lshProbeTuned", "pqRerankTuned", "pqCodebooksFit",
      "pqCodes", "sq8Codes", "labelCentroids")

  /** Materialize every index artifact for `dir` as parquet under
    * `indexDir` — the 100 TB posture made literal: the shingle /
    * signature / pair / ANN-bucket indexes are maintained artifacts
    * alongside the corpus, built once by an index job, not rebuilt by
    * every analysis session. (A corpus without an `embeddings` table
    * can pass `withEmbeddings = false`.)
    *
    * Artifacts are laid out Hive-partitioned by ingest batch — this
    * build writes each artifact's rows under `batch_id=base`, and
    * `appendIndexes` with a batch id adds `batch_id=<id>` directories
    * — so a retried append can overwrite ITS OWN directory instead of
    * double-appending rows. Each directory is a plain non-partitioned
    * write (an EMPTY artifact then still carries a schema-bearing
    * file; `partitionBy` of zero rows would leave a schemaless dir no
    * reader can open). The inferred `batch_id` partition column is an
    * internal layout detail: `primeIndexes` drops it, so index
    * readers see the original artifact schemas. */
  /** Builder dependency chains: artifacts in one chain derive from
    * each other (strict order); DIFFERENT chains are independent and
    * the index job runs them CONCURRENTLY — the shingle→pair chain
    * dominates the build wall, and serializing the minhash / simhash /
    * embedding / tokenizer builds behind it measured 1.6× the
    * parallel-chain wall at sf0.1. (ivfCellsFit reads embBase via the
    * memo, which per-key-locks across chains, so the cross-chain
    * dependency is safe — whichever thread arrives first builds it.) */
  private def builderChains: Seq[Seq[String]] = Seq(
    Seq("docShingles", "shingleIndex", "jaccardPairs", "clusterLabels"),
    Seq("minhashSigs", "minhashBands"),
    Seq("simhashTable"),
    Seq("embBase", "lshBuckets", "ivfCells"),
    Seq("ivfCentroidsFit", "ivfCellsFit", "ivfProbeTuned"),
    // its ground-truth leg and bucket reads ride the memo (per-key
    // locks make the cross-chain embBase/lshBuckets builds safe), so
    // the tune walk runs as its own concurrent chain
    Seq("lshProbeTuned"),
    Seq("pqCodebooksFit", "pqCodes", "pqRerankTuned"),
    Seq("sq8Codes"),
    Seq("bpeMergesFit"),
    Seq("curationToks", "wordGraph"),
    // one documents scan + a vocab-sized agg — its own chain so the
    // train rides concurrently with the token/band builders
    Seq("nbQualityModel"),
    Seq("curationBpeToks"),
    Seq("labelCentroids"),
    Seq("graphEdgeFracs"))

  def writeIndexes(spark: SparkSession, dir: String, indexDir: String,
                   withEmbeddings: Boolean = true): Unit =
    IndexLease.withExclusive(spark, indexDir, s"writeIndexes:$dir") {
      val names = indexBuilders.map(_._1)
      // every builder must belong to exactly one chain — a new artifact
      // added to indexBuilders but not to a chain would silently never
      // be written
      require(builderChains.flatten.sorted == names.sorted,
        s"builderChains out of sync with indexBuilders: ${builderChains.flatten.sorted} vs ${names.sorted}")
      // Builders with a PLAN variant skip the session checkpoint and
      // write straight to parquet — the build's two most expensive
      // artifacts paid checkpoint-serialize + parquet-encode double
      // materialization (~9 of jaccardPairs' 16 CPU-s at sf0.1). After
      // the write the memo is re-pointed at the files (exactly what
      // primeIndexes would do), so same-chain downstream builders
      // (clusterLabels, graphEdgesBySrc) serve from the artifact. The
      // returned scratch ids (internal scaffold checkpoints) are freed
      // once the write lands.
      // Eligibility: a builder joins this map when its plan has no
      // internal iteration/staging AND nothing in a SIBLING chain
      // consumes its memo entry mid-build (docShingles / curationToks /
      // embBase / lshBuckets stay on the memo path — concurrent
      // cross-chain consumers share their single checkpointed build
      // through the per-key lock, which a raw build would bypass into
      // duplicate computation).
      def noScratch(f: (SparkSession, String) => DataFrame)
          : (SparkSession, String) => (DataFrame, Set[Int]) =
        (s, d) => (f(s, d), Set.empty[Int])
      val rawBuilders: Map[String, (SparkSession, String) => (DataFrame, Set[Int])] = Map(
        "jaccardPairs" -> noScratch(jaccardPairPlan),
        "shingleIndex" -> noScratch(shingleIndexPlan),
        "minhashSigs" -> noScratch(minhashSigsPlan),
        "minhashBands" -> noScratch(minhashBandsPlan),
        "simhashTable" -> noScratch(simhashPlan),
        "sq8Codes" -> noScratch((s, d) => Similarity.sq8CodesPlan(s, d)),
        "curationBpeToks" -> noScratch((s, d) => Curation.docBpeToksPlan(s, d)),
        "wordGraph" -> noScratch((s, d) => TextAnalysis.wordGraphPlan(s, d)),
        "nbQualityModel" -> noScratch((s, d) => TextAnalysis.nbQualityModelPlan(s, d)))
      def writeOne(name: String): Unit = {
        val t0 = System.nanoTime()
        val p = new org.apache.hadoop.fs.Path(s"$indexDir/$name.parquet")
        // a rebuild must not leave a previous generation's batch
        // directories behind the fresh base
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        // tag every job this builder submits (thread-local, inherited
        // by the build + write jobs) so a listener can attribute task
        // CPU per ARTIFACT — the concurrent chains make wall time
        // useless for cost attribution, and a 3× build-CPU growth was
        // unexplainable in round 12 for exactly that reason. Nested
        // cross-chain memo builds (ivfCellsFit building embBase first)
        // bill to whichever artifact's thread arrives first — disclosed
        // semantics, same as the memo's ownership rule.
        spark.sparkContext.setJobDescription(s"graft-index:$name")
        try {
          if (name == "graphEdgeFracs")
            // single-pass writer for BOTH edge artifacts: the bucketed
            // by-src table pays the one join+shuffle+sort+encode pass;
            // the flat artifact is a shuffle-free coalesce re-encode of
            // those files into the consumer-sized scan geometry (no
            // separate graphEdgesBySrc build step in this chain)
            Graph.writeEdgeArtifacts(spark, dir, indexDir)
          else rawBuilders.get(name) match {
            case Some(rb) =>
              // an entry a sibling chain already materialized (nested
              // cross-chain memo build) is cheaper to dump than the
              // raw plan is to recompute — prefer it when present
              val (plan, scratch) = memoGet(spark, s"$name|$dir") match {
                case Some(df) => (df, Set.empty[Int])
                case None => rb(spark, dir)
              }
              plan.write.mode("overwrite")
                .parquet(s"$indexDir/$name.parquet/batch_id=base")
              unpersistIds(spark, scratch)
              memoDrop(spark, s"$name|$dir")
              memoPut(spark, s"$name|$dir",
                spark.read.parquet(s"$indexDir/$name.parquet").drop("batch_id"))
            case None =>
              byName(name)(spark, dir).write.mode("overwrite")
                .parquet(s"$indexDir/$name.parquet/batch_id=base")
          }
        } finally spark.sparkContext.setJobDescription(null)
        // operational visibility: which artifact the index job spends
        // its time on (scheduling input for the maintenance window)
        System.err.println(
          f"[writeIndexes] $name%-16s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
      // stale derived caps from an earlier prime of the same corpus
      // must not leak into the fresh derivations below
      capCache.keySet().removeIf(
        (k: String) => k.startsWith(s"${sessionKey(spark)}|") && k.endsWith(s"|$dir"))
      val relational = hasOrders(spark, dir)
      val chains = builderChains
        .map(_.filter(n => (withEmbeddings || !embeddingArtifacts(n)) &&
          (relational || !relationalArtifacts(n))))
        .filter(_.nonEmpty)
      // every chain runs concurrently (minimum build WALL — each
      // chain's tasks fill the scheduler gaps of the others)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(chains.length)
      try {
        import scala.jdk.CollectionConverters._
        val tasks = chains.map { chain =>
          new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              chain.foreach(writeOne)
              // derived-cap geometry rides each family's chain so the
              // derivation aggregations overlap the sibling builds
              // (serialized after the pool they added ~1.5 s of wall);
              // writeStarCaps below finds the values session-cached
              if (chain.contains("shingleIndex")) shingleStarCap(spark, dir)
              if (chain.contains("minhashBands")) bandStarCap(spark, dir)
              if (chain.contains("simhashTable")) chunkStarCap(spark, dir)
              if (withEmbeddings && chain.contains("lshBuckets")) {
                bucketStarCap(spark, dir)
                labelBlockCap(spark, dir)
              }
              // (the bucketed by-src layout is written inside the
              // graphEdgeFracs builder itself since r18 — one pass
              // produces both edge artifacts)
            }
          }
        }
        // invokeAll waits for all; surface the first failure (the
        // others' results are still drained so no thread leaks)
        pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
      } finally pool.shutdown()
      // a rebuild always restates the caps for the rebuilt corpus
      // (values derived inside the chains above; this just writes)
      spark.sparkContext.setJobDescription("graft-index:starCaps")
      try writeStarCaps(spark, dir, indexDir, withEmbeddings)
      finally spark.sparkContext.setJobDescription(null)
      // a full rebuild re-derives every geometry from the current
      // corpus — any outstanding re-index recommendation is resolved,
      // and the erased-fraction ledger restarts at this corpus size.
      // A crashed reindex's in-progress marker resolves too — but ONLY
      // when the embedding family (the artifacts that marker brackets)
      // was actually rebuilt here.
      Reindex.clearAdvice(spark, indexDir)
      if (withEmbeddings) {
        Reindex.clearInProgress(spark, indexDir)
        Reindex.writeGeometryBaseline(spark, dir, indexDir)
        // the fresh bucket artifact was written by the current kernel —
        // stamp its generation so append/prime can detect a future
        // kernel bump mechanically
        Reindex.writeKernelTag(spark, indexDir)
      }
    }

  /** Name → builder lookup over [[indexBuilders]] — shared by the
    * index-job writer and the corpus-global re-derive path. */
  private lazy val byName: Map[String, (SparkSession, String) => DataFrame] =
    indexBuilders.toMap

  /** Per-artifact re-derive serialization (same-JVM shared-lease
    * appenders; see [[rederiveCorpusGlobal]]). */
  private val rederiveLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Drop (and unpersist) one memo entry — the targeted version of
    * releaseIndexes, for maintenance jobs that invalidate a single
    * derived artifact. */
  private[graft] def memoDrop(spark: SparkSession, key: String): Unit = indexCache.synchronized {
    val k = s"${sessionKey(spark)}|$key"
    indexCache.remove(k)
    Option(indexRdds.remove(k)).foreach(unpersistIds(spark, _))
  }

  /** Append a new ingest batch to previously written index artifacts
    * WITHOUT rebuilding them from the full corpus — the on-disk
    * complement of incrementalNearDups. `docPredicate` selects the
    * batch's rows of the documents table (pushed down to the scan, so
    * only the batch's row groups are read); `embPredicate`, when
    * given, selects the batch's rows of the embeddings table.
    *
    * Per-document artifacts (shingles, inverted shingle index, MinHash
    * signatures and bands, SimHash fingerprints, embedding base and
    * LSH buckets) decompose row-wise: the batch's rows are computed at
    * batch size — via the same lambda-bound single-expression staging
    * the streaming path uses, no checkpoint residency — and appended.
    * The candidate-pair table does NOT decompose (shingle document
    * frequencies and star minima are corpus-global), so it is
    * re-derived — but from the just-appended parquet shingle
    * artifacts, never by re-shingling corpus text: the full-corpus
    * text scan is exactly what an append skips.
    *
    * Carries releaseIndexes' invalidation contract: on return the
    * session cache serves every artifact from the updated parquet, and
    * previously returned index-backed DataFrames are invalid.
    * IndexPersistenceSpec pins append-then-read equal to a full
    * rebuild, artifact by artifact.
    *
    * Retry semantics are governed by `batchId`. With a batch id (what
    * an operational ingest pipeline should pass — e.g. Structured
    * Streaming's foreachBatch micro-batch id, which exists precisely
    * to key idempotent sinks), the batch's rows land in the artifact's
    * `batch_id=<id>` directory via mode-overwrite on THAT directory
    * alone: a retried append — same id — REPLACES its own directory,
    * so a failure partway (some artifacts appended, some not)
    * converges to the consistent state on re-run instead of
    * double-appending rows (duplicate shingle rows would silently
    * inflate `n_common` in the re-derived pair table). `base` is
    * reserved for writeIndexes. WITHOUT a batch id the append is a
    * plain row append (into a shared `batch_id=unbatched` directory)
    * under a single-successful-run contract: a partial failure or a
    * retry duplicates the batch's rows — recover by rewriting the
    * index (writeIndexes) — so bare appends belong in manual
    * maintenance, not automated pipelines. A batch-id append requires
    * the batch-directory layout writeIndexes has produced since
    * round 6; legacy flat artifacts fail fast rather than mixing
    * layouts (flat data files next to batch directories would break
    * partition discovery for every reader). */
  def appendIndexes(spark: SparkSession, dir: String, indexDir: String,
                    docPredicate: Column,
                    embPredicate: Option[Column] = None,
                    rebuildPairs: Boolean = true,
                    batchId: Option[String] = None): Unit = {
    batchId.foreach(id => require(
      id.matches("[A-Za-z0-9._-]+") && id != "base" && id != "unbatched",
      s"appendIndexes: batchId '$id' must be a [A-Za-z0-9._-]+ directory name " +
        "other than the reserved 'base' (the writeIndexes build) and " +
        "'unbatched' (the shared bare-append directory — a keyed overwrite " +
        "there would wipe every previously bare-appended row)"))
    IndexLease.withShared(spark, indexDir,
      s"append-${batchId.getOrElse("unbatched")}") {
      appendIndexesHoldingMarker(spark, dir, indexDir, docPredicate,
        embPredicate, rebuildPairs, batchId)
    }
  }

  private def appendIndexesHoldingMarker(
      spark: SparkSession, dir: String, indexDir: String,
      docPredicate: Column, embPredicate: Option[Column],
      rebuildPairs: Boolean, batchId: Option[String]): Unit = {
    // fail BEFORE any write: appending under a crashed reindex's
    // mixed-generation artifacts would bucket the batch under whichever
    // generation each file happens to hold (and the internal re-prime
    // below would throw anyway — but only after the batch landed)
    require(!Reindex.inProgress(spark, indexDir),
      s"appendIndexes: $indexDir/${Reindex.InProgressMarker} present — a geometry " +
        "re-index crashed mid-swap; re-run Dedup.reindexArtifacts before appending.")
    // mixed-KERNEL detection (the mechanical form of the r17 doc note):
    // appending rows bucketed by the current kernel onto an artifact a
    // previous kernel generation wrote silently mis-buckets non-finite
    // vectors — advise loudly before the batch lands
    Reindex.checkKernelTag(spark, indexDir, "appendIndexes")
    val hconf = spark.sparkContext.hadoopConfiguration
    // the persisted derived-cap geometry is an OBSERVATION of the
    // pre-append corpus — drop it so post-append sessions re-derive
    // from the appended artifacts instead of serving stale caps
    // (writeIndexes / the next full rebuild restates it)
    new org.apache.hadoop.fs.Path(s"$indexDir/$StarCapsArtifact")
      .getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(s"$indexDir/$StarCapsArtifact"), true)
    def isBatchPartitioned(name: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$name.parquet")
      val fs = p.getFileSystem(hconf)
      fs.exists(p) && fs.listStatus(p)
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
    }
    def append(df: DataFrame, name: String): Unit = {
      val path = s"$indexDir/$name.parquet"
      // BOTH layouts guard per artifact: a bare append onto a partial
      // layout (say simhashTable missing) must fail fast, not silently
      // create a batch-only artifact the next primed session trusts
      requireArtifact(name)
      batchId match {
        case Some(id) =>
          require(isBatchPartitioned(name),
            s"appendIndexes: batchId given but $name.parquet has the legacy flat layout — " +
              "rewrite it with writeIndexes (batch-directory layout) or append without a batchId")
          df.write.mode("overwrite").parquet(s"$path/batch_id=$id")
        case None =>
          if (isBatchPartitioned(name))
            df.write.mode("append").parquet(s"$path/batch_id=unbatched")
          else df.write.mode("append").parquet(path)
      }
    }
    // Fail fast when the base artifacts were never written: appending
    // into a missing artifact would silently CREATE a batch-only index
    // (old corpus rows absent) that every downstream probe would trust.
    def artifactExists(name: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$name.parquet")
      p.getFileSystem(hconf).exists(p)
    }
    def requireArtifact(name: String): Unit =
      require(artifactExists(name),
        s"appendIndexes: artifact $name.parquet missing under $indexDir — " +
          "run writeIndexes first; an append cannot seed an index")
    requireArtifact("docShingles")
    embPredicate.foreach(_ => requireArtifact("embBase"))
    val (batch, batchIds) = trackedCheckpoint(
      Tables.documents(spark, dir).filter(docPredicate)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars")))
    val sh = batch.select(col("doc_id"), shingleOfText(col("text")).as("sh"))
    append(sh, "docShingles")
    append(sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("shingle")), "shingleIndex")
    val sigs = batch.select(col("doc_id"), minhashOfText(col("text")).as("sig"))
    append(sigs, "minhashSigs")
    append(sigs.select(col("doc_id"),
      posexplode(bandHashes(col("sig"))).as(Seq("band_idx", "band_hash"))), "minhashBands")
    append(simhashTableOf(batch), "simhashTable")
    // tokenized-corpus artifacts decompose row-wise like the shingles
    append(Curation.docToksOf(batch), "curationToks")
    append(Curation.docBpeToksOf(batch), "curationBpeToks")
    // bpeMergesFit is deliberately NOT appended or refit: the tokenizer
    // is train-once (refitting on ingest would re-tokenize the world —
    // the IVF-quantizer posture); writeIndexes re-trains it. The same
    // goes for ivfProbeTuned — the probe budget was tuned under the
    // frozen quantizer, so it drifts exactly as far as the quantizer
    // does and is re-derived with it by the next writeIndexes.
    unpersistIds(spark, batchIds)
    embPredicate.foreach { p =>
      val (base, baseIds) = trackedCheckpoint(
        Similarity.embBaseOf(Tables.embeddings(spark, dir).filter(p)))
      append(base, "embBase")
      // the batch is bucketed under the EXISTING artifact's frozen
      // plane count, read off the ON-DISK artifact itself (one row's
      // bucket length) — never the session memo or the count formula:
      // a fresh unprimed maintenance session appending to a corpus
      // that crossed a sizing boundary since its build would otherwise
      // bucket the batch under a different plane count than the
      // persisted rows (mixed-length strings that never collide). The
      // formula fallback applies only when the artifact is empty.
      val builtH = Similarity.artifactH(spark, indexDir)
      append(Similarity.lshBucketsOf(base,
        builtH.getOrElse(Similarity.corpusH(spark, dir))), "lshBuckets")
      // IVF cell assignments for the batch. The seeded quantizer is a
      // compile-time constant, so the append is trivially consistent
      // with the existing rows; the FITTED quantizer is train-once
      // (standard IVF posture — FAISS-style coarse quantizers are not
      // refit on ingest): the batch is assigned under the PERSISTED
      // centroid artifact, never a refit, so old and new rows share one
      // cell geometry. A corpus whose index predates the IVF artifacts
      // simply skips the fitted append.
      // skipped — not silently seeded — when the index predates the
      // IVF artifacts: an append-created batch-only ivfCells would be
      // memoized by primeIndexes and annIvf would quietly search ONLY
      // the batch's vectors. A pre-IVF index keeps no cell table until
      // writeIndexes rebuilds it.
      if (artifactExists("ivfCells"))
        append(SimilarityIvf.ivfAssign(base, SimilarityIvf.centroids), "ivfCells")
      SimilarityIvf.readCentroidArtifact(spark, indexDir).foreach { cents =>
        append(SimilarityIvf.ivfAssign(base, cents), "ivfCellsFit")
      }
      // PQ codes for the batch under the PERSISTED codebooks — the
      // same train-once posture as the fitted IVF quantizer
      SimilarityPq.readCodebookArtifact(spark, indexDir).foreach { cbs =>
        append(SimilarityPq.pqAssign(base, cbs), "pqCodes")
      }
      // int8 codes: the scale is PER-VECTOR (no trained model), so the
      // append is purely row-wise — quantize the batch, append
      if (artifactExists("sq8Codes"))
        append(Similarity.sq8CodesOf(
          Tables.embeddings(spark, dir).filter(p)), "sq8Codes")
      // the per-label centroid model is a corpus-global AGGREGATE (not
      // a train-once quantizer): after an embedding append it must
      // reflect ALL rows, so re-derive it wholesale like the pair
      // table — labels × dim rows, one scan, negligible next to the
      // batch work
      if (artifactExists("labelCentroids")) {
        val lc = new org.apache.hadoop.fs.Path(s"$indexDir/labelCentroids.parquet")
        lc.getFileSystem(hconf).delete(lc, true)
        Similarity.labelCentroids(spark, dir).write.mode("overwrite")
          .parquet(s"$indexDir/labelCentroids.parquet/batch_id=base")
      }
      unpersistIds(spark, baseIds)
      // the GROWTH half of the re-index advice loop (the erase half
      // lives in eraseDocuments): the batch was bucketed under the
      // frozen build-time geometry by design, but once the appended
      // corpus crosses an h/k sizing boundary the frozen geometry is
      // stale — occupancy grows linearly past the target and serving
      // degrades with nothing measuring it unless someone happens to
      // run the geometryDrift report. Leave the same advice marker the
      // erase path writes; reindexArtifacts resolves and clears it.
      // Counts come from parquet FOOTERS (row-count metadata, no data
      // read): the bucket artifact's rows/NumTables is the monitor's
      // own n_vecs arithmetic, the raw embeddings count is corpusK's
      // own input — an append never pays a corpus scan for this.
      val hSignal: Option[Int] = builtH.flatMap { h =>
        val nVecs = spark.read
          .parquet(s"$indexDir/lshBuckets.parquet").count() / Similarity.NumTables
        val targetH = Similarity.hForCount(nVecs)
        if (targetH != h) Some(targetH) else None
      }
      // k = 4·⌈√N⌉ moves a little on almost every append, so the k
      // check uses the FAISS sizing band, not exact equality: advice
      // only when the target escapes [built/2, built·2] — i.e. the
      // corpus quartered/quadrupled since the fit. (h is exact: the
      // plane count only moves at power-of-two occupancy boundaries,
      // so any change IS substantial. The geometryDrift REPORT keeps
      // exact inequality — it informs; this marker pushes.)
      val kSignal: Option[Int] =
        SimilarityIvf.readCentroidArtifact(spark, indexDir).flatMap { cents =>
          val nRaw = Tables.embeddings(spark, dir)
            .select(col("vec_id")).count()
          val targetK = SimilarityIvf.kForCount(nRaw)
          if (targetK >= 2 * cents.length || 2 * targetK <= cents.length)
            Some(targetK)
          else None
        }
      // ONE advice write per append, with the family in the reason —
      // two bare "append" writes left the second overwriting the
      // first, and a reader could not tell a plane-count target from a
      // cell-count target. When BOTH fire, the marker carries the h
      // target (the exact, boundary-crossing signal) and says so in
      // the reason; the k target is re-derivable from the corpus count
      // via kForCount, and reindexArtifacts resolves both identically.
      (hSignal, kSignal) match {
        case (Some(h), Some(_)) =>
          Reindex.writeAdvice(spark, indexDir, "append-h+k", h.toDouble)
        case (Some(h), None) =>
          Reindex.writeAdvice(spark, indexDir, "append-h", h.toDouble)
        case (None, Some(k)) =>
          Reindex.writeAdvice(spark, indexDir, "append-k", k.toDouble)
        case (None, None) => ()
      }
    }
    // Re-derive the corpus-global pair table from the appended per-doc
    // artifacts: serve them from parquet, drop the stale pair entry,
    // rebuild (jaccardPairTable now reads the primed shingle tables),
    // persist, and re-prime so the session serves the new file.
    // `rebuildPairs = false` defers this — the rebuild is the dominant
    // append cost and nothing on the ingest path reads the pair table
    // (the near-dup stream joins the band index; incremental dedup
    // derives its own candidates), so an operational pipeline can run
    // cheap per-batch appends and refresh the pair table asynchronously
    // on its own schedule by calling rebuildPairTable — the deferred
    // call produces a byte-identical artifact (IndexPersistenceSpec
    // pins deferred-then-rebuild ≡ eager). Until that refresh, the
    // persisted pair table reflects the pre-append corpus.
    releaseIndexes(spark)
    primeIndexes(spark, dir, indexDir)
    // the word co-occurrence graph and the distilled quality model are
    // corpus-global aggregates (pair counts / class-conditional term
    // counts both move under a doc batch) — re-derive them wholesale
    // from the just-primed artifacts, the labelCentroids discipline;
    // ordering matters: this must run AFTER the re-prime so the
    // derivations read the appended parquet, not the session's stale
    // pre-append memos
    rederiveCorpusGlobal(spark, dir, indexDir, "wordGraph", hconf)
    rederiveCorpusGlobal(spark, dir, indexDir, "nbQualityModel", hconf)
    if (rebuildPairs) rebuildPairTable(spark, dir, indexDir)
  }

  /** Wholesale re-derive of a corpus-global artifact after an append —
    * the maintained-index discipline every corpus-sized aggregate
    * carries (labelCentroids posture): rebuild from the full corpus,
    * stage under a per-attempt unique directory, swap via rename-ASIDE
    * (park old → rename stage in → reap the parked copy), so the
    * artifact is present at every instant except the gap between the
    * two renames — and a crash inside that gap is repaired by the
    * parked-copy restore on the next run (the old delete-then-rename
    * order lost the artifact permanently on a crash in its gap).
    *
    * The re-derive is serialized across SHARED-lease appenders in this
    * JVM (the swap window would otherwise race a sibling's
    * schema-inferring read of the same artifact — caught by the
    * concurrent-keyed-appends spec); cross-JVM appenders keep the
    * one-batch-stale async-refresh contract all corpus-global
    * artifacts carry: each attempt derives from the corpus + whatever
    * batches have landed at its read, so the last swap to win is at
    * worst one in-flight batch stale. A corpus whose index predates
    * the artifact skips it (appends never seed an index). */
  private def rederiveCorpusGlobal(spark: SparkSession, dir: String,
      indexDir: String, name: String,
      hconf: org.apache.hadoop.conf.Configuration): Unit = {
    val art = new org.apache.hadoop.fs.Path(s"$indexDir/$name.parquet")
    val fs = art.getFileSystem(hconf)
    // Crash recovery BEFORE the maintained-artifact guard: a prior
    // re-derive that died between parking the old generation and
    // renaming the staged one in leaves no artifact — without this
    // restore, the exists() guard below would silently stop
    // maintaining it forever (every later append skips it, no error).
    // With several crashed attempts parked, restore the NEWEST (the
    // closest-to-current generation; an arbitrary pick could silently
    // regress the artifact by a batch).
    if (!fs.exists(art)) {
      val parked = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$indexDir/.$name.old.*.parquet")))
        .getOrElse(Array.empty).sortBy(-_.getModificationTime)
      if (parked.nonEmpty)
        require(fs.rename(parked.head.getPath, art),
          s"appendIndexes: $name recovery rename ${parked.head.getPath} -> $art failed")
    }
    // Reap crash orphans past the lease TTL: leftover parked copies and
    // abandoned staging dirs are full artifact-sized copies that would
    // otherwise accumulate forever (one per crash). The TTL guard keeps
    // a LIVE cross-JVM sibling's in-flight staging safe — deleting a
    // fresh one mid-write would fail that sibling's append.
    Seq(s".$name.old.*.parquet", s".$name.rederive.*.parquet").foreach { pat =>
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$indexDir/$pat")))
        .getOrElse(Array.empty)
        .filter(s => System.currentTimeMillis() - s.getModificationTime >
          IndexLease.DefaultTtlMs)
        .foreach(s => fs.delete(s.getPath, true))
    }
    if (fs.exists(art))
      rederiveLocks.computeIfAbsent(name, _ => new Object).synchronized {
        memoDrop(spark, s"$name|$dir")
        val rebuilt = byName(name)(spark, dir)
        // per-attempt unique stage and aside names keep concurrent
        // appenders' files disjoint (the lease is SHARED — two
        // concurrent appends both reach this re-derive)
        val attempt = java.util.UUID.randomUUID()
        val stage = new org.apache.hadoop.fs.Path(
          s"$indexDir/.$name.rederive.$attempt.parquet")
        val aside = new org.apache.hadoop.fs.Path(
          s"$indexDir/.$name.old.$attempt.parquet")
        rebuilt.write.mode("overwrite").parquet(s"$stage/batch_id=base")
        if (!fs.rename(art, aside)) {
          // a cross-JVM sibling is mid-swap (the artifact momentarily
          // parked on ITS aside); its equivalent re-derive will land —
          // drop this attempt's staging rather than fight the rename
          fs.delete(stage, true)
        } else if (!fs.rename(stage, art)) {
          // swap-in lost to a concurrent equivalent re-derive (its
          // stage won the name); restore the parked generation if
          // nothing won
          fs.delete(stage, true)
          if (!fs.exists(art))
            require(fs.rename(aside, art),
              s"appendIndexes: $name swap and restore both failed at $art")
          else fs.delete(aside, true)
        } else {
          fs.delete(aside, true)
        }
        memoDrop(spark, s"$name|$dir")
        memoPut(spark, s"$name|$dir",
          spark.read.parquet(s"$indexDir/$name.parquet").drop("batch_id"))
      }
  }

  /** The merge-replace append machinery shared by every COUNT-BEARING
    * corpus-global artifact (graphEdgeFracs, wordGraph): per-key counts
    * decompose additively, so a batch contributes delta counts from a
    * batch-sized derivation and the artifact is wholesale-replaced
    * from the merged counts — linear in the ARTIFACT, independent of
    * the corpus volume. Factored from appendGraphEdges so both
    * appenders carry the identical exactly-once discipline:
    *
    *  - keyed batch marker (`.$name.applied/batch-<id>`) published by
    *    direct create AFTER the swap → a retried batch id no-ops
    *    instead of double-counting the delta;
    *  - the rolled-out generation parked under a batch-named (or bare)
    *    `.old` directory until the marker lands → a crash anywhere
    *    before publish rolls back to the PRE-append generation on
    *    retry and re-applies once;
    *  - staged write + two renames → the artifact exists at every
    *    instant except the swap gap, and that gap is recoverable.
    *
    * `mergedOf(existing)` maps the current artifact table to the FULL
    * next-generation plan (delta derivation + merge + any per-key
    * globals); `afterSwap` runs once the fresh files are live (memo
    * re-points, derived-layout cleanup). Caller holds the EXCLUSIVE
    * lease — an append racing a geometry swap or a sibling append
    * would merge against whichever generation it happened to read. */
  private[operators] def mergeReplaceArtifact(spark: SparkSession,
      indexDir: String, name: String, batchId: Option[String])(
      mergedOf: DataFrame => DataFrame)(afterSwap: => Unit): Unit = {
    batchId.foreach(id => require(id.matches("[A-Za-z0-9._-]+"),
      s"mergeReplaceArtifact($name): batchId '$id' must be a [A-Za-z0-9._-]+ marker name"))
    val path = s"$indexDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = batchId.map(id =>
      new org.apache.hadoop.fs.Path(s"$indexDir/.$name.applied/batch-$id"))
    val oldDir = batchId match {
      case Some(id) =>
        new org.apache.hadoop.fs.Path(s"$indexDir/.$name.old.$id.parquet")
      case None =>
        new org.apache.hadoop.fs.Path(s"$indexDir/.$name.old.parquet")
    }
    if (marker.exists(fs.exists(_))) {
      // completed batch: reap the rollback copy its crash window may
      // have left, then no-op
      fs.delete(oldDir, true)
    } else {
      // recover any crash BEFORE this batch's marker was published by
      // putting the OLD generation back (this rerun is about to merge
      // the same delta again; keeping the post-append state would
      // double-count the batch). See appendGraphEdges' original
      // derivation of the keyed/unkeyed recovery split.
      if (fs.exists(oldDir)) batchId match {
        case Some(_) =>
          fs.delete(p, true) // post-swap partial state, marker never published
          require(fs.rename(oldDir, p),
            s"mergeReplaceArtifact($name): recovery rename $oldDir -> $p failed")
        case None =>
          // UNKEYED: renames are atomic, so the artifact's presence
          // decides — present ⇒ the prior swap completed (reap the
          // superseded parked copy); absent ⇒ mid-swap crash (restore)
          if (fs.exists(p)) fs.delete(oldDir, true)
          else require(fs.rename(oldDir, p),
            s"mergeReplaceArtifact($name): recovery rename $oldDir -> $p failed")
      }
      require(fs.exists(p),
        s"mergeReplaceArtifact: artifact $name.parquet missing under $indexDir — " +
          "run writeIndexes first; an append cannot seed an index")
      // existing counts come from the persisted artifact (NOT the memo:
      // a session-built entry could be newer or older than the file —
      // the file is the maintained truth the append extends)
      val existing = spark.read.parquet(path)
      val next = mergedOf(
        if (existing.columns.contains("batch_id")) existing.drop("batch_id")
        else existing)
      val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/.$name.append.parquet")
      fs.delete(tmp, true)
      next.write.mode("overwrite").parquet(s"$tmp/batch_id=base")
      require(fs.rename(p, oldDir),
        s"mergeReplaceArtifact($name): rename $p -> $oldDir failed")
      require(fs.rename(tmp, p),
        s"mergeReplaceArtifact($name): rename $tmp -> $p failed")
      marker match {
        case Some(m) =>
          // publish FIRST, then reap the rollback copy: the ordering
          // closes the post-swap crash window (marker absent on retry
          // ⇒ rollback copy still there ⇒ roll back)
          fs.mkdirs(m.getParent)
          val out = fs.create(m, true)
          try out.write(Array.emptyByteArray) finally out.close()
          fs.delete(oldDir, true)
        case None =>
          fs.delete(oldDir, true)
      }
      afterSwap
    }
  }

  /** Rebuild the corpus-global Jaccard candidate-pair artifact from the
    * (already appended) per-document parquet artifacts and re-prime the
    * session to serve it — the deferrable tail of appendIndexes.
    * Requires the session to be primed on `indexDir` (appendIndexes
    * leaves it primed; a fresh maintenance session calls primeIndexes
    * first) so the derivation reads parquet shingle tables, not a
    * re-shingle of the corpus text. */
  def rebuildPairTable(spark: SparkSession, dir: String, indexDir: String): Unit =
    IndexLease.withShared(spark, indexDir, "pair-rebuild") {
      rebuildPairTableLocked(spark, dir, indexDir)
    }

  /** [[rebuildPairTable]] without the appender marker — for callers
    * already holding the EXCLUSIVE maintenance lease (eraseDocuments),
    * where taking a shared marker would deadlock on our own lease. */
  private def rebuildPairTableLocked(spark: SparkSession, dir: String,
      indexDir: String): Unit = {
      memoDrop(spark, s"jaccardPairs|$dir")
      // the pair table is corpus-global — wholesale replace, clearing any
      // previous generation's directories, then one fresh base directory.
      // Written from the uncheckpointed PLAN (the writeIndexes raw-build
      // discipline): the rebuild pays one parquet encode, not a session
      // checkpoint serialize plus the encode.
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/jaccardPairs.parquet")
      val rebuilt = jaccardPairPlan(spark, dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      rebuilt.write.mode("overwrite")
        .parquet(s"$indexDir/jaccardPairs.parquet/batch_id=base")
      memoDrop(spark, s"jaccardPairs|$dir")
      memoPut(spark, s"jaccardPairs|$dir",
        spark.read.parquet(s"$indexDir/jaccardPairs.parquet").drop("batch_id"))
      // the cluster-label artifact derives from the pair table, so it
      // shares the pair table's staleness contract exactly: re-derived
      // here (under the fresh pair table just primed above), stale
      // until this call when the rebuild was deferred
      val lp = new org.apache.hadoop.fs.Path(s"$indexDir/clusterLabels.parquet")
      if (lp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lp)) {
        memoDrop(spark, s"clusterLabels|$dir")
        val labels = clusterLabels(spark, dir)
        lp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(lp, true)
        labels.write.mode("overwrite")
          .parquet(s"$indexDir/clusterLabels.parquet/batch_id=base")
        memoDrop(spark, s"clusterLabels|$dir")
        memoPut(spark, s"clusterLabels|$dir",
          spark.read.parquet(s"$indexDir/clusterLabels.parquet").drop("batch_id"))
      }
    }

  /** One watermark-driven ingest batch — the scheduled daily job,
    * composed from the engine's own parts: documents (and, optionally,
    * vectors) with ids in (stored mark, `newMark`] are appended to the
    * index artifacts keyed by the mark they advance to, and the mark
    * is persisted only on success (`WatermarkStore.incrementalRun`,
    * the reference's last-run-config semantics).
    *
    * The composition is what makes it exactly-once in EFFECT from two
    * at-least-once parts: a crash anywhere before the mark write
    * leaves the old mark, so the retry re-covers the window — and
    * because the batch id derives from the window's START (the stored
    * mark), the re-covered append OVERWRITES the crashed attempt's
    * partial directories even when the retry runs with a LATER
    * `newMark` (new data arrived before the rerun): both attempts
    * open the window at the same stored mark, so they share a batch
    * key, and the wider retry subsumes the narrower orphan. Keying by
    * `newMark` instead would leave the orphan in place and
    * double-append the overlap. Successful runs always advance the
    * mark, so successive windows get distinct keys. The pair-table
    * rebuild is deferred by default — schedule `rebuildPairTable`
    * separately, like any other async refresh.
    *
    * The mark must be seeded (to the highest id the writeIndexes
    * build covered) before the first incremental run: an unseeded run
    * would re-append the entire already-indexed corpus. */
  def ingestSinceWatermark(spark: SparkSession, dir: String, indexDir: String,
                           markPath: String, newMark: Long,
                           withEmbeddings: Boolean = false,
                           rebuildPairs: Boolean = false): Unit =
    graft.sources.WatermarkStore.incrementalRun(markPath, newMark.toString) { since =>
      val lo = since.getOrElse(throw new IllegalArgumentException(
        s"ingestSinceWatermark: no mark at $markPath — seed it with the " +
          "highest id covered by writeIndexes before the first incremental run")).toLong
      require(newMark >= lo,
        s"ingestSinceWatermark: newMark $newMark behind the stored mark $lo")
      if (newMark > lo)
        appendIndexes(spark, dir, indexDir,
          docPredicate = col("doc_id") > lo && col("doc_id") <= newMark,
          embPredicate =
            if (withEmbeddings) Some(col("vec_id") > lo && col("vec_id") <= newMark)
            else None,
          rebuildPairs = rebuildPairs,
          batchId = Some(s"wm-from-$lo"))
    }

  /** Fold every artifact's accumulated `batch_id=*` directories back
    * into one fresh `base` — the periodic maintenance job that keeps an
    * append-heavy index readable at speed. Each keyed append adds a
    * directory of small files; after months of daily ingest an
    * artifact is hundreds of directories whose listing and per-file
    * open costs dominate first-touch reads. Compaction rewrites the
    * artifact content-preserving (a straight read→write, no
    * re-derivation; Spark's split bin-packing coalesces the small
    * files into ~`maxPartitionBytes`-sized outputs) and resets the
    * batch history.
    *
    * Crash contract, per artifact: rows are first written next to the
    * artifact (`.compact-<name>.parquet`), then the swap is TWO RENAMES
    * — artifact → `.old-<name>.parquet`, staging → artifact — followed
    * by deleting the `.old` copy. At every instant at least one
    * COMPLETE copy exists (a delete-then-rename swap would have a
    * window where a crash mid-delete leaves only a partial artifact,
    * and a repair keyed on "artifact fully gone" would then destroy
    * the staging copy — silent row loss). A crash before the first
    * rename leaves the artifact untouched (stale staging cleaned on
    * the next run); between the renames, the next call finds
    * staging-but-no-artifact and finishes the second rename; after
    * them, the next call just clears the leftover `.old`. So the
    * recovery procedure for ANY interrupted compaction is simply: run
    * it again.
    *
    * Reader contract: like writeIndexes — and unlike keyed appends —
    * compaction deletes files other readers' pinned listings may
    * reference. A running stream pins its file listing at definition
    * (restart streams around the compaction window), and a BATCH
    * session primed on this indexDir pins its listing when the primed
    * DataFrame is created: after compaction its next read fails with
    * FileNotFoundException — loudly, never silently stale
    * (IndexPersistenceSpec pins this) — and the recovery is
    * releaseIndexes + primeIndexes in that session. The compacting
    * session itself is released on return (re-prime to keep serving
    * from parquet). Artifacts still on the legacy flat layout, or
    * already a single directory, are left untouched.
    *
    * Single-maintainer contract — ENFORCED since round 7 by
    * [[IndexLease]]: compaction must not race a concurrent appender
    * or a second compaction on the same indexDir — a keyed append
    * landing between the read and the swap would be folded away or
    * half-kept. Compaction (like writeIndexes) takes the exclusive
    * maintenance lease and fails fast if an appender marker is live;
    * appenders fail fast while the lease is held. CONCURRENT KEYED
    * APPENDS of distinct batches — without a compaction in flight —
    * remain safe with each other: they hold independent markers and
    * write disjoint batch_id directories (IndexPersistenceSpec pins
    * two barrier-started appenders). */
  def compactIndexes(spark: SparkSession, indexDir: String): Unit =
    IndexLease.withExclusive(spark, indexDir, "compactIndexes") {
    val hconf = spark.sparkContext.hadoopConfiguration
    indexBuilders.foreach { case (name, _) =>
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$name.parquet")
      val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/.compact-$name.parquet")
      val old = new org.apache.hadoop.fs.Path(s"$indexDir/.old-$name.parquet")
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p) && fs.exists(tmp)) {
        // a prior compaction died between the two swap renames (the
        // artifact is parked at `.old`, staging is complete) — finish
        // the swap from the staging copy, then drop the parked one
        require(fs.rename(tmp, p), s"compactIndexes: rename $tmp -> $p failed")
        fs.delete(old, true)
      } else if (fs.exists(p)) {
        val batchDirs = fs.listStatus(p)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        if (batchDirs.length > 1) {
          fs.delete(tmp, true)
          fs.delete(old, true) // leftover from a crash after the swap
          spark.read.parquet(p.toString).drop("batch_id")
            .write.mode("overwrite").parquet(s"$tmp/batch_id=base")
          require(fs.rename(p, old), s"compactIndexes: rename $p -> $old failed")
          require(fs.rename(tmp, p), s"compactIndexes: rename $tmp -> $p failed")
          fs.delete(old, true)
        } else {
          fs.delete(tmp, true) // already compact; drop stale staging
          fs.delete(old, true)
        }
      }
    }
    releaseIndexes(spark)
    }

  /** Re-fit the FROZEN index geometry to the current corpus — the
    * maintenance verb the geometry-drift monitor ([[Reindex
    * .geometryDrift]]) recommends. The append path deliberately
    * inherits build-time geometry (LSH plane count, IVF/PQ quantizer
    * models, tuned probe budgets): consistency requires old and new
    * rows under ONE geometry. This verb is the other half of that
    * contract — when the corpus has grown (or shrunk, after a mass
    * erasure) far past its build, re-derive the geometry wholesale:
    *
    *   - LSH buckets re-derived under h = hForCount(current N);
    *   - the fitted IVF quantizer re-trained at k = corpusK(current N)
    *     and the cell index re-assigned under it;
    *   - PQ codebooks re-trained, codes re-encoded;
    *   - tuned probe/rerank budgets re-walked under the new geometry;
    *   - row-wise embedding artifacts re-derived (which also folds
    *     accumulated batch directories — a reindex IS a compaction of
    *     the embedding family).
    *
    * Discipline: exclusive maintenance lease (an append racing a
    * geometry swap would bucket its batch under whichever generation
    * it happened to read); two-phase — every rebuilt artifact is
    * STAGED first, then swapped in with compaction's two renames — so
    * a crash at any point is repaired by re-running reindexArtifacts
    * (stages rebuild from scratch; a parked `.old` generation with a
    * missing artifact is restored before the swap). Document-side
    * artifacts (shingles, bands, pair table, tokenizer) are untouched:
    * their geometry is not corpus-sized. Clears the erase-advice
    * marker — the rebuild is what the marker asked for — and restarts
    * the erased-fraction ledger (geometryBaseline) at the refit
    * corpus size.
    *
    * Reader contract: compaction's — the swap deletes files other
    * sessions' pinned listings may reference; a primed batch session
    * fails its next read loudly (FileNotFoundException, never silently
    * stale) and recovers with releaseIndexes + primeIndexes; restart
    * streams around the maintenance window.
    *
    * Kernel-generation note (non-finite vectors): bucket artifacts
    * written by the pre-r16 fused LSH kernel hold all-ZERO bucket bits
    * for vectors whose plane dot product is NaN, while the current
    * kernel (NaN >= 0 parity with Spark's comparison semantics) emits
    * all-ones — so a pre-fix artifact mixed with post-fix appends or
    * stream probes silently mis-buckets exactly those vectors until
    * this verb runs. Finite embeddings (every corpus the engine
    * ships) are unaffected. Since r18 this is MECHANICAL, not a doc
    * note: builds stamp [[Similarity.LshKernelGeneration]] into the
    * `lshBuckets.kernel` sidecar, and appendIndexes/primeIndexes
    * surface reindex advice when the tag mismatches
    * ([[Reindex.checkKernelTag]]); this verb re-stamps it. */
  def reindexArtifacts(spark: SparkSession, dir: String, indexDir: String): Unit =
    IndexLease.withExclusive(spark, indexDir, "reindexArtifacts") {
      val hconf = spark.sparkContext.hadoopConfiguration
      def path(n: String) = new org.apache.hadoop.fs.Path(s"$indexDir/$n.parquet")
      val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(hconf)
      // crash recovery first: a prior reindex that died between its two
      // swap renames left the artifact parked at `.old` — restore the
      // newest parked generation so the rebuild below starts complete
      embeddingFamily.foreach { n =>
        val p = path(n)
        val old = new org.apache.hadoop.fs.Path(s"$indexDir/.old-$n.parquet")
        if (!fs.exists(p) && fs.exists(old))
          require(fs.rename(old, p),
            s"reindexArtifacts: recovery rename $old -> $p failed")
      }
      val present = embeddingFamily.filter(n => fs.exists(path(n)))
      require(present.nonEmpty,
        s"reindexArtifacts: no embedding index artifacts under $indexDir — " +
          "run writeIndexes first; a reindex cannot seed an index")
      // the new geometry derives from the CURRENT corpus: drop every
      // primed memo and every cached model/budget/count for this dir
      releaseIndexes(spark)
      Similarity.invalidateCorpusH(spark, dir)
      Similarity.invalidateLshTune(spark, dir)
      SimilarityIvf.invalidateCorpusK(spark, dir)
      SimilarityIvf.invalidateFit(spark, dir)
      SimilarityIvf.invalidateProbeTune(spark, dir)
      SimilarityPq.invalidateFit(spark, dir)
      SimilarityPq.invalidateRerankTune(spark, dir)
      // phase 1: stage every rebuild (chain order — models before the
      // tables assigned under them; the session memo carries the new
      // geometry from builder to builder)
      present.foreach { n =>
        val stage = new org.apache.hadoop.fs.Path(s"$indexDir/.reindex-$n.parquet")
        fs.delete(stage, true)
        val t0 = System.nanoTime()
        byName(n)(spark, dir).write.mode("overwrite").parquet(s"$stage/batch_id=base")
        System.err.println(
          f"[reindexArtifacts] $n%-16s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
      // phase 2: swap each artifact in (two renames; at every instant a
      // complete generation exists on disk). The whole swap window is
      // bracketed by the in-progress marker: every file exists at every
      // instant, so a crash BETWEEN two artifacts' swaps leaves a
      // mixed-generation index nothing would fail loudly on — e.g. new
      // centroids already in while the cell table still holds old-
      // geometry assignments. primeIndexes refuses to prime while the
      // marker stands; re-running this verb (which rebuilds every
      // artifact from the corpus) is the repair and clears it.
      Reindex.writeInProgress(spark, indexDir)
      present.foreach { n =>
        val p = path(n)
        val stage = new org.apache.hadoop.fs.Path(s"$indexDir/.reindex-$n.parquet")
        val old = new org.apache.hadoop.fs.Path(s"$indexDir/.old-$n.parquet")
        fs.delete(old, true)
        require(fs.rename(p, old), s"reindexArtifacts: rename $p -> $old failed")
        require(fs.rename(stage, p), s"reindexArtifacts: rename $stage -> $p failed")
        fs.delete(old, true)
      }
      // the rebuilt buckets carry the current kernel — re-stamp BEFORE
      // clearing advice (a kernel-generation advice is exactly what
      // this rebuild resolves) and before the re-prime below re-checks
      if (present.contains("lshBuckets"))
        Reindex.writeKernelTag(spark, indexDir)
      Reindex.clearAdvice(spark, indexDir)
      Reindex.writeGeometryBaseline(spark, dir, indexDir)
      Reindex.clearInProgress(spark, indexDir)
      releaseIndexes(spark)
      primeIndexes(spark, dir, indexDir)
    }

  /** The corpus-sized embedding-family artifacts [[reindexArtifacts]]
    * maintains, in build-dependency order (models before the tables
    * assigned under them). */
  private val embeddingFamily = Seq(
    "embBase", "lshBuckets", "ivfCells", "ivfCentroidsFit", "ivfCellsFit",
    "ivfProbeTuned", "lshProbeTuned", "pqCodebooksFit", "pqCodes",
    "pqRerankTuned", "sq8Codes")

  /** Right-to-be-forgotten erasure: remove documents (and/or
    * embedding vectors) from the CORPUS tables and every maintained
    * index artifact — the deletion-request maintenance job a
    * training-data pipeline owes its sources, completing the index
    * lifecycle (writeIndexes / appendIndexes / compactIndexes /
    * eraseDocuments).
    *
    * What happens, in order, under ONE exclusive maintenance lease:
    *  1. the corpus tables themselves (`documents.parquet`,
    *     `embeddings.parquet` under `dir`) are rewritten with the ids
    *     filtered out — erasing only indexes while the corpus still
    *     serves the rows would be incoherent;
    *  2. every id-decomposable artifact (shingles, signatures, bands,
    *     token tables, embedding/code tables) is rewritten with its
    *     rows filtered, folding the batch history into a fresh base —
    *     fold-on-erase is deliberate: a surviving `batch_id=` directory
    *     could resurrect erased rows through a replayed append;
    *  3. the content-bearing corpus-global artifacts are re-derived
    *     from the now-clean corpus (pair table + cluster labels via
    *     the rebuild path; wordGraph / nbQualityModel / labelCentroids
    *     via their wholesale re-derive) so no aggregate still carries
    *     the erased rows' contributions.
    *
    * TRAIN-ONCE MODELS ARE KEPT FROZEN (centroids, PQ codebooks, BPE
    * merges, tuned probe budgets): they are statistical summaries that
    * store no row of the erased data, and refitting them would
    * re-encode the world on every deletion request — the FAISS
    * quantizer posture, disclosed; the next writeIndexes refreshes
    * them. Erased vectors' ROWS under those models (cells, codes) are
    * removed in step 2.
    *
    * Crash contract: each rewrite stages next to the artifact under
    * the SAME `.compact-<name>` / `.old-<name>` names compaction uses
    * and swaps with the same two renames — so a crash at any point is
    * repaired by re-running eraseDocuments (or compactIndexes: the
    * recovery path is shared by construction). A retried erase is
    * idempotent — filtering already-erased rows is a no-op.
    *
    * Scale note: ids arrive as literal sequences (an `isin` filter —
    * pushed to the parquet scan); a deletion backlog too large for a
    * literal list should run as several calls or a pre-joined erase,
    * but note GDPR-class backlogs are ~thousands of ids, not
    * corpus-sized. The full-artifact rewrite cost is compaction's —
    * this IS a compaction with a filter. */
  def eraseDocuments(spark: SparkSession, dir: String, indexDir: String,
      docIds: Seq[Long], vecIds: Seq[Long] = Nil): Unit =
    IndexLease.withExclusive(spark, indexDir, "eraseDocuments") {
      require(docIds.nonEmpty || vecIds.nonEmpty,
        "eraseDocuments: nothing to erase (both id sets empty)")
      // fail BEFORE rewriting anything: erasing through a crashed
      // reindex's mixed-generation artifacts would leave the corpus
      // rewritten but the re-derive half undone when the internal
      // re-prime below refuses the marker
      require(!Reindex.inProgress(spark, indexDir),
        s"eraseDocuments: $indexDir/${Reindex.InProgressMarker} present — a geometry " +
          "re-index crashed mid-swap; re-run Dedup.reindexArtifacts before erasing.")
      val hconf = spark.sparkContext.hadoopConfiguration
      releaseIndexes(spark)
      // erased rows change the occupancy distributions the derived
      // caps observed — drop the persisted geometry (lazy re-derive)
      new org.apache.hadoop.fs.Path(s"$indexDir/$StarCapsArtifact")
        .getFileSystem(hconf)
        .delete(new org.apache.hadoop.fs.Path(s"$indexDir/$StarCapsArtifact"), true)
      // Filter-rewrite `parent/name.parquet` in place with compaction's
      // staging names and two-rename swap. `batched = true` writes the
      // fresh generation under batch_id=base (artifact layout);
      // corpus tables stay flat. Missing paths are skipped (corpus
      // without embeddings; index predating an artifact).
      def filterRewrite(parent: String, name: String, keep: Column,
          batched: Boolean): Unit = {
        val p = new org.apache.hadoop.fs.Path(s"$parent/$name.parquet")
        val tmp = new org.apache.hadoop.fs.Path(s"$parent/.compact-$name.parquet")
        val old = new org.apache.hadoop.fs.Path(s"$parent/.old-$name.parquet")
        val fs = p.getFileSystem(hconf)
        if (!fs.exists(p) && fs.exists(tmp)) {
          // a prior erase/compaction died between the two swap renames —
          // finish the swap, then fall through and filter the result
          // (the staging copy may predate THIS erase's ids)
          require(fs.rename(tmp, p), s"eraseDocuments: recovery rename $tmp -> $p failed")
          fs.delete(old, true)
        }
        if (fs.exists(p)) {
          fs.delete(tmp, true)
          fs.delete(old, true)
          val kept = spark.read.parquet(p.toString).drop("batch_id").filter(keep)
          if (batched) kept.write.mode("overwrite").parquet(s"$tmp/batch_id=base")
          else kept.write.mode("overwrite").parquet(tmp.toString)
          require(fs.rename(p, old), s"eraseDocuments: rename $p -> $old failed")
          require(fs.rename(tmp, p), s"eraseDocuments: rename $tmp -> $p failed")
          fs.delete(old, true)
        }
      }
      val keepDoc = !col("doc_id").isInCollection(docIds)
      val keepVec = !col("vec_id").isInCollection(vecIds)
      if (docIds.nonEmpty) {
        filterRewrite(dir, "documents", keepDoc, batched = false)
        Seq("docShingles", "shingleIndex", "minhashSigs", "minhashBands",
          "simhashTable", "curationToks", "curationBpeToks")
          .foreach(a => filterRewrite(indexDir, a, keepDoc, batched = true))
      }
      // the fraction of the vector corpus erased decides whether the
      // frozen geometry (plane count, quantizer models — kept by
      // design, see below) still summarizes a corpus that meaningfully
      // exists. Measured CUMULATIVELY against the corpus size the
      // geometry was fitted on (the geometryBaseline marker): per-call
      // fractions against the already-shrunken corpus would let four
      // 20% erasures remove ~59% of the fitted corpus without ever
      // tripping the 25% advice. Pre-rewrite counts taken here; the
      // cumulative fraction resolves after the rewrite below.
      // `hitFitted` counts only erasures of FITTED-ERA vectors (vec_id
      // at or below the ledger's fit-time boundary): an erase of
      // post-fit appends does not shrink the corpus the frozen
      // geometry summarizes, and counting it against the fitted
      // denominator produced fractions over 1.0 and spurious reindex
      // advice (fit 1000, append 9000, erase 3000 appended read as
      // 300% erased). Boundary -1 (pre-r17 ledger / unknown) keeps
      // every erased id counted — the conservative side.
      val ledgerPre = Reindex.readGeometryLedger(spark, indexDir)
      val preCounts: Option[(Long, Long)] = if (vecIds.isEmpty) None else {
        val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
        if (!p.getFileSystem(hconf).exists(p)) None
        else {
          val emb = spark.read.parquet(p.toString)
          val pre = emb.count()
          val fittedEra = ledgerPre.map(_._3).filter(_ >= 0L)
            .map(b => col("vec_id") <= b).getOrElse(lit(true))
          if (pre == 0) None
          else Some((pre, emb.filter(col("vec_id").isInCollection(vecIds) &&
            fittedEra).count()))
        }
      }
      if (vecIds.nonEmpty) {
        filterRewrite(dir, "embeddings", keepVec, batched = false)
        Seq("embBase", "lshBuckets", "ivfCells", "ivfCellsFit", "pqCodes",
          "sq8Codes")
          .foreach(a => filterRewrite(indexDir, a, keepVec, batched = true))
      }
      // corpus-global re-derives read through the session memo — it
      // must serve the just-rewritten parquet, not stale cache entries
      releaseIndexes(spark)
      primeIndexes(spark, dir, indexDir)
      if (docIds.nonEmpty) {
        val pairs = new org.apache.hadoop.fs.Path(s"$indexDir/jaccardPairs.parquet")
        if (pairs.getFileSystem(hconf).exists(pairs))
          rebuildPairTableLocked(spark, dir, indexDir)
        else
          // the pair artifact may be legitimately absent (deferred /
          // reclaimed rebuild) while clusterLabels still exists — the
          // labels derive from pairs, so without this re-derive an
          // erased doc's cluster membership would survive the erase
          rederiveCorpusGlobal(spark, dir, indexDir, "clusterLabels", hconf)
        rederiveCorpusGlobal(spark, dir, indexDir, "wordGraph", hconf)
        rederiveCorpusGlobal(spark, dir, indexDir, "nbQualityModel", hconf)
      }
      if (vecIds.nonEmpty)
        rederiveCorpusGlobal(spark, dir, indexDir, "labelCentroids", hconf)
      // the train-once models stay frozen through an erase by design
      // (they store no erased row) — but past a threshold CUMULATIVE
      // fraction the corpus they summarize no longer exists: surface
      // the re-index recommendation instead of silently keeping stale
      // geometry. The ledger accumulates an EXPLICIT erased counter
      // against the fitted corpus size: deriving the fraction from the
      // remaining row count (the pre-r16 formulation) let appends
      // dilute it — fit 1000, append 1000, erase the original 1000
      // read as 0% although 100% of the fitted corpus was gone.
      // Pre-ledger indexes fall back to the per-call fraction.
      preCounts.foreach { case (pre, hit) =>
        val frac = ledgerPre match {
          case Some((fitted, erased, fitMax)) if fitted > 0 =>
            val total = erased + hit
            Reindex.writeGeometryLedger(spark, indexDir, fitted, total, fitMax)
            // clamp: the fitted corpus cannot be more than fully
            // erased — an over-count (unknown-era fallback meeting
            // re-used ids) must not report an impossible fraction
            math.min(1.0, total.toDouble / fitted)
          case _ => hit.toDouble / pre
        }
        if (frac >= Reindex.EraseReindexFrac)
          Reindex.writeAdvice(spark, indexDir, "erase", frac)
      }
    }

  /** Load previously written index artifacts into the session cache:
    * subsequent dedup/similarity queries against `dir` read the
    * parquet indexes (pushdown, column pruning, no block-manager
    * residency) instead of rebuilding. Missing artifacts are simply
    * skipped — the builder runs on first use as usual. */
  /** Artifacts whose prime-time invalidation feeds a driver-side
    * model/knob cache (see the artifact-wins block in
    * [[primeIndexes]]) — the only names worth a fingerprint stat. */
  private val knobArtifacts = Set(
    "ivfCentroidsFit", "bpeMergesFit", "pqCodebooksFit", "ivfProbeTuned",
    "lshProbeTuned", "lshBuckets", "pqRerankTuned")

  /** Last-primed artifact file generation per (session, dir, name) —
    * `name:len:mtime` of every data file, the
    * Graph.edgeArtifactFingerprint discipline plus mtime (an in-place
    * rewrite that happens to preserve byte length must still read as
    * a new generation). Driver-side fs metadata only; no job. */
  private val primedArtifactFps =
    graft.sources.SessionSweep.scoped(new java.util.concurrent.ConcurrentHashMap[String, String]())

  /** Collected starCaps rows per (session, dir) — survives the
    * capCache clear in [[releaseIndexes]] so an unchanged-generation
    * re-prime re-seeds the caps without a collect job. */
  private val starCapsRows =
    graft.sources.SessionSweep.scoped(new java.util.concurrent.ConcurrentHashMap[String, Array[(String, Int)]]())

  /** Record the artifact's current file generation and report whether
    * it CHANGED since this session last primed it (a never-primed
    * artifact always reads as changed, so the first prime of a session
    * preserves the unconditional artifact-wins invalidation). */
  private def primeFpChanged(spark: SparkSession, dir: String,
      indexDir: String, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet"))
          entries += s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}"
      }
    } catch {
      // an unreadable artifact must degrade to "changed" (invalidate —
      // the pre-r19 unconditional behavior), never to a stale keep
      case _: java.io.IOException => return true
    }
    val fp = s"$indexDir|" + entries.sorted.mkString(",")
    val key = s"${sessionKey(spark)}|$dir|$name"
    primedArtifactFps.put(key, fp) != fp
  }

  def primeIndexes(spark: SparkSession, dir: String, indexDir: String): Unit = {
    // A standing reindex-in-progress marker means a prior
    // reindexArtifacts died inside its phase-2 swap window (or one is
    // live RIGHT NOW): the on-disk artifacts may mix two geometry
    // generations — every file exists, so nothing downstream would
    // fail loudly; a primed session would silently serve ANN results
    // with collapsed recall. Fail here, at the one entry point every
    // consumer passes through, and name the repair. (Leftover
    // `.reindex-*` STAGE dirs without the marker are a phase-1 crash —
    // the live artifacts are still one consistent generation, so
    // priming is safe; reindexArtifacts reclaims the stages itself.)
    require(!Reindex.inProgress(spark, indexDir),
      s"primeIndexes: $indexDir/${Reindex.InProgressMarker} present — a geometry " +
        "re-index crashed mid-swap (or is running); the artifacts may mix two " +
        "generations. Re-run Dedup.reindexArtifacts to rebuild and clear it.")
    // a bucket artifact from an older KERNEL generation primes fine
    // (finite vectors bucket identically) but must not do so silently —
    // surface the reindex advice every serving head then discloses
    Reindex.checkKernelTag(spark, indexDir, "primeIndexes")
    primedDirs.put(s"${sessionKey(spark)}|$dir", indexDir)
    // the bucketed by-src superstep layout (validity-checked against
    // the current edge artifact generation; silently skipped when
    // stale or bucket-count-mismatched — the session path rebuilds)
    Graph.primeEdgesBySrc(spark, dir, indexDir)
    indexBuilders.foreach { case (name, _) =>
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$name.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        // drop the internal batch-partitioning column so primed readers
        // see the original artifact schema (no-op on legacy flat files)
        memoPut(spark, s"$name|$dir",
          spark.read.parquet(p.toString).drop("batch_id"))
        // Artifact-wins rule for the driver-side model/knob caches
        // (fitted quantizer, learned tokenizer, PQ codebooks, tuned
        // probe/radius/rerank budgets, plane count): the persisted
        // value must win over anything fitted/walked in-session.
        // r19: invalidation is keyed to the artifact's FILE GENERATION
        // — a re-prime of the UNCHANGED artifact (every bench
        // release/re-prime cycle; a serving session re-priming after a
        // sibling's append elsewhere) used to invalidate
        // unconditionally, so the first query after every prime
        // re-collected each 1-row knob table and each model table as
        // its own driver job (~12 scheduled jobs inside
        // q_ann_recall_families' construction, 1.8 s of its 2.5 s
        // wall). A cached value from the SAME file generation is
        // byte-identical to what the re-read would return, so skipping
        // the invalidation cannot change any value — a changed
        // generation (writeIndexes, append, reindex, erase, compact)
        // still invalidates exactly as before.
        if (knobArtifacts(name) && primeFpChanged(spark, dir, indexDir, name)) {
          if (name == "ivfCentroidsFit") SimilarityIvf.invalidateFit(spark, dir)
          if (name == "bpeMergesFit") BpeFit.invalidateFit(spark, dir)
          if (name == "pqCodebooksFit") SimilarityPq.invalidateFit(spark, dir)
          if (name == "ivfProbeTuned") SimilarityIvf.invalidateProbeTune(spark, dir)
          if (name == "lshProbeTuned") Similarity.invalidateLshTune(spark, dir)
          if (name == "lshBuckets") Similarity.invalidateCorpusH(spark, dir)
          if (name == "pqRerankTuned") SimilarityPq.invalidateRerankTune(spark, dir)
        }
      }
    }
    // derived star caps are index GEOMETRY like the plane count:
    // writeIndexes stamps them (starCaps.parquet), priming seeds the
    // session cache so serving-path consumers (simhashPairs,
    // embeddingPairs, minhashLsh, …) never pay the derivation
    // aggregations per call — append/erase delete the artifact, so a
    // changed corpus lazily re-derives instead of serving stale caps
    val capsP = new org.apache.hadoop.fs.Path(s"$indexDir/$StarCapsArtifact")
    val capsFs = capsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (capsFs.exists(capsP)) {
      // generation-keyed row memo (the knob-invalidation discipline):
      // releaseIndexes clears capCache, so every re-prime used to
      // re-COLLECT the caps artifact as a scheduled job — for rows that
      // cannot differ while the file generation is unchanged. The memo
      // holds the collected rows per (session, dir); a changed
      // generation re-collects, an unchanged one re-seeds driver-side.
      val memoKey = s"${sessionKey(spark)}|$dir"
      if (primeFpChanged(spark, dir, indexDir, "starCaps") ||
          !starCapsRows.containsKey(memoKey)) {
        starCapsRows.put(memoKey,
          spark.read.parquet(capsP.toString).collect().map { r =>
            (r.getString(r.fieldIndex("family")), r.getInt(r.fieldIndex("cap")))
          })
      }
      starCapsRows.get(memoKey).foreach { case (family, cap) =>
        capCache.put(s"${sessionKey(spark)}|$family|$dir", java.lang.Long.valueOf(cap))
      }
    }
  }

  /** Persisted derived-cap geometry (family, cap) — see primeIndexes. */
  private[graft] val StarCapsArtifact = "starCaps.parquet"

  /** Derive + persist the per-family star caps for a freshly built
    * index — runs AFTER the artifact chains (it reads the band /
    * chunk / bucket tables just written) and seeds the session cache
    * on the way out. */
  private def writeStarCaps(spark: SparkSession, dir: String,
      indexDir: String, withEmbeddings: Boolean): Unit = {
    import spark.implicits._
    val families =
      Seq("shingleCap" -> (() => shingleStarCap(spark, dir)),
        "bandCap" -> (() => bandStarCap(spark, dir)),
        "chunkCap" -> (() => chunkStarCap(spark, dir))) ++
      (if (withEmbeddings)
        Seq("bucketCap" -> (() => bucketStarCap(spark, dir)),
          "labelCap" -> (() => labelBlockCap(spark, dir)))
      else Seq.empty)
    // each derivation is 1-3 small jobs over a just-built artifact;
    // run them CONCURRENTLY like the builder chains — serialized they
    // added ~6 s of pure job latency to the build wall
    val pool = java.util.concurrent.Executors.newFixedThreadPool(families.length)
    val rows = try {
      import scala.jdk.CollectionConverters._
      pool.invokeAll(families.map { case (f, v) =>
        new java.util.concurrent.Callable[(String, Int)] {
          def call(): (String, Int) = (f, v())
        }
      }.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
    rows.toDF("family", "cap")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/$StarCapsArtifact")
  }

  /** (doc_id, sh) with the token array materialized behind a
    * checkpoint barrier. A plain projection is NOT enough: Catalyst's
    * CollapseProject re-inlines a single-referenced alias into the
    * consuming lambda, resurrecting the quadratic split. The barrier
    * pins one split per document; shingle assembly then slices the
    * bound attribute. */
  private[operators] def docShingles(spark: SparkSession, dir: String): DataFrame =
    memo(spark, s"docShingles|$dir") {
      // Ride the shared tokenized-corpus artifact (curationToks): ONE
      // text-column scan + ONE whitespace split now serves shingles,
      // simhash, and the curation token family — before round 11 the
      // index job paid that scan three times over. The staged table is
      // itself the checkpoint barrier this build needs (see above), and
      // its residency is owned by the curationToks memo entry
      // (releaseIndexes frees it with everything else).
      Curation.docToks(spark, dir)
        .select(col("doc_id"), shingleArray(col("toks")).as("sh"))
        .transform(checkpointSer)
    }

  /** Materialized inverted shingle index (doc_id, n_sh, shingle) —
    * shared by jaccardPairs and Corpus's near-dup pass. */
  private[operators] def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    memo(spark, s"shingleIndex|$dir") { checkpointSer(shingleIndexPlan(spark, dir)) }

  private[operators] def shingleIndexPlan(spark: SparkSession, dir: String): DataFrame =
    docShingles(spark, dir)
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("shingle"))

  // shared with streaming.IngestDedup — the stream-side fingerprint
  // must be byte-identical to the batch family's
  private[graft] def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** E1 exact dedup: group on md5 of the whitespace/case-normalized
    * text, keep the lowest doc_id. One hash aggregation; hashing the
    * key first shrinks the shuffle from full document bytes to 32
    * hex chars — at 100 TB the difference between shuffling the corpus
    * and shuffling a fingerprint column. (The oracle groups on the
    * norm text itself: identical partition up to md5 collision.) */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(normText(col("text"))).as("norm_fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  /** Exact dedup on a coarser business key (lang, source): keep the
    * earliest doc per group — the "one doc per crawl source+language"
    * policy. */
  def dedupByKey(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy("lang", "source")

  /** Document-frequency threshold for the inverted-index join. The
    * all-pairs self-join emits O(df²) rows per shingle, so one
    * boilerplate shingle shared by 1M docs would produce 10¹² pairs
    * regardless of partitioning. Shingles at or below the threshold
    * pair all-vs-all; shingles ABOVE it degrade to a star (every doc
    * paired with the shingle group's minimum doc_id — O(df) rows), so
    * the evidence is kept instead of dropped: a template copied 100×
    * still connects through the star even when every shared shingle is
    * hot — star pairs are scored by EXACT intersection of the full
    * shingle sets (true Jaccard ≈ 1 for such templates), and the
    * transitive clustering closes the component. Sub-threshold pairs
    * score off the index join count, which omits shared hot shingles —
    * a conservative lower bound, and any pair so affected is also
    * star-covered. Mirrored verbatim in the DuckDB oracles
    * (q_dedup_jaccard, q_dedup_clusters, q_corpus_*). */
  private[operators] val MaxShingleDf = 64

  /** Ceiling for any corpus-derived star cap — past this even a fully
    * affordable bucket is star-degraded (4096² = 16M pairs from ONE
    * bucket is never the right plan; the ANN/blocked paths own that
    * scale). */
  private[operators] val MaxStarCap = 4096

  /** Corpus-SIZED star cap (round-17: the corpusK discipline applied
    * to the inverted-index emission bound, replacing the corpus-blind
    * constant): the largest power-of-two cap in [floor, MaxStarCap]
    * whose EXTRA all-pairs emission over the floor — Σ df² across
    * buckets with floor < df ≤ cap — stays within floor·nUnits, the
    * per-unit emission budget the floor itself implies. Observed-df
    * driven, one tiny aggregation over the bucket-occupancy table:
    *
    *  - a corpus whose every bucket sits at or under the floor (all
    *    three driver SFs) is unconstrained — the cap is MaxStarCap and
    *    no result changes, because no bucket crosses the floor anyway;
    *  - a benign tail (a few mildly-hot buckets) raises the cap and
    *    those buckets get EXACT all-pairs scoring instead of the
    *    star's lower bound;
    *  - a boilerplate flood (many shared hot buckets — the DedupSpec
    *    planted-clique fixtures) blows the budget and keeps the floor,
    *    so the O(n) star degradation still bounds adversarial input.
    *
    * The static SQL oracles mirror the FLOOR; they stay exact wherever
    * no bucket crosses it (every gate corpus — swept per round) or the
    * budget keeps the floor (the sf0.1 label blocks). The lshBuckets
    * corpus-sized plane count set this precedent. SizingSpec pins the
    * rule on corpora either side of the boundary. */
  private[operators] def starCapFor(occupancy: DataFrame, nUnits: Long,
      floor: Int): Int = {
    val caps = Iterator.iterate(floor.toLong * 2)(_ * 2)
      .takeWhile(_ <= MaxStarCap).map(_.toInt).toSeq
    if (caps.isEmpty || nUnits <= 0) return floor
    val sums = occupancy.agg(
      count(when(col("df") > floor, 1)).as("n_hot"),
      caps.map(c => sum(when(col("df") > floor && col("df") <= c,
        col("df").cast("long") * col("df"))).as(s"e$c")): _*).first()
    if (sums.getLong(0) == 0L) return MaxStarCap // nothing crosses the floor
    val budget = floor.toLong * nUnits
    val affordable = caps.zipWithIndex
      .takeWhile { case (_, i) =>
        val e = if (sums.isNullAt(i + 1)) 0L else sums.getLong(i + 1)
        e <= budget
      }
    affordable.lastOption.map(_._1).getOrElse(floor)
  }

  /** Session-memoized corpus observations per (session, dir, family):
    * the derived caps and the document count they budget against —
    * each derivation is one small aggregation job; every consumer of a
    * family must see the same value or candidate generation and
    * scoring would disagree within a session. Double-checked under the
    * per-key monitors, as in [[memo]]: a cap derivation nests the
    * document count. */
  private val capCache =
    graft.sources.SessionSweep.scoped(new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]())
  private def derived(spark: SparkSession, dir: String, family: String)(
      f: => Long): Long = {
    val k = s"${sessionKey(spark)}|$family|$dir"
    val hit = capCache.get(k)
    if (hit != null) hit.longValue
    else keyLocks.computeIfAbsent(k, _ => new Object).synchronized {
      val again = capCache.get(k)
      if (again != null) again.longValue
      else { val v = f; capCache.put(k, java.lang.Long.valueOf(v)); v }
    }
  }
  private def derivedCap(spark: SparkSession, dir: String, family: String)(
      f: => Int): Int = derived(spark, dir, family)(f.toLong).toInt

  /** Document count of the corpus, memoized with the caps: the shingle
    * and band cap budgets and [[jaccardPairPlan]]'s broadcast switch
    * all read it, so building the pair plan runs no job of its own. */
  private[operators] def docCount(spark: SparkSession, dir: String): Long =
    derived(spark, dir, "docCount")(Tables.documents(spark, dir).count())

  /** Broadcast ceiling (documents) for the pair table's size
    * re-attach join: one (long, long) row per doc is ~48 B framed in
    * a HashedRelation, so 16M docs ≈ 0.8 GB — well under the 8 GB /
    * 512M-row broadcast hard cap with margin for executor residency.
    * Past it the size join falls back to the planner's shuffle join,
    * bounded by the aggregated pair table. */
  private[operators] val PairSizeBroadcastMaxDocs = 16000000L

  /** Derived shingle-df cap for [[jaccardPairPlan]]'s inverted index. */
  private[operators] def shingleStarCap(spark: SparkSession, dir: String): Int =
    derivedCap(spark, dir, "shingleCap") {
      starCapFor(
        shingleIndex(spark, dir).groupBy("shingle")
          .agg(count(lit(1)).as("df")),
        docCount(spark, dir), MaxShingleDf)
    }

  /** Derived MinHash band-bucket cap (corpus-level candidate join). */
  private[operators] def bandStarCap(spark: SparkSession, dir: String): Int =
    derivedCap(spark, dir, "bandCap") {
      starCapFor(
        minhashBandTable(spark, dir).groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("df")),
        docCount(spark, dir), MaxBandDf)
    }

  /** Derived SimHash chunk-bucket cap. */
  private[operators] def chunkStarCap(spark: SparkSession, dir: String): Int =
    derivedCap(spark, dir, "chunkCap") {
      val docs = simhashDocs(spark, dir)
      starCapFor(
        docs.select(col("doc_id"),
            posexplode(array((0 until 4).map(j =>
              substring(col("bitstr"), j * 16 + 1, 16)): _*))
              .as(Seq("chunk_idx", "chunk")))
          .groupBy("chunk_idx", "chunk").agg(count(lit(1)).as("df")),
        docs.count(), MaxBandDf)
    }

  /** Derived label-block cap for [[embeddingPairs]] (floor
    * MaxLabelBlock). The semanticDedup CELL cap stays the constant —
    * its oracle is STATIC SQL shared across the seeded and fitted
    * registrations, and the belt-and-braces bound there guards a
    * degenerate geometry, not a corpus property. */
  private[operators] def labelBlockCap(spark: SparkSession, dir: String): Int =
    derivedCap(spark, dir, "labelCap") {
      starCapFor(
        Tables.embeddings(spark, dir).groupBy("label")
          .agg(count(lit(1)).as("df")),
        Tables.embeddings(spark, dir).count(), MaxLabelBlock)
    }

  /** Derived LSH bucket cap (embedding ANN-blocked dedup). */
  private[operators] def bucketStarCap(spark: SparkSession, dir: String): Int =
    derivedCap(spark, dir, "bucketCap") {
      starCapFor(
        Similarity.lshBuckets(spark, dir).groupBy("table_idx", "bucket")
          .agg(count(lit(1)).as("df")),
        Similarity.embBase(spark, dir).count(), MaxBandDf)
    }

  /** Materialized candidate-pair table (id_a, id_b, n_a, n_b,
    * n_common, jaccard) — the most expensive stage of the near-dup
    * family — computed once per (session, dir) and shared by
    * jaccardPairs, dedupClusters, and the corpus cleaner.
    *
    * Two scoring branches, merged by pair key:
    *  - sub-threshold shingles pair all-vs-all and score straight off
    *    the index join (groupBy pair → count of shared shingles):
    *    whole-stage-codegen hash aggregation, no arrays shuffled —
    *    with ~10⁶ candidate pairs at sf0.1, re-intersecting full
    *    shingle arrays per pair measured 6× slower than the count.
    *    n_common omits shared HOT shingles (a conservative lower
    *    bound on true Jaccard) — acceptable because any pair sharing
    *    a hot shingle is also star-covered below.
    *  - hot shingles contribute star pairs (doc → shingle-group min),
    *    scored by exact intersection of the pair's full shingle sets
    *    — typically a tiny set (only templated near-identical docs),
    *    so the array join-back is bounded.
    * A pair found by both branches keeps the larger n_common (the
    * star's exact count dominates the sub-threshold undercount).
    * One shuffle on the shingle computes df and the group minimum in
    * a single window pass; the candidate join reuses that
    * partitioning. */
  private[operators] def jaccardPairTable(spark: SparkSession, dir: String): DataFrame =
    memo(spark, s"jaccardPairs|$dir") {
      checkpointSer(jaccardPairPlan(spark, dir))
    }

  /** The pair-table PLAN without the memo/checkpoint wrapper — what
    * the index job writes STRAIGHT to parquet. The session path above
    * double-materializes (checkpoint serialize + parquet encode,
    * measured ~9 CPU-s of the artifact's 16 at sf0.1); the file-backed
    * build pays the parquet encode only and re-points the memo at the
    * written files, exactly the state primeIndexes would establish. */
  private[operators] def jaccardPairPlan(spark: SparkSession, dir: String): DataFrame = {
      // Candidate generation and intersection counting run on 64-bit
      // shingle FINGERPRINTS (xxhash64 of the shingle string), not the
      // strings themselves: the index self-join's shuffle keys, the
      // pair aggregation's probe work, and the star branch's
      // array_intersect all operate on 8-byte longs instead of ~25-byte
      // strings — measured 11.6 → 3.5 CPU-s for the full pair build at
      // sf0.1 (the #1 item of the index job's CPU budget). Equality of
      // fingerprints stands in for equality of shingles: with d
      // distinct shingles the expected number of colliding pairs is
      // d²/2^65 (~5·10⁻¹² at sf0.1's 27k; ~3·10⁻⁶ at a 100 TB-corpus
      // 10¹⁰ shingles — still ≪ 1), so df groups, group minima, shared
      // counts, and intersections are identical to the string
      // computation, and the DuckDB oracles (which mirror the STRING
      // formulation verbatim) stay hash-exact — swept at all three SFs.
      // The projection sits ON TOP of the memoized string artifacts, so
      // artifact schemas, appends, and every other consumer are
      // untouched.
      val w = Window.partitionBy(col("shingle"))
      // round 17: the star cap is corpus-SIZED (observed-df budget,
      // MaxShingleDf floor — see starCapFor); at every gate SF the
      // distribution never crosses the floor, so the static oracles'
      // floor mirror stays exact there
      val cap = shingleStarCap(spark, dir)
      val idx = shingleIndex(spark, dir)
        .withColumn("shingle", xxhash64(col("shingle")))
        .withColumn("df", count(lit(1)).over(w))
        .withColumn("min_id", min(col("doc_id")).over(w))
      val small = idx.filter(col("df") <= cap)
      // SLIM pair rows (r20, §2.3 project-before-the-exchange): the
      // per-doc set sizes n_a/n_b are constants per doc_id, so carrying
      // them through the candidate self-join and the pair aggregation
      // shipped two redundant longs on EVERY shared-shingle row (the
      // build's largest exchange) and tracked two max() states per pair
      // for values the tiny per-doc size table already knows. The pair
      // rows are now (id_a, id_b, star_common) only; sizes re-attach
      // AFTER the aggregation via broadcast hash joins against the
      // doc-count-sized size table (same values: max of a per-doc
      // constant IS the constant — swept hash-exact at all three SFs).
      val a = small.select(col("doc_id").as("id_a"), col("shingle"))
      val b = small.select(col("doc_id").as("id_b"), col("shingle"))
      // one shared-shingle row per (pair, shingle); star_common null
      // marks the branch so a SINGLE aggregation merges both
      val smallRows = a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          lit(null).cast("long").as("star_common"))
      val starCands = idx.filter(col("df") > cap)
        .filter(col("doc_id") =!= col("min_id"))
        .select(col("min_id").as("id_a"), col("doc_id").as("id_b"))
        .distinct()
      val sh = docShingles(spark, dir)
        .withColumn("sh", transform(col("sh"), s => xxhash64(s)))
      val shA = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val shB = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val starRows = starCands.join(shA, Seq("id_a")).join(shB, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("star_common"))
      // single pair-keyed aggregation with map-side partials: the
      // shared-shingle count (small branch) and the exact intersection
      // (star branch) combine as greatest() — equivalent to the
      // two-step union+max merge, one exchange instead of two
      val sizes = docShingles(spark, dir)
        .select(col("doc_id"), size(col("sh")).cast("long").as("n"))
      // observed-size switch (the BroadcastMaxNodes discipline): the
      // size side is one (long, long) row per document — broadcast it
      // below the ceiling (docShingles is checkpoint-backed, so the
      // planner's estimate is the useless default and would never
      // broadcast on its own); a corpus past the ceiling joins plain
      // (sort-merge bounded by the aggregated pair table, which at
      // that scale dwarfs the size join anyway)
      val sizeJoin: DataFrame => DataFrame =
        if (docCount(spark, dir) <= PairSizeBroadcastMaxDocs)
          broadcast(_) else identity
      smallRows.unionByName(starRows)
        .groupBy("id_a", "id_b")
        .agg(count(when(col("star_common").isNull, 1)).as("small_common"),
          max(col("star_common")).as("star_max"))
        .join(sizeJoin(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a"))),
          Seq("id_a"))
        .join(sizeJoin(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b"))),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
          greatest(col("small_common"), coalesce(col("star_max"), lit(0L)))
            .as("n_common"))
        .withColumn("jaccard",
          col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")))
    }

  /** E2 n-gram Jaccard near-dup: inverted-index candidate join on
    * shared shingles, then exact Jaccard from the distinct-set sizes.
    * Top-20 most similar pairs (deterministic total order). */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairTable(spark, dir)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc)
      .limit(20)

  /** Asymmetric containment near-dup: a document whose shingle set is
    * largely CONTAINED in another's is a subset/quote duplicate even
    * when symmetric Jaccard is low (a paragraph pasted into a 10×
    * longer page — the case the symmetric family structurally
    * under-scores, because the union in Jaccard's denominator is
    * dominated by the larger doc). Containment = n_common /
    * min(n_a, n_b): the smaller side's coverage. Ranked by the
    * asymmetry gap (containment − jaccard) rather than a fixed
    * threshold, so the query surfaces the most subset-like pairs on
    * any corpus instead of encoding a fixture-tuned cutoff.
    *
    * Rides the shared candidate-pair artifact (blocked inverted index,
    * star-capped — see [[jaccardPairTable]]); this stage itself is a
    * projection + TakeOrderedAndProject, so its 100 TB posture is the
    * pair table's. Both scores divide the same integers in both
    * engines, so the rank keys are bit-identical doubles. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairTable(spark, dir)
      .withColumn("cont",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("cont"), 6).as("containment"),
        round(col("jaccard"), 6).as("jaccard"),
        round(col("cont") - col("jaccard"), 6).as("asym_gap"),
        (col("cont") - col("jaccard")).as("_gap"))
      .orderBy(col("_gap").desc, col("id_a").asc, col("id_b").asc)
      .limit(20)
      .drop("_gap")

  /** Stand-in ingest batch: every doc_id ≡ 9 (mod 10) is "newly
    * arrived"; the rest are the existing corpus. The operator itself
    * takes any batch predicate — the testdata has no ingest column. */
  private[operators] val NewBatchModulus = 10

  /** The watermark window the REGISTERED q_dedup_incremental verifies:
    * doc ids in (lo, hi] are the "new" batch — the exact predicate
    * shape ingestSinceWatermark appends under (stored mark → newMark),
    * so the oracle-checked plan is the production plan, not a modulus
    * demo. The constants exist at every test SF. */
  private[operators] val DemoWatermarkLo = 400L
  private[operators] val DemoWatermarkHi = 500L

  /** Incremental ingest dedup: near-dup matches of the NEW batch
    * against the EXISTING corpus only — the per-batch question a
    * 100 TB pipeline actually asks (is this new document a copy of
    * something we already have?), answered WITHOUT rebuilding or
    * rescanning corpus-vs-corpus pairs. Rides the memoized (and
    * parquet-persistable, see writeIndexes) pair table: the only new
    * work is orienting the cross-batch pairs and a per-new-doc top-k
    * window. Corpus-corpus and new-new pairs never reach the output —
    * dedup WITHIN the batch is exactDedup/jaccardPairs' job.
    * `isNew` maps a doc-id column to batch membership; the two public
    * variants supply the watermark window (production) and the modulus
    * demo (synthetic). */
  private def incrementalNearDupsBy(spark: SparkSession, dir: String,
                                    isNew: Column => Column,
                                    threshold: Double, k: Int): DataFrame = {
    val isNewA = isNew(col("id_a"))
    val isNewB = isNew(col("id_b"))
    val oriented = jaccardPairTable(spark, dir)
      // exactly-one-side-new implies at-least-one-side-new; stating the
      // implied disjunction separately gives the parquet reader a
      // min/max-prunable predicate per column — on a pair artifact
      // sorted or clustered by id (the compacted layout) the scan skips
      // every row group outside the batch window instead of reading the
      // corpus-global table to evaluate the non-pushable XOR
      .filter(isNewA || isNewB)
      .filter(isNewA =!= isNewB)
      .select(when(isNewA, col("id_a")).otherwise(col("id_b")).as("new_id"),
        when(isNewA, col("id_b")).otherwise(col("id_a")).as("match_id"),
        col("n_common"), col("jaccard"))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("jaccard").desc, col("match_id").asc)
    oriented.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("new_id", "rn")
  }

  /** Modulus-batch variant — a synthetic demo predicate kept for
    * corpora with no id ordering; the oracle-paired query runs the
    * watermark variant below. */
  def incrementalNearDups(spark: SparkSession, dir: String,
                          threshold: Double = 0.5, k: Int = 3): DataFrame =
    incrementalNearDupsBy(spark, dir,
      _ % NewBatchModulus === (NewBatchModulus - 1), threshold, k)

  /** Watermark-window variant: the batch is doc ids in (lo, hi] — the
    * predicate ingestSinceWatermark's append runs under, so what the
    * driver oracle verifies is the production incremental plan. */
  def incrementalNearDupsSince(spark: SparkSession, dir: String,
                               lo: Long = DemoWatermarkLo, hi: Long = DemoWatermarkHi,
                               threshold: Double = 0.5, k: Int = 3): DataFrame =
    incrementalNearDupsBy(spark, dir, id => id > lo && id <= hi, threshold, k)

  /** Threshold for the cross-source overlap report. */
  private[operators] val SourceOverlapThreshold = 0.5

  /** Cross-source near-duplication report: for every unordered pair of
    * ingest sources, how many high-similarity document pairs cross it
    * and how similar they are — the multi-source governance question
    * ("is feed B largely a mirror of feed A?") a pipeline answers
    * BEFORE paying to dedup, license, or re-crawl a source. Rides the
    * memoized/persisted pair table (zero new pair generation); the
    * source join is against a (doc_id, source) projection and the
    * output is at most C(|sources|+1, 2) rows. Mean/max are computed
    * on 9-dp-rounded DECIMAL jaccards so reduction order cannot move
    * them. */
  def sourceOverlap(spark: SparkSession, dir: String,
                    threshold: Double = SourceOverlapThreshold): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    jaccardPairTable(spark, dir)
      .filter(col("jaccard") >= threshold)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        round(col("jaccard"), 9).cast("decimal(29,9)").as("j"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("j")).cast("double") / count(lit(1)), 6).as("mean_jaccard"),
        round(max(col("j")).cast("double"), 6).as("max_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Hard cap on an edit-distance block's membership: a block of n
    * docs emits O(n²) DP comparisons, so one hot block (boilerplate
    * corpora where half the documents open with "th…") would be
    * quadratic with no bound — the same failure mode MaxShingleDf
    * guards in the Jaccard index. Blocks over the cap keep their
    * lowest-doc_id members (deterministic, mirrored in the oracle),
    * bounding any block's pair count at C(cap, 2). */
  private[operators] val MaxEditBlock = 256

  /** All blocked-and-capped edit-distance candidate pairs (the scored
    * table editDistancePairs ranks). Exposed for DedupSpec's planted
    * hot-block bound. */
  private[operators] def editCandidates(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), normText(col("text")).as("norm"))
      .select(col("doc_id"), col("lang"),
        substring(col("norm"), 1, 24).as("prefix"),
        substring(col("norm"), 1, 2).as("blk"),
        expr("length(norm) DIV 32").as("lb"))
    val capped = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"), col("blk"), col("lb")).orderBy(col("doc_id"))))
      .filter(col("rn") <= MaxEditBlock)
      .drop("rn")
    val a = capped.select(col("doc_id").as("id_a"), col("lang"), col("blk"),
      col("lb"), col("prefix").as("pfx_a"))
    val b = capped.select(col("doc_id").as("id_b"), col("lang"), col("blk"),
      col("lb"), col("prefix").as("pfx_b"))
    a.join(b, Seq("lang", "blk", "lb")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("lang"),
        levenshtein(col("pfx_a"), col("pfx_b")).as("edit_dist"))
  }

  /** E2 edit-distance near-dup: Levenshtein over 24-char normalized
    * prefixes, blocked on (language, 2-char prefix block, 32-char
    * length bucket) — standard blocking: the quadratic DP only runs
    * inside small candidate blocks, never across the corpus (lang-only
    * blocking measured 12× slower at sf0.1; the length bucket keeps a
    * 10-char note from pairing with a 10k-char page that happens to
    * share its opening). Blocks are additionally capped at MaxEditBlock
    * members, so no hot block is ever quadratic in the corpus. Top-20
    * closest pairs — integer distances, deterministic tie-break; both
    * engines implement Wagner-Fischer, so the oracle hash-matches. */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame =
    editCandidates(spark, dir)
      .orderBy(col("edit_dist").asc, col("id_a").asc, col("id_b").asc)
      .limit(20)

  /** Near-dup threshold for the cluster graph (same as Corpus's
    * cleaning policy). */
  private[operators] val ClusterJaccard = 0.8

  /** Connected components by alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm): each round rewires every
    * node's neighborhood toward its minimum, and the edge set
    * converges to stars rooted at each component's minimum id in
    * O(log n) rounds REGARDLESS of graph diameter — the kernel for
    * adversarial chain-shaped graphs where per-round min-label
    * propagation (dedupClusters' default, optimal for the shallow
    * clusters dup graphs actually have) would need diameter rounds.
    *
    * Input: undirected edges (id_a, id_b). Output: (id, component) for
    * every node incident to an edge, component = min id of the
    * component (same contract as the propagation loop; DedupSpec pins
    * equivalence against a driver-side union-find on seeded random
    * graphs and the round bound on a 200-node path).
    *
    * Each round is two window passes + distincts over the EDGE table
    * (tiny next to the corpus); superseded edge checkpoints are freed
    * as soon as the next round materializes. Convergence is an exact
    * multiset compare of consecutive edge sets (exceptAll both ways is
    * overkill — equal counts + empty one-sided exceptAll suffices for
    * distinct edge sets). */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** connectedComponents plus the number of star rounds it took —
    * exposed so DedupSpec can pin the O(log n) bound on a path graph
    * (200 nodes ⇒ well under 20 rounds; min-label propagation would
    * need ~200). */
  private[operators] def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // canonical undirected, self-loop-free edge set
    var (edges, edgeIds) = trackedCheckpoint(pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      // large-star: for every node u, link each STRICTLY LARGER
      // neighbor to the minimum of the closed neighborhood
      val bidir = edges.select(col("u").as("a"), col("v").as("b"))
        .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      val w = Window.partitionBy(col("a"))
      val ls = bidir
        .withColumn("m", least(col("a"), min(col("b")).over(w)))
        .filter(col("b") > col("a"))
        .select(least(col("b"), col("m")).as("u"),
          greatest(col("b"), col("m")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: for every node a, link its smaller-or-self
      // neighborhood to that neighborhood's minimum
      val bidir2 = ls.select(col("u").as("a"), col("v").as("b"))
        .unionByName(ls.select(col("v").as("a"), col("u").as("b")))
      val smaller = bidir2.filter(col("b") < col("a"))
      val w2 = Window.partitionBy(col("a"))
      val withMin = smaller.withColumn("m", min(col("b")).over(w2))
      val ss = withMin
        .select(col("a"), col("b"), col("m"))
        .select(explode(array(
          struct(col("a").as("x"), col("m").as("y")),
          struct(col("b").as("x"), col("m").as("y")))).as("e"))
        .select(least(col("e.x"), col("e.y")).as("u"),
          greatest(col("e.x"), col("e.y")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val (next, nextIds) = trackedCheckpoint(ss)
      val sameCount = next.count() == edges.count()
      converged = sameCount &&
        next.exceptAll(edges).limit(1).count() == 0
      unpersistIds(spark, edgeIds)
      edges = next
      edgeIds = nextIds
    }
    trackStray(spark, edgeIds)
    // converged edges are stars (root = component min); roots label
    // themselves
    val labels = edges.select(col("v").as("id"), col("u").as("component"))
      .unionByName(edges.select(col("u").as("id"), col("u").as("component")))
      .groupBy("id").agg(min(col("component")).as("component"))
    (labels, rounds)
  }

  /** Transitive dedup clustering: connected components over the
    * similarity graph, where edges are (a) exact-duplicate star pairs
    * (keep-lowest-id → other members of the same normalized-text
    * group) and (b) near-duplicate pairs with Jaccard ≥ 0.8. Each doc
    * in the graph gets its component's minimum doc_id as the canonical
    * id — the cluster-resolution step that turns Dedup's pair reports
    * into keep/drop decisions with transitivity (A~B~C collapses to
    * one cluster even when A≁C, which the greedy policy in Corpus
    * deliberately over-drops).
    *
    * Execution: Pregel-style min-label propagation — labels start as
    * the node id and each iteration takes the min over neighbors,
    * until a fixpoint. Iterations = graph diameter (dup clusters are
    * shallow; the pair table is tiny next to the corpus), each one a
    * distributed join + agg with the lineage truncated by
    * localCheckpoint; the driver sees only the converged count. At
    * adversarial diameters, swap the loop for connectedComponents
    * (alternating large-star/small-star, O(log n) rounds, identical
    * output — DedupSpec pins the equivalence and the round bound).
    * Oracle: a DuckDB recursive CTE over the identical edge set. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .orderBy("component", "doc_id")

  /** Memoized converged component labels (doc_id, component) over the
    * similarity graph — the propagation loop runs once per (session,
    * dir) and is shared by dedupClusters and clusterCanonical (the
    * memo's tracked-checkpoint discipline frees the label blocks at
    * releaseIndexes). Only docs incident to an edge appear. */
  private[operators] def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    memo(spark, s"clusterLabels|$dir") {
      // exact-dup star via window-min, never collect_list: a document
      // copied n times is n rows through the window, not one n-element
      // array row (the hot-key OOM shape at corpus scale)
      val wFp = Window.partitionBy(col("fp"))
      val exactPairs = Tables.documents(spark, dir)
        .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
        .withColumn("keep_id", min(col("doc_id")).over(wFp))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("keep_id").as("id_a"), col("doc_id").as("id_b"))
      val nearPairs = jaccardPairTable(spark, dir)
        .filter(col("jaccard") >= ClusterJaccard)
        .select(col("id_a"), col("id_b"))
      val pairs = exactPairs.unionByName(nearPairs)
      // undirected: propagate along both directions of every edge
      val (edges, edgeIds) = trackedCheckpoint(pairs
        .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .distinct())
      var (labels, labelIds) = trackedCheckpoint(
        edges.select(col("id_a").as("id")).distinct().withColumn("lbl", col("id")))
      // Convergence probe: labels only ever decrease, so the exact label
      // sum (DECIMAL(38,0) — no overflow at any corpus size) strictly
      // decreases iff any label changed. One aggregate over the tiny
      // checkpointed label table per round, instead of a join + count.
      def lblSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("lbl").cast("decimal(38,0)"))).first().getDecimal(0)
      var prevSum = lblSum(labels)
      // a corpus with NO dup edges has an empty label table (sum NULL):
      // nothing to propagate — the converged result is the empty set
      // (previously unreachable: only dup-bearing corpora built labels;
      // as an index ARTIFACT the builder must handle any corpus)
      var converged = prevSum == null
      while (!converged) {
        val nbrMin = edges.join(labels, edges("id_b") === labels("id"))
          .groupBy(edges("id_a").as("id")).agg(min(col("lbl")).as("nbr_lbl"))
        val (next, nextIds) = trackedCheckpoint(labels.alias("l")
          .join(nbrMin.alias("n"), Seq("id"), "left")
          .select(col("id"),
            least(col("l.lbl"), coalesce(col("n.nbr_lbl"), col("l.lbl"))).as("lbl")))
        val nextSum = lblSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        // the superseded label table is dead once `next` is materialized;
        // holding every round's checkpoint grows block-manager storage
        // linearly in iteration count (the round-3 leak)
        unpersistIds(spark, labelIds)
        labels = next
        labelIds = nextIds
      }
      unpersistIds(spark, edgeIds)
      // the final label checkpoint survives as the memo entry; its ids
      // land in indexRdds via the memo's before/after diff
      labels.select(col("id").as("doc_id"), col("lbl").as("component"))
    }

  /** Quality-aware canonical selection: for every dup cluster, keep the
    * best member instead of the lowest id — prefer documents the
    * quality heuristics pass ('ok' over any reject tier), then longer
    * documents, then the lowest doc_id as the final tie-break. Emits a
    * per-document keep/drop decision — the actual output a curation
    * pipeline consumes (dedupClusters reports the clusters; this turns
    * them into actions that retain the most valuable copy).
    *
    * Scale: the label table is tiny (docs incident to a dup edge), so
    * the corpus join broadcasts it under AQE stats; the selection
    * window partitions by component over that already-small join
    * result. The quality columns are one narrow scan projection —
    * ratios identical to TextAnalysis.qualityScore, whose oracle
    * hash-matches, so the tier comparison is parity-safe. */
  def clusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t)
    // greatest(,1): an empty document must classify, not throw
    // DIVIDE_BY_ZERO under ANSI mode; mirrored in the oracle
    val punctRatio = round(
      length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("double") /
        greatest(length(col("text")), lit(1)), 6)
    val distinctRatio = round(size(array_distinct(t)).cast("double") / nTok, 6)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), nTok.cast("long").as("n_tokens"),
        when(nTok < 10, "too_short")
          .when(punctRatio > 0.2, "too_punct")
          .when(distinctRatio < 0.2, "too_repetitive")
          .otherwise("ok").as("quality"))
    val sel = Window.partitionBy(col("component"))
      .orderBy(when(col("quality") === "ok", 0).otherwise(1).asc,
        col("n_tokens").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    clusterLabels(spark, dir).join(docs, Seq("doc_id"))
      .withColumn("keep_id", first(col("doc_id")).over(sel))
      .select(col("doc_id"), col("component"), col("quality"), col("n_tokens"),
        col("keep_id"),
        when(col("doc_id") === col("keep_id"), "keep").otherwise("drop").as("action"))
      .orderBy("component", "doc_id")
  }

  // ---- MinHash + LSH ------------------------------------------------

  /** Mersenne prime 2^31-1: universal-hash modulus. a*x+b stays well
    * inside Long (a,x < 2^31 → product < 2^62). */
  private val P = 2147483647L
  private[graft] val NumHashes = 32

  /** Seeded (a,b) pairs for the k universal hash functions — fixed
    * seed so signatures are stable across runs and executors. */
  private val hashParams: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)((1L + rnd.nextInt((P - 1).toInt).toLong,
                         rnd.nextInt(P.toInt).toLong))
  }

  /** Shingle set → base hashes, one xxhash64 per shingle. Keep this in
    * its OWN projection (aliased column) — the signature references it
    * k times, and Catalyst's CollapseProject would otherwise inline the
    * whole shingle construction into every one of the k min-hash
    * transforms (measured 30× slower). */
  def shingleHashes(sh: Column): Column =
    transform(sh, s => pmod(xxhash64(s), lit(P)))

  /** k-int MinHash signature over pre-hashed shingles `hs`
    * (shingleHashes output): sig_i = min over shingles of
    * ((a_i * h + b_i) mod P). Pure integer column arithmetic. */
  def minhashSignature(hs: Column): Column =
    array(hashParams.map { case (a, b) =>
      array_min(transform(hs, h => pmod(h * lit(a) + lit(b), lit(P))))
    }: _*)

  /** E2 MinHash+LSH near-dup: signature → banded bucket join →
    * candidate pairs ranked by estimated Jaccard (fraction of agreeing
    * signature positions). 16 bands of r=2 over k=32 hashes:
    * P(candidate) = 1-(1-j²)^16, ≈1 above j=0.6 and ≈0.15 at j=0.1 —
    * the production knee (r=1 is the maximum-recall corner whose
    * candidate count explodes on a corpus with real duplicates;
    * DedupSpec pins planted-pair recall at this setting). Rows-only
    * for the driver (xxhash64 has no DuckDB twin); semantics pinned in
    * DedupSpec. */
  /** Materialized (doc_id, sig) MinHash signature table. Signatures
    * computed exactly once (checkpoint): the band explode and both
    * candidate-join sides would otherwise each inline the full
    * 32-hash × shingle-set computation per reference. Staged
    * projections (shingles → hashes → signature) keep each expensive
    * array built once per row. */
  private[graft] def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    memo(spark, s"minhashSigs|$dir") { checkpointSer(minhashSigsPlan(spark, dir)) }

  private[operators] def minhashSigsPlan(spark: SparkSession, dir: String): DataFrame =
    docShingles(spark, dir)
      .select(col("doc_id"), shingleHashes(col("sh")).as("hs"))
      .select(col("doc_id"), minhashSignature(col("hs")).as("sig"))

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(spark, dir)
    // corpus-sized band cap (floor MaxBandDf); the dump-time oracle
    // interpolates the same derived value
    val cands = minhashCandidates(sigs, bandRows = 2, bandStarCap(spark, dir))
    val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
    // Unhinted equi-joins back to the signature table: the signature
    // side is O(corpus), so a broadcast hint would OOM at scale — let
    // AQE pick broadcast when the post-LSH candidate set is small and
    // shuffle-join otherwise (one shuffle of sigs on doc_id).
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          bb => bb)).cast("double") / NumHashes).as("est_jaccard"))
      .orderBy(col("est_jaccard").desc, col("id_a").asc, col("id_b").asc)
      .limit(20)
  }

  /** Array of per-band bucket hashes over a signature column: band j
    * is md5 of the comma-joined signature slice [j*r, (j+1)*r). Shared
    * by the batch candidate join, the persisted band-bucket artifact,
    * and the streaming ingest's query side — all three MUST bucket
    * identically or stream/batch recall diverges. */
  private[graft] def bandHashes(sig: Column, bandRows: Int = 2): Column =
    array((0 until NumHashes / bandRows).map { j =>
      md5(concat_ws(",", slice(sig, j * bandRows + 1, bandRows)))
    }: _*)

  /** MinHash signature of a raw text column in ONE expression tree —
    * the streaming-safe twin of the batch docShingles→minhashSignatures
    * pipeline (a stream cannot localCheckpoint its projection stages).
    * The checkpoint barriers exist only to stop CollapseProject from
    * re-inlining multiply-referenced arrays; here each stage is bound
    * as a higher-order-function lambda variable instead (a singleton
    * `transform`), which Catalyst cannot inline through: tokens are
    * split once, shingle hashes are built once, and the 32 min-hash
    * probes all read the bound `hs` value. Byte-identical output to
    * the batch path (IngestDedupSpec pins parity). */
  private[graft] def minhashOfText(text: Column): Column =
    element_at(transform(array(toks(text)), t =>
      element_at(transform(array(shingleHashes(shingleArray(t))), hs =>
        minhashSignature(hs)), 1)), 1)

  /** Materialized (doc_id, band_idx, band_hash) LSH band-bucket table —
    * the inverted index a streaming ingest probes with a stream-static
    * join (IngestDedup.nearDupIngest); persisted/primed via
    * writeIndexes/primeIndexes like every other index artifact. */
  private[graft] def minhashBandTable(spark: SparkSession, dir: String): DataFrame =
    memo(spark, s"minhashBands|$dir") { checkpointSer(minhashBandsPlan(spark, dir)) }

  private[operators] def minhashBandsPlan(spark: SparkSession, dir: String): DataFrame =
    minhashSignatures(spark, dir)
      .select(col("doc_id"),
        posexplode(bandHashes(col("sig"))).as(Seq("band_idx", "band_hash")))

  /** Hard cap on a bucket's ALL-PAIRS membership in the banded
    * candidate joins (MinHash bands, embedding LSH buckets) — the df
    * bound MaxShingleDf puts on the shingle inverted index, applied to
    * the other two inverted indexes: a bucket of n members emits
    * C(n,2) candidates, so ONE hot bucket capturing 10% of a corpus
    * (a boilerplate flood of byte-identical documents hashes every
    * band identically) is quadratic with no bound. Buckets past the
    * cap degrade to the STAR pattern — every member pairs with the
    * bucket's minimum id, O(n) pairs — which keeps near-identical
    * members connected (directly to the min; transitively to each
    * other through clustering) instead of silently dropping the
    * bucket. DedupSpec plants an 80-member clique and pins the
    * C(cap,2) → star bound for both joins. */
  private[operators] val MaxBandDf = 64

  /** Distinct candidate pairs from an inverted bucket index
    * (`id` + bucket-key columns, one row per membership) under the
    * MaxBandDf star degradation: buckets at df ≤ cap emit all pairs;
    * larger buckets emit star-to-min pairs. One shuffle on the bucket
    * key for the df/min window, then the same co-located equi-join as
    * the uncapped shape. */
  private[operators] def starCappedPairs(buckets: DataFrame, keys: Seq[String],
                                         cap: Int = MaxBandDf): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val staged = buckets
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("min_id", min(col("id")).over(w))
    val small = staged.filter(col("df") <= cap)
    val a = small.select(col("id").as("id_a") +: keys.map(col): _*)
    val b = small.select(col("id").as("id_b") +: keys.map(col): _*)
    val allPairs = a.join(b, keys).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val star = staged.filter(col("df") > cap && col("id") =!= col("min_id"))
      .select(col("min_id").as("id_a"), col("id").as("id_b"))
    allPairs.unionByName(star).distinct()
  }

  /** Banded LSH candidate generation: hash each band of `bandRows`
    * signature values, join docs sharing a (band index, band hash)
    * bucket — star-capped at MaxBandDf per bucket. Output: distinct
    * (id_a < id_b) pairs. */
  def minhashCandidates(sigs: DataFrame, bandRows: Int,
                        cap: Int = MaxBandDf): DataFrame =
    starCappedPairs(
      sigs.select(col("doc_id").as("id"),
        posexplode(bandHashes(col("sig"), bandRows)).as(Seq("band_idx", "band_hash"))),
      Seq("band_idx", "band_hash"), cap)

  // ---- SimHash ------------------------------------------------------

  /** 64-bit SimHash of the token multiset as an array of 64 0/1 ints:
    * bit i is set iff the sum of ±1 contributions (per token, from bit
    * i of xxhash64(token)) is positive. Bit extraction goes through
    * bin() → fixed-width bitstring so the lambda index stays a Column
    * (shiftright needs a literal); each token's bitstring is built once
    * (inner transform) before the 64 per-bit probes. */
  def simhashBits(tokens: Column): Column = {
    val tokBits = transform(tokens, t => lpad(bin(xxhash64(t)), 64, "0"))
    val contrib = (bs: Column) => transform(
      sequence(lit(1), lit(64)),
      i => when(bs.substr(i, lit(1)) === "1", 1).otherwise(-1))
    val acc = aggregate(
      tokBits,
      array_repeat(lit(0), 64),
      (a, bs) => zip_with(a, contrib(bs), (x, y) => x + y))
    transform(acc, v => when(v > 0, 1).otherwise(0))
  }

  /** E2 SimHash near-dup: 64-bit fingerprints, candidates = pairs
    * sharing at least one of four 16-bit chunks (pigeonhole ⇒ finds
    * every pair with Hamming distance ≤ 3 without an all-pairs scan),
    * ranked by exact Hamming distance. Rows-only for the driver;
    * semantics pinned in DedupSpec. */
  /** (doc_id, bits, bitstr) SimHash table via explode + one 64-column
    * hash aggregation: sum the ±1 contribution of every token per bit
    * position. Unlike the per-row lambda formulation (simhashBits,
    * kept for Column-level use), this shape is whole-stage-codegen'd
    * with map-side partial aggregation — the 100 TB path. */
  def simhashTable(spark: SparkSession, dir: String): DataFrame =
    simhashTableOf(Tables.documents(spark, dir))

  /** simhashTable over an arbitrary documents slice (doc_id, text …) —
    * the appendIndexes path (a batch tokenizes at batch size). */
  private def simhashTableOf(docs: DataFrame): DataFrame =
    simhashFromToks(docs.select(col("doc_id"), toks(col("text")).as("toks")))

  /** simhash core over an already-tokenized slice (doc_id, toks) — lets
    * the full-corpus build share the curationToks text scan. */
  private def simhashFromToks(tokTable: DataFrame): DataFrame = {
    // bit position i (0-based, MSB first — matches simhashBits'
    // bin()/lpad layout; DedupSpec's differential test pins the parity)
    def contrib(i: Int) =
      sum(when(shiftright(col("h"), 63 - i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    val sums = tokTable
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
      .groupBy("doc_id")
      .agg(contrib(0), (1 until 64).map(contrib): _*)
    val bitCols = (0 until 64).map(i => when(col(s"b$i") > 0, 1).otherwise(0))
    sums.select(col("doc_id"), array(bitCols: _*).as("bits"),
      concat(bitCols.map(_.cast("string")): _*).as("bitstr"))
  }

  /** Materialized SimHash fingerprint table (memoized checkpoint of
    * simhashTable). */
  private[operators] def simhashDocs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, s"simhashTable|$dir") {
      // full-corpus path rides the shared tokenized staging — see
      // docShingles: one text scan serves all three token families
      checkpointSer(simhashPlan(spark, dir))
    }

  private[operators] def simhashPlan(spark: SparkSession, dir: String): DataFrame =
    simhashFromToks(Curation.docToks(spark, dir))

  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // Candidate pairs are deduped BEFORE the per-pair Hamming
    // computation — a pair can collide on up to 4 chunks and word-soup
    // corpora cluster heavily, so scoring pre-dedup would redo the
    // 64-bit compare per collision. The chunk join carries the same
    // MaxBandDf star degradation as the MinHash bands and the
    // embedding buckets (round 11 — it was the ONE inverted index
    // still uncapped): a flood of identical documents shares all four
    // 16-bit chunks, and without the cap that one chunk bucket emits
    // C(n,2) candidates. Star pairs keep the flood connected (every
    // member pairs the chunk minimum at Hamming 0) while bounding the
    // join at O(n) rows per hot chunk.
    val docs = simhashDocs(spark, dir)
    val chunks = docs.select(col("doc_id"),
      posexplode(array((0 until 4).map(j =>
        substring(col("bitstr"), j * 16 + 1, 16)): _*)).as(Seq("chunk_idx", "chunk")))
    val pairs = starCappedPairs(
      chunks.select(col("doc_id").as("id"), col("chunk_idx"), col("chunk")),
      Seq("chunk_idx", "chunk"), chunkStarCap(spark, dir))
    // Exact Hamming via two 32-bit halves (r19): the fingerprint is
    // condensed ONCE PER DOC from the artifact's bitstr into two
    // longs, and the per-pair distance is bit_count(xor(hi)) +
    // bit_count(xor(lo)) — identical values to the old 64-element
    // zip_with/filter/size over the bits arrays (DedupSpec pins the
    // parity), but the join-back now ships 16 bytes per side instead
    // of a 64-int array (guide §2.3: narrower types) and the per-pair
    // work is 2 xors + 2 popcounts instead of 64 lambda evaluations
    // with an array allocation. Halves, not one 64-bit conv: conv()
    // returns the UNSIGNED decimal string, which overflows a signed
    // long cast for fingerprints with the top bit set.
    def half(off: Int) =
      conv(substring(col("bitstr"), off, 32), 2, 10).cast("long")
    val bitsA = docs.select(col("doc_id").as("id_a"),
      half(1).as("a_hi"), half(33).as("a_lo"))
    val bitsB = docs.select(col("doc_id").as("id_b"),
      half(1).as("b_hi"), half(33).as("b_lo"))
    // Unhinted join-back (same reasoning as minhashLsh): the bits
    // table is O(corpus); AQE decides broadcast vs shuffle.
    pairs.join(bitsA, Seq("id_a")).join(bitsB, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
          bit_count(col("a_lo").bitwiseXOR(col("b_lo")))).as("hamming"))
      .orderBy(col("hamming").asc, col("id_a").asc, col("id_b").asc)
      .limit(20)
  }

  // ---- Embedding cosine ---------------------------------------------

  /** Native codegen'd dot product; widens each element to double
    * before the multiply, bit-matching the oracle's
    * CAST(embedding AS DOUBLE[]) accumulation. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.ArrayDotProduct(a, b)

  /** Hard cap on a label block's membership in embeddingPairs — the
    * same bound MaxEditBlock puts on edit-distance blocks: a label of
    * n vectors emits C(n,2) exact dot products, so one hot label
    * (a corpus where half the embeddings share a class) is quadratic
    * with no bound. Blocks over the cap keep their lowest-vec_id
    * members (deterministic, mirrored in the oracle), bounding any
    * label at C(cap, 2) pairs; the ANN twin (embeddingPairsAnn) is the
    * uncapped scale path whose cost tracks bucket collisions. */
  private[operators] val MaxLabelBlock = 256

  /** E2 embedding-cosine near-dup: top-20 most similar pairs within a
    * `label` block. Label blocking bounds the pair space (the LSH
    * variant in Similarity is the unblocked scale path); blocks are
    * additionally capped at MaxLabelBlock lowest vec_ids so a hot
    * label is never quadratic in the corpus (measured 23× cost at the
    * 10× tier uncapped); norms are computed once per row before the
    * join, so the join evaluates one dot product per pair. */
  def embeddingPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      // cap BEFORE the norm filter, on vec_id order alone — the oracle
      // applies the same ROW_NUMBER() <= cap on the raw table
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("vec_id"))))
      .filter(col("rn") <= labelBlockCap(spark, dir))
      .drop("rn")
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      // zero-norm vectors can't be cosine-ranked (ANSI 0/0 error)
      .filter(col("nrm") > 0d)
    val a = e.select(col("vec_id").as("id_a"), col("label"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("label"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("label"),
        (dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b"))).as("cos"))
      .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
      .limit(20)
  }

  /** E2 embedding near-dup, the UNBLOCKED scale path: candidate pairs
    * come from the random-hyperplane LSH bucket index (a pair is a
    * candidate if it collides in ANY of the T tables) instead of a
    * label-block all-pairs — cost ∝ bucket collisions rather than
    * Σ label_size², and near-copies with DIFFERENT labels (mislabeled
    * re-ingests — precisely the duplicates a label block can never
    * see) are found. Rides the same memoized/parquet-persistable
    * embBase/lshBuckets artifacts as the ANN family; the rerank is
    * exact cosine, so precision is exact and only recall depends on
    * the banding (two vectors at cos ≥ 0.99 agree on a table's 8
    * sign bits with high probability; 8 tables drive the miss rate
    * toward zero — DedupSpec plants cross-label near-copies).
    * Rows-only for the driver (plane-seeded buckets). At adversarial
    * bucket skew (a dense region — e.g. a flood of byte-identical
    * embeddings — collapsing into one bucket) the candidate join
    * carries the same MaxBandDf star degradation as the MinHash
    * bands: a hot bucket emits O(n) star-to-min pairs instead of
    * C(n,2), exact copies of the bucket minimum still surface at
    * cos 1, and clustering reconnects the rest (DedupSpec plants an
    * 80-member clique and pins the bound). */
  def embeddingPairsAnn(spark: SparkSession, dir: String,
                        minCos: Option[Double] = None): DataFrame = {
    // With NO threshold (None, the audit default) the result is capped
    // at the top-20 collided pairs whatever their cosine — the
    // label-blocked twin's contract: a random corpus has no true
    // near-dups but the audit still shows the closest collisions.
    // With an explicit threshold (production dedup, e.g. Some(0.95))
    // the result is UNCAPPED: every collided pair at or above the
    // threshold is returned, ordered — a cap there would silently
    // drop true duplicates past the 20th. (An Option, not a magic
    // -1.0 sentinel: a caller spelling out "every collided pair" as
    // Some(-1.0) gets exactly that, not a silent audit cap.)
    val buckets = Similarity.lshBuckets(spark, dir)
    val cands = starCappedPairs(
      buckets.select(col("vec_id").as("id"), col("table_idx"), col("bucket")),
      Seq("table_idx", "bucket"), bucketStarCap(spark, dir))
    val scored = rerankExact(cands, Similarity.embBase(spark, dir))
      .filter(col("cos") >= minCos.getOrElse(-1.0))
      .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
    minCos.fold(scored.limit(20))(_ => scored)
  }

  /** The exact-cosine rerank tail shared by embeddingPairsAnn and its
    * oracle-paired fixed-candidate twin: join the vectors back onto a
    * (id_a, id_b) candidate table and score one dot product per pair.
    * Candidate tables are tiny next to the corpus — unhinted, AQE
    * broadcasts them. */
  private def rerankExact(cands: DataFrame, base: DataFrame): DataFrame = {
    val vA = base.select(col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("nrm_a"))
    val vB = base.select(col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("nrm_b"))
    cands.join(vA, Seq("id_a")).join(vB, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b"))).as("cos"))
  }

  /** Deterministic probe pairs for the rerank oracle: a chain and a
    * doubling fan over vec_ids 0–499 — present at every test SF, so
    * one static oracle covers all of them. */
  private[operators] val rerankProbePairs: Seq[(Long, Long)] =
    ((0L until 200L).map(i => (i, i + 1L)) ++
      (1L until 120L).map(i => (i, 2L * i)))
      .filter { case (a, b) => a < b && b < 500L }.distinct

  /** The ANN query's rerank tail made oracle-checkable: candidate
    * GENERATION in embeddingPairsAnn is Spark-plane-seeded (rows-only
    * by design), but the exact-cosine scoring and ordering are plain
    * arithmetic — so this twin runs the SAME rerankExact tail over a
    * FIXED candidate list and the driver hash-checks cosine values and
    * ordering against DuckDB. Pairs whose vectors are zero-norm (or
    * absent at the SF) drop out of the inner join, mirrored in the
    * oracle's norm filter. */
  def embeddingRerankFixed(spark: SparkSession, dir: String): DataFrame = {
    val cands = spark.createDataFrame(rerankProbePairs).toDF("id_a", "id_b")
    rerankExact(cands, Similarity.embBase(spark, dir))
      .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
  }

  /** Semantic-dup threshold for the registered query. The testdata
    * embeddings are random gaussians (pairwise cosines concentrate
    * near 0), so a production-grade 0.95 would return nothing at any
    * SF; 0.3 exercises the full plan with a non-trivial result.
    * Production SemDeDup runs 0.95+ — the threshold is the knob the
    * paper tunes per modality. */
  private[operators] val SemanticMinCos = 0.3

  /** E2/E3 semantic deduplication by k-means blocking — SemDeDup
    * (Abbas et al. 2023, arXiv:2303.09540), the third blocking scheme
    * of the embedding-dedup family: [[embeddingPairs]] blocks on a
    * LABEL, [[embeddingPairsAnn]] on LSH bucket collisions, this on
    * the corpus's own geometry — the IVF coarse cells. Every vector is
    * assigned to its argmax-dot cell (the SAME memoized/primable
    * `ivfCells` artifact the ANN family maintains — at 100 TB the
    * assignment is the scheduled index job, not per-query work); only
    * WITHIN a cell are exact pairwise cosines computed, and each
    * vector that exceeds the threshold against a lower-id cell-mate is
    * emitted as a drop action against its earliest such duplicate —
    * the deterministic keep-lowest-id rule the exact-dedup family
    * uses. Output: (cell, vec_id, dup_of, max_cos) per dropped vector.
    *
    * Scale: the paper sizes k so cells stay small (11 k clusters for
    * LAION); the engine's production path is the same operator under
    * the FITTED quantizer with k ∝ corpus size. The seeded-quantizer
    * registration keeps the oracle static (centroid literals inline in
    * the SQL, the q_knn_ivf discipline) and, like the label blocks,
    * cells are belt-and-braces capped at MaxLabelBlock lowest vec_ids
    * (oracle-mirrored) so even a degenerate geometry (all mass in one
    * cell) stays C(cap,2)-bounded per cell. */
  def semanticDedup(spark: SparkSession, dir: String,
                    minCos: Double = SemanticMinCos): DataFrame =
    semanticDedupWith(spark, dir, SimilarityIvf.ivfCells(spark, dir), minCos)

  /** [[semanticDedup]] under the FITTED coarse quantizer — the
    * production registration (k-means trained once on the corpus, the
    * q_knn_ivf_fit discipline): rides the same memoized/persisted
    * `ivfCellsFit` artifact the fitted ANN query serves from, so a
    * primed session does zero k-means and zero assignment. The oracle
    * is resolved at Verify dump time with the fitted centroids
    * inlined (dynamicOracles). */
  def semanticDedupFitted(spark: SparkSession, dir: String,
                          minCos: Double = SemanticMinCos): DataFrame =
    semanticDedupWith(spark, dir, SimilarityIvf.ivfCellsFit(spark, dir), minCos)

  private def semanticDedupWith(spark: SparkSession, dir: String,
                                cells: DataFrame, minCos: Double): DataFrame = {
    val e = Similarity.embBase(spark, dir)
      .join(cells, Seq("vec_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("vec_id"))))
      .filter(col("rn") <= MaxLabelBlock)
      .drop("rn")
    val a = e.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= minCos)
      .groupBy(col("cell"), col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"), round(max(col("cos")), 6).as("max_cos"))
      .orderBy(col("cell"), col("vec_id"))
  }

  /** Static DuckDB oracle for [[semanticDedup]]: the seeded quantizer
    * is a data-independent constant, inlined as DOUBLE[] literals —
    * cell assignment (argmax, first-max tie rule), the cap, the
    * within-cell cosine join, and the keep-lowest-id action all
    * hash-check. */
  /** The capped within-cell pair CTEs over SimilarityIvf.assignCteSql's
    * tables — shared by the semantic-dedup and D4 oracles. */
  private def semanticPairCtes: String =
    s"""capped AS (SELECT vec_id, v, cell FROM (
       |    SELECT e0.vec_id, e0.v, assign.cell,
       |      ROW_NUMBER() OVER (PARTITION BY cell ORDER BY e0.vec_id) AS rn
       |    FROM e0 JOIN assign USING (vec_id))
       |  WHERE rn <= $MaxLabelBlock),
       |p AS (SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
       |        list_dot_product(a.v, b.v) /
       |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
       |      FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id)""".stripMargin

  private[operators] def semanticDedupOracleSql: String =
    semanticOracleFrom(SimilarityIvf.assignCteSql)

  /** The complete semantic-dedup oracle over a given assignment CTE
    * block — static for the seeded quantizer, resolved at dump time
    * for the fitted one. */
  private[operators] def semanticOracleFrom(assignCtes: String): String =
    s"""WITH $assignCtes,
       |$semanticPairCtes
       |SELECT cell, id_b AS vec_id, CAST(MIN(id_a) AS BIGINT) AS dup_of,
       |  round(MAX(cos), 6) AS max_cos
       |FROM p WHERE cos >= $SemanticMinCos
       |GROUP BY cell, id_b ORDER BY cell, vec_id""".stripMargin

  /** E2/curation: the D4 pipeline (Tirumala et al. 2023, "D4:
    * Improving LLM Pretraining via Document De-Duplication and
    * Diversification", arXiv:2308.12284) — SemDeDup first (drop
    * near-exact semantic copies), then SSL-prototype pruning over the
    * SURVIVORS (drop the most prototypical fraction of what remains).
    * The paper's finding is that the two stages remove different
    * things: duplicates cluster tightly, prototypes sit near centroids
    * — composing them beats either alone at fixed token budget.
    *
    * Output is the full per-vector audit table (vec_id, cell,
    * proto_cos, action ∈ drop_semdedup | drop_prototype | keep) rather
    * than the survivor list — the artifact a curation review reads and
    * the survivor filter is one predicate away from.
    *
    * Physically: both stages ride the memoized embBase + ivfCells
    * artifacts (one index build serves SemDeDup, the prototype ranks,
    * and the whole ANN family); the second stage re-ranks only
    * survivors, one window per cell; the two drop lists come back as
    * left joins on vec_id (AQE broadcasts the small drop sides). */
  def curateD4(spark: SparkSession, dir: String,
               minCos: Double = SemanticMinCos,
               frac: Double = SimilarityIvf.PrototypeFrac): DataFrame = {
    val semDrops = semanticDedup(spark, dir, minCos)
      .select(col("vec_id"), lit(1).as("sem"))
    val scored = SimilarityIvf.prototypeScores(spark, dir)
    val w = Window.partitionBy(col("cell"))
    val protoDrops = scored.join(semDrops, Seq("vec_id"), "left_anti")
      .withColumn("cell_rank", row_number().over(
        w.orderBy(col("proto_cos").desc, col("vec_id").asc)))
      .withColumn("cell_n", count(lit(1)).over(w))
      .filter(col("cell_rank") <= floor(lit(frac) * col("cell_n")))
      .select(col("vec_id"), lit(1).as("proto"))
    scored.join(semDrops, Seq("vec_id"), "left")
      .join(protoDrops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("proto_cos"),
        when(col("sem") === 1, "drop_semdedup")
          .when(col("proto") === 1, "drop_prototype")
          .otherwise("keep").as("action"))
      .orderBy("vec_id")
  }

  /** SQL twin of [[curateD4]]: the shared assignment + capped-pair
    * CTEs, the semantic drop set, prototype scores, the survivor
    * ranking, and the action CASE. */
  private[operators] def curateD4OracleSql: String =
    s"""WITH ${SimilarityIvf.assignCteSql},
       |$semanticPairCtes,
       |sem AS (SELECT DISTINCT id_b AS vec_id FROM p WHERE cos >= $SemanticMinCos),
       |${SimilarityIvf.protoScoreCteSql},
       |r AS (SELECT cell, vec_id, proto_cos,
       |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY proto_cos DESC, vec_id ASC) AS cell_rank,
       |    COUNT(*) OVER (PARTITION BY cell) AS cell_n
       |  FROM sc WHERE vec_id NOT IN (SELECT vec_id FROM sem)),
       |pd AS (SELECT vec_id FROM r
       |  WHERE cell_rank <= CAST(floor(${SimilarityIvf.PrototypeFrac} * cell_n) AS BIGINT))
       |SELECT vec_id, cell, proto_cos,
       |  CASE WHEN vec_id IN (SELECT vec_id FROM sem) THEN 'drop_semdedup'
       |       WHEN vec_id IN (SELECT vec_id FROM pd) THEN 'drop_prototype'
       |       ELSE 'keep' END AS action
       |FROM sc ORDER BY vec_id""".stripMargin
}

/** Driver-contract registration for the dedup set. MinHash/SimHash are
  * rows-only (no oracle entry): their hashes are Spark-specific. */
object DedupModule extends QueryModule {
  import Dedup._

  def queries = Map(
    "q_dedup_exact" -> ((s: SparkSession, d: String) => exactDedup(s, d)),
    "q_dedup_by_key" -> ((s: SparkSession, d: String) => dedupByKey(s, d)),
    "q_dedup_jaccard" -> ((s: SparkSession, d: String) => jaccardPairs(s, d)),
    "q_dedup_editdist" -> ((s: SparkSession, d: String) => editDistancePairs(s, d)),
    "q_dedup_minhash" -> ((s: SparkSession, d: String) => minhashLsh(s, d)),
    "q_dedup_simhash" -> ((s: SparkSession, d: String) => simhashPairs(s, d)),
    "q_dedup_embedding" -> ((s: SparkSession, d: String) => embeddingPairs(s, d)),
    "q_dedup_embedding_ann" -> ((s: SparkSession, d: String) => embeddingPairsAnn(s, d)),
    "q_dedup_embedding_ann_rerank" -> ((s: SparkSession, d: String) => embeddingRerankFixed(s, d)),
    "q_dedup_semantic" -> ((s: SparkSession, d: String) => semanticDedup(s, d)),
    "q_dedup_semantic_fit" -> ((s: SparkSession, d: String) => semanticDedupFitted(s, d)),
    "q_curate_d4" -> ((s: SparkSession, d: String) => curateD4(s, d)),
    "q_dedup_clusters" -> ((s: SparkSession, d: String) => dedupClusters(s, d)),
    "q_dedup_canonical" -> ((s: SparkSession, d: String) => clusterCanonical(s, d)),
    // the watermark-window variant: what the oracle verifies is the
    // predicate shape ingestSinceWatermark runs in production
    "q_dedup_incremental" -> ((s: SparkSession, d: String) => incrementalNearDupsSince(s, d)),
    "q_dedup_containment" -> ((s: SparkSession, d: String) => containmentPairs(s, d)),
    "q_source_overlap" -> ((s: SparkSession, d: String) => sourceOverlap(s, d)))

  /** The shingle→pair-table CTE chain (identical text to the
    * q_dedup_jaccard / q_dedup_incremental oracles' heads) ending in
    * `pj(id_a, id_b, n_common, jaccard)` — shared by the oracles that
    * AGGREGATE the pair table rather than rank it. */
  private[operators] val PairTableCteSql: String =
    """t AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks) - 2, 1)),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM documents)),
      |e0 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t),
      |e AS (SELECT doc_id, n_sh, shingle,
      |    COUNT(*) OVER (PARTITION BY shingle) AS df,
      |    MIN(doc_id) OVER (PARTITION BY shingle) AS min_id
      |  FROM e0),
      |small_scored AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(a.n_sh AS BIGINT) AS n_a, CAST(b.n_sh AS BIGINT) AS n_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  WHERE a.df <= 64
      |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh),
      |star_cand AS (
      |  SELECT DISTINCT min_id AS id_a, doc_id AS id_b FROM e
      |  WHERE df > 64 AND doc_id != min_id),
      |star_scored AS (
      |  SELECT id_a, id_b, CAST(len(sa.sh) AS BIGINT) AS n_a,
      |    CAST(len(sb.sh) AS BIGINT) AS n_b,
      |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common
      |  FROM star_cand JOIN t sa ON sa.doc_id = star_cand.id_a
      |                 JOIN t sb ON sb.doc_id = star_cand.id_b),
      |p AS (
      |  SELECT id_a, id_b, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
      |    MAX(n_common) AS n_common
      |  FROM (SELECT * FROM small_scored UNION ALL SELECT * FROM star_scored)
      |  GROUP BY id_a, id_b),
      |pj AS (SELECT id_a, id_b, n_common,
      |         CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
      |       FROM p)""".stripMargin

  /** The exact+near pair chain → converged components CTE (the
    * q_dedup_clusters oracle's head, ending in `comp(doc_id,
    * component)`) — shared with oracles outside this module that ride
    * the cluster labels (leakage-safe split). Must follow a
    * `WITH RECURSIVE` keyword. */
  private[graft] val ClusterCteSql: String =
    """norm AS (
      |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
      |    string_split_regex(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |exact_pairs AS (
      |  SELECT keep_id AS id_a, doc_id AS id_b FROM (
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
      |near_pairs AS (
      |  SELECT id_a, id_b FROM np
      |  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.8),
      |pairs AS (SELECT id_a, id_b FROM exact_pairs UNION SELECT id_a, id_b FROM near_pairs),
      |edges AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach(id, lbl) AS (
      |  SELECT DISTINCT id_a AS id, id_a AS lbl FROM edges
      |  UNION
      |  SELECT e.id_b, r.lbl FROM reach r JOIN edges e ON e.id_a = r.id),
      |comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id)""".stripMargin

  def oracles = Map(
    "q_dedup_semantic" -> semanticDedupOracleSql,
    "q_curate_d4" -> curateD4OracleSql,
    "q_source_overlap" ->
      s"""WITH $PairTableCteSql,
         |f AS (SELECT least(sa.source, sb.source) AS source_a,
         |        greatest(sa.source, sb.source) AS source_b,
         |        CAST(round(jaccard, 9) AS DECIMAL(29,9)) AS j
         |      FROM pj JOIN documents sa ON sa.doc_id = pj.id_a
         |              JOIN documents sb ON sb.doc_id = pj.id_b
         |      WHERE jaccard >= ${Dedup.SourceOverlapThreshold})
         |SELECT source_a, source_b, COUNT(*) AS n_pairs,
         |  round(CAST(SUM(j) AS DOUBLE) / COUNT(*), 6) AS mean_jaccard,
         |  round(CAST(MAX(j) AS DOUBLE), 6) AS max_jaccard
         |FROM f GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH $PairTableCteSql,
         |c AS (SELECT id_a, id_b, n_a, n_b, n_common,
         |        CAST(n_common AS DOUBLE) / least(n_a, n_b) AS cont,
         |        CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jac
         |      FROM p)
         |SELECT id_a, id_b, n_a, n_b, n_common,
         |  round(cont, 6) AS containment, round(jac, 6) AS jaccard,
         |  round(cont - jac, 6) AS asym_gap
         |FROM c ORDER BY (cont - jac) DESC, id_a ASC, id_b ASC
         |LIMIT 20""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |      FROM documents)
        |GROUP BY norm ORDER BY keep_id""".stripMargin,
    "q_dedup_by_key" ->
      """SELECT lang, source, min(doc_id) AS keep_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_dedup_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents)),
        |e0 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t),
        |e AS (SELECT doc_id, n_sh, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df,
        |    MIN(doc_id) OVER (PARTITION BY shingle) AS min_id
        |  FROM e0),
        |small_scored AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(a.n_sh AS BIGINT) AS n_a, CAST(b.n_sh AS BIGINT) AS n_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  WHERE a.df <= 64
        |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh),
        |star_cand AS (
        |  SELECT DISTINCT min_id AS id_a, doc_id AS id_b FROM e
        |  WHERE df > 64 AND doc_id != min_id),
        |star_scored AS (
        |  SELECT id_a, id_b, CAST(len(sa.sh) AS BIGINT) AS n_a,
        |    CAST(len(sb.sh) AS BIGINT) AS n_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common
        |  FROM star_cand JOIN t sa ON sa.doc_id = star_cand.id_a
        |                 JOIN t sb ON sb.doc_id = star_cand.id_b),
        |p AS (
        |  SELECT id_a, id_b, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
        |    MAX(n_common) AS n_common
        |  FROM (SELECT * FROM small_scored UNION ALL SELECT * FROM star_scored)
        |  GROUP BY id_a, id_b)
        |SELECT id_a, id_b, n_common,
        |  CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
        |FROM p ORDER BY jaccard DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin,
    "q_dedup_incremental" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents)),
        |e0 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t),
        |e AS (SELECT doc_id, n_sh, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df,
        |    MIN(doc_id) OVER (PARTITION BY shingle) AS min_id
        |  FROM e0),
        |small_scored AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(a.n_sh AS BIGINT) AS n_a, CAST(b.n_sh AS BIGINT) AS n_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  WHERE a.df <= 64
        |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh),
        |star_cand AS (
        |  SELECT DISTINCT min_id AS id_a, doc_id AS id_b FROM e
        |  WHERE df > 64 AND doc_id != min_id),
        |star_scored AS (
        |  SELECT id_a, id_b, CAST(len(sa.sh) AS BIGINT) AS n_a,
        |    CAST(len(sb.sh) AS BIGINT) AS n_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common
        |  FROM star_cand JOIN t sa ON sa.doc_id = star_cand.id_a
        |                 JOIN t sb ON sb.doc_id = star_cand.id_b),
        |p AS (
        |  SELECT id_a, id_b, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
        |    MAX(n_common) AS n_common
        |  FROM (SELECT * FROM small_scored UNION ALL SELECT * FROM star_scored)
        |  GROUP BY id_a, id_b),
        |orient AS (
        |  SELECT CASE WHEN id_a > 400 AND id_a <= 500 THEN id_a ELSE id_b END AS new_id,
        |    CASE WHEN id_a > 400 AND id_a <= 500 THEN id_b ELSE id_a END AS match_id,
        |    n_common,
        |    CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
        |  FROM p WHERE (id_a > 400 AND id_a <= 500) != (id_b > 400 AND id_b <= 500))
        |SELECT new_id, match_id, n_common, jaccard, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY new_id ORDER BY jaccard DESC, match_id ASC) AS rn
        |  FROM orient WHERE jaccard >= 0.5)
        |WHERE rn <= 3 ORDER BY new_id, rn""".stripMargin,
    "q_dedup_editdist" ->
      """WITH d0 AS (SELECT doc_id, lang,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents),
        |d1 AS (SELECT doc_id, lang, substr(norm, 1, 24) AS prefix,
        |    substr(norm, 1, 2) AS blk, length(norm) // 32 AS lb
        |  FROM d0),
        |d AS (SELECT doc_id, lang, prefix, blk, lb FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY lang, blk, lb ORDER BY doc_id) AS rn FROM d1)
        |  WHERE rn <= 256)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang,
        |  levenshtein(a.prefix, b.prefix) AS edit_dist
        |FROM d a JOIN d b ON a.lang = b.lang
        |  AND a.blk = b.blk AND a.lb = b.lb
        |  AND a.doc_id < b.doc_id
        |ORDER BY edit_dist ASC, id_a ASC, id_b ASC LIMIT 20""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE norm AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |exact_pairs AS (
        |  SELECT keep_id AS id_a, doc_id AS id_b FROM (
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
        |near_pairs AS (
        |  SELECT id_a, id_b FROM np
        |  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.8),
        |pairs AS (SELECT id_a, id_b FROM exact_pairs UNION SELECT id_a, id_b FROM near_pairs),
        |edges AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lbl) AS (
        |  SELECT DISTINCT id_a AS id, id_a AS lbl FROM edges
        |  UNION
        |  SELECT e.id_b, r.lbl FROM reach r JOIN edges e ON e.id_a = r.id),
        |comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id)
        |SELECT doc_id, component,
        |  COUNT(*) OVER (PARTITION BY component) AS cluster_size
        |FROM comp ORDER BY component, doc_id""".stripMargin,
    "q_dedup_canonical" ->
      """WITH RECURSIVE norm AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |exact_pairs AS (
        |  SELECT keep_id AS id_a, doc_id AS id_b FROM (
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
        |near_pairs AS (
        |  SELECT id_a, id_b FROM np
        |  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.8),
        |pairs AS (SELECT id_a, id_b FROM exact_pairs UNION SELECT id_a, id_b FROM near_pairs),
        |edges AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lbl) AS (
        |  SELECT DISTINCT id_a AS id, id_a AS lbl FROM edges
        |  UNION
        |  SELECT e.id_b, r.lbl FROM reach r JOIN edges e ON e.id_a = r.id),
        |comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id),
        |q AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |qm AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS distinct_ratio
        |  FROM q),
        |qq AS (SELECT doc_id, n_tokens,
        |  CASE WHEN n_tokens < 10 THEN 'too_short'
        |       WHEN punct_ratio > 0.2 THEN 'too_punct'
        |       WHEN distinct_ratio < 0.2 THEN 'too_repetitive'
        |       ELSE 'ok' END AS quality FROM qm),
        |sel AS (SELECT c.doc_id, c.component, qq.quality, qq.n_tokens,
        |  FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.component
        |    ORDER BY CASE WHEN qq.quality = 'ok' THEN 0 ELSE 1 END ASC,
        |      qq.n_tokens DESC, c.doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep_id
        |  FROM comp c JOIN qq ON qq.doc_id = c.doc_id)
        |SELECT doc_id, component, quality, n_tokens, keep_id,
        |  CASE WHEN doc_id = keep_id THEN 'keep' ELSE 'drop' END AS action
        |FROM sel ORDER BY component, doc_id""".stripMargin,
    "q_dedup_embedding" ->
      """WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |            FROM embeddings),
        |e AS (SELECT vec_id, label, v FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY label ORDER BY vec_id) AS rn FROM e0)
        |  WHERE rn <= 256)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
        |  list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |ORDER BY cos DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin,

    "q_dedup_embedding_ann_rerank" -> {
      val values = Dedup.rerankProbePairs
        .map { case (a, b) => s"($a, $b)" }.mkString(", ")
      s"""WITH cand(id_a, id_b) AS (VALUES $values),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |f AS (SELECT vec_id, v FROM e WHERE sqrt(list_dot_product(v, v)) > 0)
         |SELECT CAST(c.id_a AS BIGINT) AS id_a, CAST(c.id_b AS BIGINT) AS id_b,
         |  list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
         |FROM cand c JOIN f a ON a.vec_id = c.id_a JOIN f b ON b.vec_id = c.id_b
         |ORDER BY cos DESC, id_a ASC, id_b ASC""".stripMargin
    })

  /** q_dedup_minhash's oracle, resolved at dump time: the SIGNATURES
    * are Spark-seeded (xxhash64 has no DuckDB builtin), so they are
    * computed once and inlined as a VALUES table — the seeded-plane
    * discipline that oracled the LSH knn queries — and everything
    * DOWNSTREAM of the signature stage (band md5 bucketing, the
    * MaxBandDf star-capped candidate join, position-agreement
    * est-Jaccard, ranking) is replayed in pure SQL. The literal is
    * 32 ints per document (~1 MB of SQL at sf0.1) — fine for the
    * verify corpus sizes this oracle exists for; the fit/seed stage
    * itself stays spec-pinned (DedupSpec planted-recall and error
    * bounds). Band hashing must mirror bandHashes byte-for-byte:
    * md5 of the comma-joined 2-value slice, 16 bands. */
  /** Dump-time VALUES-inlining ceiling (documents). The minhash /
    * simhash oracles inline one literal row per document (~1 MB of
    * SQL at sf0.1's 5k docs); a verify corpus 10× that would hand
    * DuckDB a ~10 MB statement and degrade from there — so past this
    * bound the dump FAILS LOUDLY with the re-formulation pointer
    * instead of OOMing the oracle runner. */
  private val MaxInlineOracleDocs = 50000L

  private def guardInlineDocs(which: String, n: Long): Unit =
    require(n <= MaxInlineOracleDocs,
      s"$which: dump-time VALUES oracle would inline $n document rows " +
        s"(> $MaxInlineOracleDocs); at this corpus size re-formulate the " +
        "oracle (write the Spark-seeded stage to a parquet DuckDB reads " +
        "directly) instead of growing the SQL literal")

  private def minhashOracleSql(spark: SparkSession, dir: String): String = {
    guardInlineDocs("q_dedup_minhash", Dedup.minhashSignatures(spark, dir).count())
    val sigValues = Dedup.minhashSignatures(spark, dir).collect()
      .map { r =>
        val sig = r.getSeq[Long](r.fieldIndex("sig"))
        s"(BIGINT '${r.getLong(r.fieldIndex("doc_id"))}', [${sig.mkString(",")}])"
      }.mkString(",")
    val bands = Dedup.NumHashes / 2 - 1 // band indices 0..15, r=2
    s"""WITH sigs(doc_id, sig) AS (VALUES $sigValues),
       |bands AS (
       |  SELECT doc_id AS id, j AS band_idx,
       |    md5(array_to_string(sig[j*2+1 : j*2+2], ',')) AS band_hash
       |  FROM sigs, unnest(generate_series(0, $bands)) t(j)),
       |st AS (
       |  SELECT id, band_idx, band_hash,
       |    COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS df,
       |    MIN(id) OVER (PARTITION BY band_idx, band_hash) AS min_id
       |  FROM bands),
       |allp AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM st a JOIN st b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
       |  WHERE a.df <= ${Dedup.bandStarCap(spark, dir)}),
       |star AS (
       |  SELECT min_id AS id_a, id AS id_b FROM st
       |  WHERE df > ${Dedup.bandStarCap(spark, dir)} AND id != min_id),
       |cand AS (SELECT DISTINCT id_a, id_b
       |         FROM (SELECT * FROM allp UNION ALL SELECT * FROM star)),
       |est AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_filter(generate_series(1, ${Dedup.NumHashes}),
       |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / ${Dedup.NumHashes} AS est_jaccard
       |  FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a
       |              JOIN sigs sb ON sb.doc_id = c.id_b)
       |SELECT id_a, id_b, est_jaccard FROM est
       |ORDER BY est_jaccard DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin
  }

  /** q_dedup_simhash's oracle, resolved at dump time: the 64-bit
    * fingerprints are xxhash64-derived (Spark-seeded), so the
    * fingerprint BITSTRINGS are inlined as a VALUES table — the
    * q_dedup_minhash discipline — and the chunk-pigeonhole candidate
    * join plus the exact Hamming ranking replay in pure SQL. 64 chars
    * per document; the fingerprint semantics themselves stay pinned by
    * DedupSpec's cross-formulation differential. */
  private def simhashOracleSql(spark: SparkSession, dir: String): String = {
    guardInlineDocs("q_dedup_simhash", Dedup.simhashDocs(spark, dir).count())
    val fpValues = Dedup.simhashDocs(spark, dir)
      .select(col("doc_id"), col("bitstr")).collect()
      .map(r => s"(BIGINT '${r.getLong(0)}', '${r.getString(1)}')")
      .mkString(",")
    s"""WITH fp(doc_id, bitstr) AS (VALUES $fpValues),
       |chunks AS (
       |  SELECT doc_id, j AS chunk_idx, substr(bitstr, j*16 + 1, 16) AS chunk
       |  FROM fp, unnest(generate_series(0, 3)) t(j)),
       |st AS (
       |  SELECT doc_id AS id, chunk_idx, chunk,
       |    COUNT(*) OVER (PARTITION BY chunk_idx, chunk) AS df,
       |    MIN(doc_id) OVER (PARTITION BY chunk_idx, chunk) AS min_id
       |  FROM chunks),
       |allp AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM st a JOIN st b
       |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.id < b.id
       |  WHERE a.df <= ${Dedup.chunkStarCap(spark, dir)}),
       |star AS (
       |  SELECT min_id AS id_a, id AS id_b FROM st
       |  WHERE df > ${Dedup.chunkStarCap(spark, dir)} AND id != min_id),
       |cand AS (SELECT DISTINCT id_a, id_b
       |         FROM (SELECT * FROM allp UNION ALL SELECT * FROM star)),
       |h AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_filter(generate_series(1, 64),
       |      i -> substr(fa.bitstr, i, 1) <> substr(fb.bitstr, i, 1))) AS INTEGER) AS hamming
       |  FROM cand JOIN fp fa ON fa.doc_id = cand.id_a
       |            JOIN fp fb ON fb.doc_id = cand.id_b)
       |SELECT id_a, id_b, hamming FROM h
       |ORDER BY hamming ASC, id_a ASC, id_b ASC LIMIT 20""".stripMargin
  }

  /** q_dedup_semantic_fit's quantizer is k-means FITTED on the corpus
    * (deterministic hash-ordered sample) — its oracle is resolved at
    * Verify dump time with the fitted centroids inlined, the same
    * discipline as q_knn_ivf_fit. q_dedup_minhash's signature stage
    * and q_dedup_simhash's fingerprint stage are likewise inlined at
    * dump time (above). */
  override def dynamicOracles(spark: SparkSession, dir: String): Map[String, String] =
    Map(
      "q_dedup_semantic_fit" -> semanticOracleFrom(
        SimilarityIvf.assignCteSqlWith(SimilarityIvf.fitCentroids(spark, dir))),
      "q_dedup_minhash" -> minhashOracleSql(spark, dir),
      "q_dedup_simhash" -> simhashOracleSql(spark, dir),
      // round 17: the star cap is corpus-derived (bucketStarCap), so
      // the oracle resolves it at dump time like the fingerprints —
      // the hyperplane constants themselves stay static (round-7
      // knn-lsh discipline)
      "q_dedup_embedding_ann" ->
        SimilarityModule.embeddingAnnOracleSql(bucketStarCap(spark, dir)))
}
