package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.sources.Tables

/** Iterative graph analytics over the order graph: customers and
  * suppliers as nodes, (customer)–(supplier) edges weighted by how
  * many lineitems connect them (orders ⋈ lineitem, aggregated). The
  * canonical "importance over a transaction graph" workload — and the
  * engine's demonstration that ITERATIVE algorithms decompose into the
  * same deterministic relational algebra the rest of the library uses
  * (Pregel-style message passing = join + aggregate per superstep).
  *
  * PageRank (damping 0.85, [[PrIters]] synchronous iterations,
  * uniform 1/N init, weighted out-edges):
  *   r'(v) = 0.15/N + 0.85 · Σ_{u→v} r(u) · w(u,v)/outw(u)
  *
  * Determinism discipline (the perplexityScore pattern, in fixed
  * point): each edge contribution r(u)·frac(u,v) is a product of
  * identical doubles in both engines, rounded to an integer count of
  * 1e-9 units (round(x·1e9) → BIGINT — both engines round halves away
  * from zero), and summed as an exact long — order-proof like the
  * DECIMAL formulation but pure primitive codegen arithmetic (the
  * DECIMAL cast allocated a BigDecimal per edge row per superstep —
  * measured ~2× the whole superstep's cost). Total mass is ~1e9
  * units, so the sum cannot overflow. The final ranks hash-match
  * DuckDB replaying the same 10 unrolled supersteps; no libm is
  * involved anywhere.
  *
  * Scale posture, learned the measured way (sf0.1, warm):
  *  - Node ids are LONGS for the whole iteration (even = 2·custkey,
  *    odd = 2·suppkey+1); the display label exists only in the final
  *    20-row projection. The first cut kept "c123"-style string keys
  *    and paid string deserialization + hashing on every 1.17M-row
  *    superstep scan — 7.0 s; longs + the fixes below run the same
  *    ten supersteps in ~2 s.
  *  - The rank table (|nodes| rows) is ALWAYS the broadcast side of
  *    the superstep join: the edge table never shuffles; the one real
  *    exchange per superstep is the dst-keyed contribution aggregation
  *    (fully map-side combined to ≤|nodes| rows before the wire).
  *    Unhinted, Catalyst shuffle-joined the edge table every superstep
  *    — 10.8 s.
  *  - Edges are built once per (session, dir) (memoized artifact, the
  *    pair-table discipline) and re-scanned per superstep; per-
  *    iteration localCheckpoints truncate lineage so superstep k's
  *    plan doesn't embed supersteps 1..k−1 (pure lineage re-executes
  *    every broadcast subplan per level — measured strictly worse).
  *  - At a scale where ranks outgrow broadcast ([[BroadcastMaxNodes]]),
  *    the superstep FLIPS to the co-partitioned join implemented below:
  *    edges hash-partitioned by src and sorted within partitions ONCE
  *    (a second memoized artifact, derived from the primary), ranks
  *    hash-partitioned by node — the checkpoint preserves both the
  *    partitioning and the ordering through LogicalRDD, so every
  *    superstep's rank⋈edge join is exchange-free (and edge-sort-free)
  *    sort-merge; the only wire traffic per superstep is the map-side-
  *    combined contribution aggregation, same as the broadcast path.
  *    GraphSpec pins broadcast ≡ co-partitioned rank parity (the
  *    fixed-point arithmetic is order-proof, so the results are
  *    bit-identical) and the exchange-free plan shape. */
object Graph {

  private[operators] val PrIters = 10

  /** Checkpoint cadence: materialize the rank table every SECOND
    * superstep instead of every one — the plan between checkpoints is
    * two joined levels deep (bounded), and halving the checkpoint
    * jobs measured 4.24 → 3.98 s warm at sf0.1 with bit-identical
    * ranks; every-5 regresses (5.1 s — the un-truncated broadcast
    * subplans start re-executing, the round-11 pure-lineage lesson at
    * smaller scale). */
  private[operators] val ChkEvery = 2
  private[operators] val Damping = 0.85

  /** 1 − damping as a PARSED literal, not computed: Scala's
    * `1 - 0.85` evaluates to 0.15000000000000002 while both engines
    * parse "0.15" to the (different) nearest double — the teleport
    * term must come from the same parse on both sides. */
  private[operators] val Teleport = 0.15

  /** The graph index artifact: (src, dst, w, frac) directed both
    * ways, long node ids, out-weight-normalized fractions. Built once
    * per (session, dir) via the memo, materialized as parquet by
    * `Dedup.writeIndexes` ("graphEdgeFracs") and served vectorized
    * when primed — the superstep loop scans this table [[PrIters]]
    * times, so a columnar parquet read beats re-deserializing a
    * SER-cached checkpoint every pass (re-derived wholesale by the
    * index job, never appended: edges derive from orders ⋈ lineitem,
    * not from document/embedding ingest batches). */
  /** Catalog name for the bucketed by-src layout of an index dir —
    * derived from the dir so two primed index roots in one session
    * cannot collide on a table name. */
  private def bySrcTableName(indexDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(indexDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"graft_edges_by_src_$h"
  }

  /** Content fingerprint of the graphEdgeFracs artifact (relative data
    * file names + lengths, order-independent): the validity tie between
    * the bucketed by-src layout and the edge generation it was derived
    * from. Part-file names carry write UUIDs, so ANY rebuild or append
    * of the edge artifact changes the fingerprint and silently
    * invalidates a stale by-src layout at prime time — no delete
    * coupling to get wrong across crashes or JVMs. */
  private[operators] def edgeArtifactFingerprint(spark: SparkSession,
                                      indexDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/graphEdgeFracs.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val it = fs.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet"))
          entries += s"${s.getPath.getName}:${s.getLen}"
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
      Some(md.digest().map("%02x".format(_)).mkString)
    }
  }

  /** Single-pass index-job writer for BOTH edge artifacts. The
    * bucketed by-src table is written FIRST, straight from the
    * orders ⋈ lineitem plan — the only pass that pays the join +
    * shuffle + sort + parquet encode — and the flat `graphEdgeFracs`
    * artifact is then derived from the table's files by a cheap
    * coalesce re-encode into CONSUMER-SIZED partitions. The pre-r18
    * build paid the full pipeline twice (plan → flat parquet
    * ≈6.8 CPU-s, then flat parquet → bucketed re-layout ≈6.8 CPU-s,
    * the #2+#3 lines of the index job's attribution); the derive pass
    * reads ~MBs of already-encoded parquet instead of re-running the
    * join. The sidecar fingerprint is taken from the written flat
    * artifact, so [[primeEdgesBySrc]]'s validity tie is unchanged.
    *
    * Flat-artifact GEOMETRY is explicit, not inherited: the scan
    * partition count of this artifact is a measured serving-cost
    * lever for the superstep loop (PLANS.md round 18 §8, sf0.1: 32
    * small files → pagerank ~70 task-CPU-s; 9 → ~7; 1 → ~4.5 CPU but
    * the 10-superstep wall serializes at 7.3 s). Target
    * [[FlatEdgeRowsPerFile]] rows per file, capped at the session's
    * shuffle parallelism — enough rows per task to amortize fixed
    * per-task cost across the loop's repeated scans, enough files to
    * keep the loop parallel; at 100 TB the cap hits the cluster's
    * partition count and parquet's splittability takes over.
    *
    * Bucketing semantics (unchanged from the r12 layout): bucketBy(src)
    * + sortBy(src), bucket scheme = Spark's shuffle hash (murmur3 pmod
    * n), so a primed scan reports HashPartitioning(src, n) and the
    * PageRank superstep's sort-merge joins stay exchange-free against
    * the declared-partitioning rank checkpoints — zero session-time
    * edge shuffles. The repartition before the write uses the same
    * hash, so every task holds exactly one bucket and each bucket
    * lands in one file (the reader only trusts sortBy in that
    * layout). */
  /** Flat edge-artifact sizing: rows per file (≈3 MB of encoded edges
    * here; the measured knee of the superstep loop's per-task
    * amortization — see the geometry note on [[writeEdgeArtifacts]]). */
  private[operators] val FlatEdgeRowsPerFile = 131072L

  private[operators] def writeEdgeArtifacts(spark: SparkSession, dir: String,
                                            indexDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val flat = new org.apache.hadoop.fs.Path(s"$indexDir/graphEdgeFracs.parquet")
    val fs = flat.getFileSystem(hconf)
    // rebuild hygiene: a previous generation's batch directories must
    // not survive behind the fresh base (writeIndexes' discipline)
    fs.delete(flat, true)
    val n = spark.sessionState.conf.numShufflePartitions
    val tbl = bySrcTableName(indexDir)
    val loc = s"$indexDir/graphEdgesBySrc"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // The bucketed write MUST land one file per bucket — a multi-file
    // bucket breaks the sortBy trust the superstep reader relies on,
    // and (the r18 lesson, PLANS.md round 18 §7) the FLAT artifact
    // copied from these files inherits the file count: under default
    // AQE the raw plan's repartition(src) write came out as 9
    // mapper-aligned local-read tasks each writing ALL 32 buckets —
    // 288 files whose open/footer overhead tripled every graph
    // query's scan CPU.
    // Local shuffle reads are disabled for THIS write only, on a
    // cloned session so the flip cannot race the index job's sibling
    // chains (session conf is global; the clone shares the
    // SparkContext and the external catalog, so the parent sees the
    // table). Measured: 32 files / one per bucket (same §7).
    val wspark = spark.newSession()
    wspark.conf.set("spark.sql.adaptive.localShuffleReader.enabled", "false")
    val (plan, scratch) = edgeFracsPlan(wspark, dir)
    // NO explicit repartition: the plan's out-weight window already
    // hash-partitions by src into n partitions and sorts by src —
    // exactly the distribution + ordering the bucketed write requires,
    // so the write rides the window's exchange (PLANS.md round 19 §1:
    // same 32 files / one per bucket, one exchange instead of two,
    // steady write CPU 3.1 → 2.9 s and cold 18.1 → 8.3). The require
    // below still guards the one-file-per-bucket property.
    plan.write.mode("overwrite").format("parquet")
      .bucketBy(n, "src").sortBy("src")
      .option("path", loc)
      .saveAsTable(tbl)
    Dedup.unpersistIds(spark, scratch)
    // ≤ n, not == n: an empty bucket (tiny spec fixture) writes no
    // file; the failure mode being guarded is MORE files than buckets
    val nBucketFiles = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
      .count(_.getPath.getName.endsWith(".parquet"))
    require(nBucketFiles <= n,
      s"writeEdgeArtifacts: at most one file per bucket ($n) expected, found " +
        s"$nBucketFiles — the write plan regressed to a multi-file-per-bucket layout")
    // derive the flat artifact from the just-written bucket files: a
    // coalesce (no shuffle) re-encode into the consumer-sized layout.
    // The row count that sizes the layout comes from the bucket files'
    // parquet FOOTERS (driver-side, ≤n files, metadata reads only) —
    // a df.count() here was a full decode pass over the edge table
    // purely to pick a file count.
    val bucketRows = spark.read.parquet(loc)
    val nRows = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf))
        try rd.getRecordCount finally rd.close()
      }.sum
    val nOut = math.max(1L, math.min(n.toLong,
      (nRows + FlatEdgeRowsPerFile - 1) / FlatEdgeRowsPerFile)).toInt
    bucketRows.coalesce(nOut)
      .write.mode("overwrite").parquet(s"$flat/batch_id=base")
    // geometry is asserted on the REAL files, not just in GraphSpec at
    // fixture scale: coalesce can only REDUCE partitions, so a scan
    // that packed the bucket files into fewer input partitions than
    // nOut (per-file sizes near maxPartitionBytes, low parallelism)
    // would silently land fewer files than the FlatEdgeRowsPerFile
    // rule states. MORE files than nOut is a plan regression (the r18
    // multi-file failure mode) and fails loudly, mirroring the
    // one-file-per-bucket require on the by-src layout; FEWER is legal
    // but logged so a drifted serving geometry is visible.
    val nFlatFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$flat/batch_id=base"))
      .count(_.getPath.getName.endsWith(".parquet"))
    require(nFlatFiles <= nOut,
      s"writeEdgeArtifacts: flat edge artifact expected at most $nOut files " +
        s"(FlatEdgeRowsPerFile=$FlatEdgeRowsPerFile over $nRows rows), found " +
        s"$nFlatFiles — the coalesce re-encode regressed to a wider write plan")
    if (nFlatFiles < nOut) System.err.println(
      s"[writeEdgeArtifacts] note: flat edge artifact landed $nFlatFiles files " +
        s"(target $nOut) — the bucket scan packed into fewer input partitions; " +
        "serving stays correct but the superstep scan is less parallel than sized")
    val df = spark.read.parquet(flat.toString).drop("batch_id")
    val fp = edgeArtifactFingerprint(spark, indexDir).getOrElse("")
    val meta = s"buckets=$n\nsource=$fp\nschema=${df.schema.toDDL}\n"
    val mp = new org.apache.hadoop.fs.Path(s"$indexDir/graphEdgesBySrc.meta.json")
    val out = fs.create(mp, true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
    // serve both artifacts from the files just written — exactly the
    // state primeIndexes would establish
    Dedup.memoDrop(spark, s"graphEdgeFracs|$dir")
    Dedup.memoPut(spark, s"graphEdgeFracs|$dir", df)
    Dedup.memoDrop(spark, s"graphEdgesBySrc|$dir")
    Dedup.memoPut(spark, s"graphEdgesBySrc|$dir", spark.table(tbl))
  }

  /** Serve the persisted by-src layout into the session memo if (and
    * only if) it is VALID: sidecar meta present, derived from exactly
    * the current graphEdgeFracs generation, and bucketed at the
    * session's shuffle-partition count (a mismatched count would
    * re-insert the exchange the layout exists to avoid — fall back to
    * the session path instead). Re-registers the catalog table from
    * the sidecar schema when this JVM has never seen it. */
  private[operators] def primeEdgesBySrc(spark: SparkSession, dir: String,
                                         indexDir: String): Unit = {
    val mp = new org.apache.hadoop.fs.Path(s"$indexDir/graphEdgesBySrc.meta.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) return
    // an unreadable/corrupt sidecar means the layout's provenance is
    // unknown — skip it (session path rebuilds) rather than fail the
    // whole prime
    val meta = try {
      val in = fs.open(mp)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    } catch { case _: java.io.IOException => return }
    def field(name: String): Option[String] =
      meta.linesIterator.find(_.startsWith(s"$name="))
        .map(_.drop(name.length + 1))
    val ok = for {
      buckets <- field("buckets").flatMap(_.toIntOption)
      source <- field("source")
      schema <- field("schema")
      current <- edgeArtifactFingerprint(spark, indexDir)
      if source == current && buckets == spark.sessionState.conf.numShufflePartitions
    } yield (buckets, schema)
    ok.foreach { case (buckets, schema) =>
      val tbl = bySrcTableName(indexDir)
      try {
        // ALWAYS re-register from the current sidecar: a catalog entry
        // left by an earlier prime may carry a stale bucket count over
        // newer files (writeIndexes rerun at a different
        // shuffle-partition count) — trusting it would declare a
        // HashPartitioning the data does not have and the exchange-free
        // superstep joins would be silently wrong
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        spark.sql(
          s"CREATE TABLE $tbl ($schema) USING parquet " +
            s"CLUSTERED BY (src) SORTED BY (src) INTO $buckets BUCKETS " +
            s"LOCATION '$indexDir/graphEdgesBySrc'")
        Dedup.memoPut(spark, s"graphEdgesBySrc|$dir", spark.table(tbl))
      } catch {
        case scala.util.control.NonFatal(e) =>
          // a garbled schema line (damaged sidecar) must degrade to the
          // session rebuild path, not abort the whole primeIndexes
          System.err.println(
            s"[primeEdgesBySrc] skipping damaged by-src layout: ${e.getMessage}")
      }
    }
  }

  private[operators] def edgeFracs(spark: SparkSession, dir: String): DataFrame =
    Dedup.memo(spark, s"graphEdgeFracs|$dir") {
      val (plan, scratch) = edgeFracsPlan(spark, dir)
      val out = Dedup.checkpointSer(plan)
      // the eager checkpoint above has materialized `out`, so the eb
      // scaffold's blocks are dead weight — free them NOW rather than
      // leaking them past the memo's exact-ownership tracking (which
      // records only the returned table's checkpoint ids)
      Dedup.unpersistIds(spark, scratch)
      out
    }

  /** The edge-table PLAN without the memo/checkpoint wrapper, plus the
    * checkpoint ids of its internal scaffold — what the index job
    * writes STRAIGHT to parquet (the session path above pays checkpoint
    * serialize + parquet encode; the file-backed build pays the encode
    * only, then re-points the memo at the written files). The caller
    * owns freeing the returned scratch ids once the plan has been
    * materialized (this plan has none — see below).
    *
    * SINGLE-PASS shape (the r18→r19 cut): the orders ⋈ lineitem
    * aggregate is consumed exactly ONCE — `explode` emits both edge
    * directions from one scan (the old union read it twice, and the
    * out-weight aggregate + join read it twice more, behind a
    * checkpoint-serialize barrier that itself cost a serialize +
    * N deserializes of the half-edge table). The per-src out-weight is
    * a window sum over partitionBy(src): its exchange + sort are
    * exactly the distribution + ordering the bucketed by-src write
    * needs anyway, so the fraction computation rides a shuffle the
    * plan already pays instead of adding an aggregate + join of its
    * own. Parity-safe: w and ow are exact long sums, frac the same
    * double division as before. Measured (PLANS.md round 19 §1, sf0.1
    * steady): graphEdgeFracs 12.7 → 8.3 CPU-s. */
  private[operators] def edgeFracsPlan(spark: SparkSession,
      dir: String): (DataFrame, Set[Int]) = {
      val eb = Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .agg(count(lit(1)).as("w"))
      val e = eb.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst"), col("w")),
          struct(col("b").as("src"), col("a").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
      val ow = sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))
      val plan = e
        .select(col("src"), col("dst"), col("w"),
          (col("w").cast("double") / ow.cast("double")).as("frac"))
      (plan, Set.empty[Int])
    }

  /** Append a batch of NEW ORDERS to the persisted graphEdgeFracs
    * artifact without re-running the full orders ⋈ lineitem join — at
    * 100 TB that join is the single biggest item in the index job, and
    * re-deriving it wholesale for every ingest batch is exactly the
    * cost an incremental pipeline exists to avoid. `orderPredicate`
    * selects the batch's rows of the orders table (pushed down to the
    * scan, so only the batch's row groups are read and joined).
    *
    * Discipline (the pair-table rebuild shape): per-(src,dst) edge
    * COUNTS decompose additively, so the batch contributes delta
    * counts from a batch-sized join; the out-weight FRACTIONS are a
    * per-src global (every existing edge of a touched src changes), so
    * they are re-derived from the merged counts and the artifact is
    * wholesale-replaced — a |edges|-row aggregation + write, linear in
    * the edge table and independent of the orders/lineitem volume.
    * IndexPersistenceSpec pins append-then-read ≡ full rebuild.
    *
    * Requires the artifact to exist (an append cannot seed an index —
    * the appendIndexes contract); leaves the session primed on the
    * fresh artifact, with the derived graphEdgesBySrc layout dropped
    * for on-demand rebuild.
    *
    * Lease: EXCLUSIVE, not the appender-class shared lease — unlike
    * appendIndexes (whose appenders write disjoint batch_id
    * directories), this is a read-merge-REPLACE of the whole
    * artifact: two concurrent appends would both read the same
    * existing counts and the last writer would silently drop the
    * other's batch. The replace itself goes through the
    * compactIndexes tmp + double-rename swap, so a crash at any point
    * leaves either the old artifact, the old artifact plus staging,
    * or the new artifact — never an empty index directory. */
  def appendGraphEdges(spark: SparkSession, dir: String, indexDir: String,
                       orderPredicate: org.apache.spark.sql.Column,
                       batchId: Option[String] = None): Unit =
    IndexLease.withExclusive(spark, indexDir, "graph-edge-append") {
      // merge-replace machinery (markers, rollback, staged swap) is the
      // shared Dedup.mergeReplaceArtifact discipline; only the delta
      // derivation and the post-swap layout maintenance live here
      Dedup.mergeReplaceArtifact(spark, indexDir, "graphEdgeFracs", batchId) {
        existing =>
          val eb = Tables.orders(spark, dir).filter(orderPredicate)
            .join(Tables.lineitem(spark, dir),
              col("o_orderkey") === col("l_orderkey"))
            .groupBy((col("o_custkey") * 2).as("a"),
              (col("l_suppkey") * 2 + 1).as("b"))
            .agg(count(lit(1)).as("w"))
          val delta = eb.select(col("a").as("src"), col("b").as("dst"), col("w"))
            .unionByName(eb.select(col("b").as("src"), col("a").as("dst"), col("w")))
          val merged = existing.select("src", "dst", "w").unionByName(delta)
            .groupBy("src", "dst").agg(sum(col("w")).as("w"))
          val ow = merged.groupBy("src").agg(sum(col("w")).as("ow"))
          merged.join(ow, "src")
            .select(col("src"), col("dst"), col("w"),
              (col("w").cast("double") / col("ow").cast("double")).as("frac"))
      } {
        val fs = new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // serve the fresh parquet; drop the derived by-src layout so the
        // next co-partitioned superstep rebuilds it from the new edges
        Dedup.memoDrop(spark, s"graphEdgeFracs|$dir")
        Dedup.memoDrop(spark, s"graphEdgesBySrc|$dir")
        // the PERSISTED by-src layout is now stale too — its sidecar
        // fingerprint no longer matches, so priming already skips it;
        // reap the files and catalog entry so the dead layout doesn't
        // linger until the next writeIndexes re-derives it
        try {
          spark.sql(s"DROP TABLE IF EXISTS ${bySrcTableName(indexDir)}")
          fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/graphEdgesBySrc"), true)
          fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/graphEdgesBySrc.meta.json"), true)
        } catch {
          // best-effort (the fingerprint guards staleness anyway) — but
          // NonFatal only: swallowing an interrupt/OOM here would let
          // the append report success from an undefined JVM state
          case scala.util.control.NonFatal(_) => ()
        }
        Dedup.memoPut(spark, s"graphEdgeFracs|$dir",
          spark.read.parquet(s"$indexDir/graphEdgeFracs.parquet").drop("batch_id"))
      }
    }

  /** Parity-encoded id → display label ('c<key>' / 's<key>'). */
  private def label(node: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(node % 2 === 0, concat(lit("c"), (node / 2).cast("long")))
      .otherwise(concat(lit("s"), ((node - 1) / 2).cast("long")))

  /** Weighted PageRank, top-20 nodes. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankFull(spark, dir)
      .select(label(col("node")).as("node"), round(col("r"), 6).as("rank"),
        col("r"), col("node").as("_id"))
      .orderBy(col("r").desc, col("_id").asc)
      .limit(20)
      .drop("r", "_id")

  /** Full rank table (node, r) after [[PrIters]] supersteps. */
  private[operators] def pagerankFull(spark: SparkSession, dir: String): DataFrame =
    rankLoop(spark, dir, PrIters,
      n => lit(1.0) / n._2, n => lit(Teleport) / n._2)

  /** Personalized PageRank iterations (teleport mass concentrated on
    * the source node). Round 12 served 4 on a toy-scale stability
    * claim ("4 ranks like 6"); testing the claim at sf0.01 REFUTED it
    * — the top-20 diverges, because damping^4 ≈ 0.52 of the unit mass
    * is still circulating after 4 supersteps and a denser graph gives
    * it room to reorder the tail. Back to 6, where the residual
    * (damping^6 ≈ 0.38, and geometrically less per extra step) moves
    * nothing at either pinned SF (GraphSpec pins 6 ≡ 8 at sf0.001 AND
    * sf0.01); the oracle unrolls the same count. */
  private[operators] val PprIters = 6

  /** PPR source: customer key 0 (parity-encoded node 0) — present at
    * every SF. */
  private[operators] val PprSource = 0L

  /** Personalized PageRank: random walk with restart at ONE node —
    * "what is close to this customer in the transaction graph", the
    * graph-native recommendation / similarity primitive (the walk
    * mixes lexical 2-hop neighbors: suppliers this customer buys
    * from, then customers who share those suppliers). Same superstep
    * machinery, artifacts, fixed-point discipline, and oracle
    * unrolling as [[pagerank]]; only the init/teleport vector changes
    * (an indicator on the source instead of 1/N). */
  def pagerankPersonalized(spark: SparkSession, dir: String): DataFrame =
    pagerankPersonalizedAt(spark, dir, PprIters)

  /** [[pagerankPersonalized]] at an explicit superstep count — the
    * stability pin compares 4 vs 6; `prune` exposes the frontier
    * pruning for GraphSpec's bit-parity pin (pruned ≡ unpruned). */
  private[operators] def pagerankPersonalizedAt(spark: SparkSession, dir: String,
                                                iters: Int,
                                                prune: Boolean = true): DataFrame =
    rankLoop(spark, dir, iters,
      n => when(n._1 === lit(PprSource), lit(1.0)).otherwise(lit(0.0)),
      n => when(n._1 === lit(PprSource), lit(Teleport)).otherwise(lit(0.0)),
      pruneZeroRanks = prune)
      .select(label(col("node")).as("node"), round(col("r"), 6).as("rank"),
        col("r"), col("node").as("_id"))
      .orderBy(col("r").desc, col("_id").asc)
      .limit(20)
      .drop("r", "_id")

  /** The shared synchronous-superstep loop. `init` and `teleTerm` map
    * (node column, n column) to the starting mass and the per-step
    * teleport term — expressions, so the global path keeps the exact
    * `0.15 / n` division it always had (0.15·(1/n) differs in the
    * last ulp and would break the hash against the unrolled oracle).
    */
  /** Rank-table broadcast ceiling (nodes), set from MEASUREMENT, not
    * from the broadcast memory budget alone: at 160k nodes the two
    * superstep paths tie (~4 s warm for 10 supersteps, sf0.1), at
    * 1.6M nodes the co-partitioned path wins 1.7× (8.0 vs 13.6 s —
    * ten per-superstep broadcast builds of a 1.6M-row rank table cost
    * more than the one-time by-src layout), and past the executor
    * broadcast budget the broadcast path stops planning at all. 1M
    * sits inside the measured crossover band; the tests force both
    * paths on the toy graph via [[rankLoop]]'s explicit override
    * rather than a data blow-up. */
  private[operators] val BroadcastMaxNodes = 1000000L

  /** Spec hook: when [[capturePlans]] is set, [[rankLoop]]
    * records the first superstep's planned (not re-executed) physical
    * plan here, so GraphSpec can pin the exchange-free shape of the
    * co-partitioned path — the plan of an intermediate loop stage is
    * otherwise unobservable from outside (every iteration checkpoints
    * eagerly, truncating it away). */
  @volatile private[operators] var capturePlans: Boolean = false
  @volatile private[operators] var capturedSuperstepPlan: Option[String] = None

  private def rankLoop(spark: SparkSession, dir: String, iters: Int,
      init: ((org.apache.spark.sql.Column, org.apache.spark.sql.Column)) => org.apache.spark.sql.Column,
      teleTerm: ((org.apache.spark.sql.Column, org.apache.spark.sql.Column)) => org.apache.spark.sql.Column,
      coPartition: Option[Boolean] = None,
      pruneZeroRanks: Boolean = false): DataFrame =
    rankLoopOver(spark, edgeFracs(spark, dir), iters, init, teleTerm,
      coPartition, Some(s"graphEdgesBySrc|$dir"), chkEvery = ChkEvery,
      pruneZeroRanks = pruneZeroRanks)

  /** The superstep loop over an ARBITRARY weighted edge table
    * (src, dst, frac) — node ids of any orderable type (the
    * transaction graph uses parity-encoded longs; TextRank uses the
    * words themselves). `bySrcMemoKey`, when given, memoizes the
    * partitioned-by-src edge layout for the co-partitioned path
    * (callers whose edges are query-local scratch pass None and the
    * layout is tracked as stray session state instead). */
  /** `pruneZeroRanks` (frontier pruning, EXACT): a node with rank
    * 0.0 contributes round(0·frac·1e9) = 0 to every downstream sum,
    * so dropping it from the contribution join changes no output bit
    * — it only shrinks the join's probe side. For PERSONALIZED runs
    * (indicator teleport) the early supersteps then cost frontier
    * size, not graph size: superstep i touches only nodes within i
    * hops of the source (source's suppliers, their customers, …)
    * instead of joining all N nodes against the edges from step 1.
    * Global PageRank gains nothing (1/N init has no zeros), so the
    * filter stays off there. */
  /** Edge ceiling for the DRIVER-side fixed-point loop (third superstep
    * strategy, below broadcast and co-partitioned): a graph this small
    * is a bounded model table (≤131k edge rows ≈ a few MB — the
    * labelCentroids / codebook collect class), and iterating it as
    * ~28 scheduled Spark jobs (two broadcast builds + a checkpoint per
    * superstep) costs pure job latency: q_text_keywords measured
    * 1.2 s quiet / 10.6 s contended for a ~500-edge word graph whose
    * arithmetic is microseconds. Decided from the OBSERVED edge count
    * (the broadcast↔co-partition switch discipline) — a vocabulary
    * that outgrows the ceiling falls back to the distributed loop, so
    * the 100 TB path is unchanged. Forced callers (coPartition =
    * Some(_)) always take the distributed paths, which keeps the
    * plan-shape specs and the bit-parity pins measuring them. */
  private[operators] val DriverRankMaxEdges = 131072L

  /** The driver-side twin of the superstep loop: same fixed-point
    * discipline (contributions round(r·frac·1e9) as longs, HALF_UP on
    * the decimal rep — Round's double semantics — summed per dst;
    * rank = tele + d·(sc/1e9)), same init/teleTerm COLUMN expressions
    * evaluated through a LocalRelation so arbitrary callers (global
    * 1/n, personalized indicator) keep their exact arithmetic. Long
    * addition is order-proof, so ranks are bit-identical to both
    * distributed paths (GraphSpec pins it). */
  private def driverRankLoop(spark: SparkSession, en: DataFrame, iters: Int,
      init: ((org.apache.spark.sql.Column, org.apache.spark.sql.Column)) => org.apache.spark.sql.Column,
      teleTerm: ((org.apache.spark.sql.Column, org.apache.spark.sql.Column)) => org.apache.spark.sql.Column): DataFrame = {
    import scala.jdk.CollectionConverters._
    val edgeRows = en.select(col("src"), col("dst"), col("frac")).collect()
    val nodeVals: Array[Any] = edgeRows.map(_.get(0)).distinct.toArray
    val n = nodeVals.length
    val nodeType = en.schema("src").dataType
    val idxOf = new java.util.HashMap[Any, Integer](n * 2)
    var i = 0
    while (i < n) { idxOf.put(nodeVals(i), i); i += 1 }
    // per-node init + teleport terms via the caller's Column exprs —
    // a LocalRelation select folds driver-side (no cluster job)
    val nodeDf = spark.createDataFrame(
      nodeVals.toSeq.map(v => org.apache.spark.sql.Row(v)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType))))
    val nCol = lit(n.toLong)
    val nt = nodeDf.select(col("node"),
      init((col("node"), nCol)).cast("double").as("r0"),
      teleTerm((col("node"), nCol)).cast("double").as("tele")).collect()
    val r = Array.ofDim[Double](n)
    val tele = Array.ofDim[Double](n)
    nt.foreach { row =>
      val j = idxOf.get(row.get(0)).intValue()
      r(j) = row.getDouble(1); tele(j) = row.getDouble(2)
    }
    val m = edgeRows.length
    val eSrc = Array.ofDim[Int](m); val eDst = Array.ofDim[Int](m)
    val eFrac = Array.ofDim[Double](m)
    i = 0
    while (i < m) {
      val row = edgeRows(i)
      eSrc(i) = idxOf.get(row.get(0)).intValue()
      // every dst also appears as a src (the edge table is doubled),
      // so the index lookup cannot miss
      eDst(i) = idxOf.get(row.get(1)).intValue()
      eFrac(i) = row.getDouble(2)
      i += 1
    }
    // Round(double, 0) semantics: HALF_UP on the shortest decimal rep
    // (BigDecimal.valueOf), then the long cast — bit-for-bit what the
    // superstep's round(...).cast("long") computes
    def rnd(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    val sc = Array.ofDim[Long](n)
    var iter = 0
    while (iter < iters) {
      java.util.Arrays.fill(sc, 0L)
      var k = 0
      while (k < m) {
        sc(eDst(k)) += rnd(r(eSrc(k)) * eFrac(k) * 1e9)
        k += 1
      }
      var j = 0
      while (j < n) { r(j) = tele(j) + Damping * (sc(j).toDouble / 1e9); j += 1 }
      iter += 1
    }
    spark.createDataFrame(
      (0 until n).map(j => org.apache.spark.sql.Row(nodeVals(j), r(j))).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType),
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.DoubleType))))
  }

  private[operators] def rankLoopOver(spark: SparkSession, enIn: DataFrame, iters: Int,
      init: ((org.apache.spark.sql.Column, org.apache.spark.sql.Column)) => org.apache.spark.sql.Column,
      teleTerm: ((org.apache.spark.sql.Column, org.apache.spark.sql.Column)) => org.apache.spark.sql.Column,
      coPartition: Option[Boolean] = None,
      bySrcMemoKey: Option[String] = None,
      chkEvery: Int = 1,
      pruneZeroRanks: Boolean = false): DataFrame = {
    val en = enIn
    // observed-size strategy ladder: tiny graphs run the fixed-point
    // loop on the driver (bounded-model-table class — see
    // [[DriverRankMaxEdges]]); the count is one scan of the memoized/
    // primed edge table, traded against ~28 scheduled jobs
    if (coPartition.isEmpty && en.count() <= DriverRankMaxEdges)
      return driverRankLoop(spark, en, iters, init, teleTerm)
    // intermediate checkpoints are query-local scratch, not memoized
    // artifacts: track them and free each superstep's predecessor so a
    // pagerank run leaves ONE persisted rank table behind, not
    // PrIters + 1 (leaked block-manager state drags every later query
    // in the session — the round-5 GC lesson)
    val (nodes0, nodeIds) = Dedup.trackedCheckpoint(
      en.select(col("src").as("node")).distinct())
    // the broadcast/co-partition switch reads the node count off the
    // just-checkpointed table — a metadata-cheap driver action, the
    // annIvfFitted switch discipline (decide from observed size, not
    // a config the operator can outgrow). The count doubles as the
    // CONSTANT n the init/teleport expressions close over (r19): the
    // old per-superstep `crossJoin(broadcast(count(nodes)))` re-ran a
    // single-partition count agg + an IdentityBroadcast build inside
    // EVERY superstep plan — 2 extra stages and 2 broadcast builds per
    // superstep delivering a number the driver already knows. lit(n)
    // is the driverRankLoop discipline and folds to the identical
    // IEEE double at plan time (1.0 / cast(n as double)), so ranks
    // are bit-unchanged (GraphSpec's three-path parity pins it).
    val nNodes = nodes0.count()
    val coPart = coPartition.getOrElse(nNodes > BroadcastMaxNodes)
    // co-partitioned path: nodes hash-partitioned by id and sorted, so
    // the per-superstep teleport join and the final rank table inherit
    // node partitioning through every checkpoint
    // EXPLICIT partition count on both co-partitioned sides: an
    // unpinned repartition is an AQE coalesce candidate, and the two
    // sides coalescing to different counts would silently re-insert
    // the exchange this path exists to avoid
    val nPart = spark.sessionState.conf.numShufflePartitions
    // DECLARED-partitioning checkpoints (ColumnBridge): under AQE a
    // plain localCheckpoint forgets its layout (the adaptive plan
    // reports UnknownPartitioning at checkpoint time), which would
    // re-insert an exchange on every superstep join — the bridge
    // persists the rows AND states the hash layout on the LogicalRDD
    def declChk(df: DataFrame, key: String, reshape: Boolean): (DataFrame, Set[Int]) = {
      val out = org.apache.spark.sql.graftbridge.ColumnBridge
        .checkpointDeclared(df, key, nPart, reshape,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      (out, org.apache.spark.sql.graftbridge.ColumnBridge.checkpointedRddIds(out))
    }
    val (nodes, nodesPartIds) =
      if (!coPart) (nodes0, Set.empty[Int])
      else declChk(nodes0, "node", reshape = true)
    // edge side of the co-partitioned superstep: partitioned by src and
    // sorted ONCE, memoized per (session, dir) — every superstep's
    // sort-merge join then reads it exchange-free AND sort-free (the
    // checkpoint preserves outputPartitioning + outputOrdering via
    // LogicalRDD). This is the second graph artifact; at 100 TB it is
    // the bucketed-by-src parquet layout of graphEdgeFracs.
    lazy val enBySrc = bySrcMemoKey match {
      case Some(key) => Dedup.memo(spark, key) { declChk(en, "src", reshape = true)._1 }
      case None =>
        val (df, ids) = declChk(en, "src", reshape = true)
        Dedup.trackStray(spark, ids)
        df
    }
    // broadcast path: pin the edge table into the COLUMNAR cache for
    // the loop — every superstep scans it, and ten parquet decodes of
    // the same ~1M rows cost more than one decode + nine vectorized
    // in-memory reads (the co-partitioned path already holds its
    // by-src layout resident). Compressed columnar batches, ~tens of
    // MB at sf0.1; released with the loop.
    // r20: the cache is REPARTITIONED BY dst and compiled with
    // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false,
    // so the InMemoryRelation DECLARES hashpartitioning(dst, n) — the
    // per-superstep contribution aggregation (groupBy dst after the
    // rank broadcast join, which preserves the streamed side's layout)
    // then rides the cache's partitioning with NO exchange in any
    // superstep; the one dst exchange is paid once at cache build.
    // This is the columnar variant of the r19 dst-declared probe: the
    // ROW-checkpoint form was measured-rejected (LogicalRDD scan 12.2
    // CPU-s vs 10.8 for columnar + exchange) because under Spark 4's
    // default the cached plan is re-planned by AQE and forgets the
    // layout — the conf, scoped to the persist() call that compiles
    // the cached plan, is what makes the COLUMNAR scan keep it.
    val enLoop =
      if (coPart) en
      else {
        // the cached plan must compile NON-adaptively: an AQE-wrapped
        // cached plan reports no outputPartitioning to consumers until
        // it finalizes, so the declared hash(dst) would be invisible
        // and every superstep would re-insert the contribution
        // exchange (probed: with only canChangeCachedPlanOutputPartitioning
        // =false the Exchange ENSURE_REQUIREMENTS survived)
        val confKey = "spark.sql.adaptive.enabled"
        val prev = spark.conf.getOption(confKey)
        spark.conf.set(confKey, "false")
        try
          en.repartition(nPart, col("dst"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        finally prev match {
          case Some(v) => spark.conf.set(confKey, v)
          case None => spark.conf.unset(confKey)
        }
      }
    val nCol = lit(nNodes)
    var prevIds: Set[Int] = Set.empty
    var rank = nodes.select(col("node"), init((col("node"), nCol)).as("r"))
    for (iter <- 1 to iters) {
      // contributions in FIXED-POINT (units of 1e-9): round(x·1e9) as
      // a long keeps the order-proof exact reduction but stays inside
      // whole-stage codegen as primitive arithmetic — the
      // round(x, 9) → DECIMAL(29,9) formulation allocates a BigDecimal
      // per edge row per superstep (measured ~2× the whole superstep).
      // Total mass is 1e9·Σr ≈ 1e9, so the long sum cannot overflow.
      // Both paths run the SAME expressions in the same reduction
      // discipline, so broadcast and co-partitioned ranks are
      // bit-identical (GraphSpec pins it).
      // a filter neither reshuffles nor re-sorts, so the co-partitioned
      // path's exchange-free merge join survives the pruning
      val active = if (pruneZeroRanks) rank.filter(col("r") =!= 0.0) else rank
      val joined =
        if (coPart)
          // rank is hash-partitioned by node (init: inherited from
          // nodes; iterations: preserved through the checkpoint), edges
          // by src — sort-merge joins exchange-free; only the rank side
          // sorts, and only until its ordering survives the loop
          enBySrc.hint("merge").join(active, col("node") === col("src"))
        else enLoop.join(broadcast(active), col("node") === col("src"))
      val contrib = joined
        .select(col("dst"),
          round(col("r") * col("frac") * lit(1e9)).cast("long").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("sc"))
      // checkpointing RANK (not contrib) is the faster cut: the
      // superstep then runs as one contrib job inside the checkpoint,
      // and the next broadcast(rank) reads materialized rows instead
      // of chaining broadcast-inside-broadcast builds on the driver
      // (measured 5.0 s vs 3.3 s for the contrib-checkpoint variant)
      val teleJoined =
        if (coPart)
          // nodes by node, contrib by dst (its aggregation key) — the
          // left join is co-partitioned too; no rank-sized broadcast
          // anywhere in this path
          nodes.hint("merge").join(contrib, col("node") === col("dst"), "left")
        else nodes.join(broadcast(contrib), col("node") === col("dst"), "left")
      val next0 = teleJoined.select(col("node"),
        (teleTerm((col("node"), nCol)) + lit(Damping) *
          (coalesce(col("sc"), lit(0L)).cast("double") / lit(1e9)))
          .as("r"))
      if (capturePlans && capturedSuperstepPlan.isEmpty)
        capturedSuperstepPlan = Some(next0.queryExecution.executedPlan.toString)
      // co-partitioned path: the superstep output IS hash(node, nPart)
      // partitioned and node-sorted (the left-outer merge join's
      // required distribution and output ordering) — declare it
      // without reshaping, so the NEXT superstep's joins stay
      // exchange-free; the reshape=false assertion is pinned by
      // GraphSpec's bit-parity against the broadcast path
      val doChk = iter % chkEvery == 0 || iter == iters
      val (next, ids) =
        if (!doChk) (next0, Set.empty[Int])
        else if (coPart) declChk(next0, "node", reshape = false)
        else Dedup.trackedCheckpoint(next0)
      if (doChk) { Dedup.unpersistIds(spark, prevIds); prevIds = ids }
      rank = next
    }
    if (!coPart) enLoop.unpersist(blocking = false)
    Dedup.unpersistIds(spark, nodeIds)
    Dedup.unpersistIds(spark, nodesPartIds)
    // the FINAL iteration's checkpoint backs the returned table, so it
    // cannot be freed here — register it as stray session state so
    // releaseIndexes reclaims it (otherwise every pagerank invocation
    // leaks one persisted rank table for the session's lifetime)
    Dedup.trackStray(spark, prevIds)
    rank
  }

  /** Test/bench entry: [[pagerankFull]] with the superstep join
    * strategy forced, bypassing the node-count switch. */
  private[operators] def pagerankFullForced(spark: SparkSession, dir: String,
      coPartition: Boolean): DataFrame =
    rankLoop(spark, dir, PrIters,
      n => lit(1.0) / n._2, n => lit(Teleport) / n._2,
      coPartition = Some(coPartition))

  /** Strong-tie threshold: a (customer, supplier) pair is a strong
    * tie when at least this many lineitems connect them — the
    * weight floor that turns the dense bipartite transaction graph
    * into meaningful communities (at w ≥ 1 everything is one giant
    * component; at 3, sf0.1 resolves 157 components). */
  private[operators] val StrongTieMinW = 3L

  /** Connected components over the STRONG-TIE transaction graph —
    * the community-resolution analytic (which customers and suppliers
    * form a repeat-business cluster), reusing the engine's
    * O(log n)-round alternating large-star/small-star machinery
    * (`Dedup.connectedComponents`, the Kiveris 2014 shape the dedup
    * clusters already run at corpus scale). Per-component summary:
    * component id = the component's minimum node id, node and
    * per-side counts, id range. One edge-table filter feeds the star
    * rounds; each round is two window passes over the (tiny) strong
    * edge set — no full-graph shuffle anywhere.
    *
    * Oracle: DuckDB replays the same components with a recursive
    * reach CTE over the identical strong edge set (min-label
    * semantics agree by construction). */
  def strongComponents(spark: SparkSession, dir: String): DataFrame = {
    val strong = edgeFracs(spark, dir)
      .filter(col("w") >= StrongTieMinW && col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    Dedup.connectedComponents(strong)
      .groupBy("component")
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("id") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("id") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"),
        min(col("id")).as("min_node"), max(col("id")).as("max_node"))
      .orderBy("component")
  }

  /** Label-propagation superstep count: 4 = two full
    * alternate-the-sides rounds (each side updated twice). This is a
    * FIXED operating point, not a convergence knob — the public API
    * shape (GraphFrames' labelPropagation takes maxIter and documents
    * that LPA does not converge): on a dense weighted graph label
    * propagation is epidemic, and running longer consensus-collapses
    * the structure (measured at sf0.01: 4 supersteps resolve 20
    * communities, 6 collapse all 1,600 nodes into one — the PprIters
    * stability claim was TESTED here and refuted, so the contract is
    * the pinned count the oracle unrolls, with the collapse itself
    * spec-pinned as the documented reason). */
  private[operators] val LpaIters = 4

  /** Community detection by SEMI-SYNCHRONOUS label propagation
    * (Raghavan et al. 2007 semantics with the bipartite-safe
    * schedule of Cordasco & Gargano 2010): each superstep updates
    * ONE side of the bipartite transaction graph — odd steps the
    * suppliers, even steps the customers — to the label with the
    * greatest incoming edge weight (ties to the smallest label).
    * Fully synchronous LPA oscillates on bipartite graphs (labels
    * swap sides every step and never settle); freezing one side per
    * step removes the oscillation while keeping the update
    * deterministic and order-free — no async sweep, no RNG.
    *
    * Weighted, unlike [[strongComponents]]' thresholded connectivity:
    * a supplier joins the community it does the MOST business with,
    * not every community it ever sold to — the two queries answer
    * different questions off the same artifact.
    *
    * Scale shape: the side filter pushes into the edge scan (each
    * superstep joins HALF the edge table), votes are one hash-agg on
    * (node, label) with map-side partials, the argmax is a
    * WindowGroupLimit rank-1, and the label table checkpoints per
    * step under the rank loop's track-and-free discipline. Below
    * [[BroadcastMaxNodes]] the label side broadcasts; above it the
    * join rides the same memoized by-src layout the rank supersteps
    * use (only the node-sized label side shuffles). Integer weights
    * sum exactly — no float reduction anywhere. */
  /** Memoized label table after superstep `i` (node, lbl): step 0 is
    * the identity labeling; each later step is one semi-synchronous
    * vote → argmax → side-merge, built recursively on the memoized
    * previous step. Memoizing PER STEP lets the community query and
    * its convergence trace share ONE superstep computation per
    * session, and a longer run (the iters = 6 collapse check) extends
    * the cached prefix instead of recomputing it. Footprint: unlike
    * the old in-loop unpersist (≤2 tables live), all N+1 step tables
    * stay resident until releaseIndexes — each is a (long, long) row
    * per NODE (~25 MB serialized at the 1.6M-node probe tier), two
    * orders below the edge artifact the session already persists for
    * the supersteps, so the trade buys shared computation for a
    * rounding-error of cache. */
  private def lpaLabels(spark: SparkSession, dir: String, i: Int): DataFrame =
    Dedup.memo(spark, s"lpaStep$i|$dir") {
      val en = edgeFracs(spark, dir)
      if (i == 0) {
        Dedup.checkpointSer(
          en.select(col("src").as("node")).distinct()
            .select(col("node"), col("node").as("lbl")))
      } else {
        val labels = lpaLabels(spark, dir, i - 1)
        val coPart = lpaLabels(spark, dir, 0).count() > BroadcastMaxNodes
        val nPart = spark.sessionState.conf.numShufflePartitions
        lazy val enBySrc = Dedup.memo(spark, s"graphEdgesBySrc|$dir") {
          org.apache.spark.sql.graftbridge.ColumnBridge.checkpointDeclared(
            en, "src", nPart, reshape = true,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        }
        val side = i % 2 // 1 = suppliers (odd ids), 0 = customers
        val lbl = labels.withColumnRenamed("node", "src")
        val sideEdges =
          (if (coPart) enBySrc.hint("merge") else en)
            .filter(pmod(col("dst"), lit(2)) === side)
        val joined =
          if (coPart) sideEdges.join(lbl, "src")
          else sideEdges.join(broadcast(lbl), "src")
        val votes = joined
          .groupBy(col("dst").as("node"), col("lbl"))
          .agg(sum(col("w")).as("wsum"))
        val w = Window.partitionBy(col("node"))
          .orderBy(col("wsum").desc, col("lbl").asc)
        val updated = votes
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("node", "lbl")
        Dedup.checkpointSer(
          updated.unionByName(
            labels.filter(pmod(col("node"), lit(2)) =!= side)))
      }
    }

  def labelPropagation(spark: SparkSession, dir: String,
                       iters: Int = LpaIters): DataFrame = {
    lpaLabels(spark, dir, iters).groupBy("lbl")
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"))
      .select(label(col("lbl")).as("community"), col("n_nodes"),
        col("n_customers"), col("n_suppliers"), col("lbl").as("_id"))
      .orderBy(col("n_nodes").desc, col("_id").asc)
      .limit(20)
      .drop("_id")
  }

  /** LPA convergence trace: the changed-label count and fraction per
    * superstep — the observability row a deployed community job
    * publishes next to its result. The pinned 4-step operating point
    * was justified at two SFs by a measured consensus collapse; this
    * trace IS that measurement as a first-class oracled query, so the
    * justification travels with the job at any scale instead of
    * living in a probe log. Same loop as [[labelPropagation]] (same
    * side schedule, same argmax); each step's change count compares
    * the CHECKPOINTED label tables of steps i-1 and i — node-sized
    * joins on materialized tables, so the trace costs one extra
    * node-scan per step, not a second vote aggregation. */
  def labelPropagationTrace(spark: SparkSession, dir: String,
                            iters: Int = LpaIters): DataFrame = {
    val nTotal = lpaLabels(spark, dir, 0)
      .groupBy().agg(count(lit(1)).cast("long").as("n_nodes"))
    val stepRows = (1 to iters).map { i =>
      // changed = nodes whose label moved between the two memoized
      // generations (only the step's updated side can move)
      val changed = lpaLabels(spark, dir, i).join(
          lpaLabels(spark, dir, i - 1).withColumnRenamed("lbl", "prev_lbl"),
          "node")
        .filter(col("lbl") =!= col("prev_lbl"))
        .groupBy().agg(count(lit(1)).cast("long").as("n_changed"))
      changed.crossJoin(nTotal)
        .select(lit(i).as("step"), col("n_changed"), col("n_nodes"),
          round(col("n_changed").cast("double") / col("n_nodes"), 6)
            .as("frac_changed"))
    }
    stepRows.reduce(_.unionByName(_)).orderBy("step")
  }

  /** Degree distribution per side — the pre-flight audit before any
    * graph job (a power-law tail predicts the skew the superstep
    * shuffle must absorb). One corpus-sized aggregation, then a
    * bounded histogram. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    edgeFracs(spark, dir)
      .groupBy(when(col("src") % 2 === 0, lit("c")).otherwise(lit("s")).as("side"),
        col("src"))
      .agg(count(lit(1)).as("degree"))
      .groupBy("side", "degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("side", "degree")
}

/** Driver-contract registration for the graph set. */
object GraphModule extends QueryModule {

  def queries = Map(
    "q_graph_pagerank" -> ((s: SparkSession, d: String) => Graph.pagerank(s, d)),
    "q_graph_ppr" -> ((s: SparkSession, d: String) => Graph.pagerankPersonalized(s, d)),
    "q_graph_degree" -> ((s: SparkSession, d: String) => Graph.degreeHistogram(s, d)),
    "q_graph_components" -> ((s: SparkSession, d: String) => Graph.strongComponents(s, d)),
    "q_graph_lpa" -> ((s: SparkSession, d: String) => Graph.labelPropagation(s, d)),
    "q_graph_lpa_trace" -> ((s: SparkSession, d: String) => Graph.labelPropagationTrace(s, d)))

  /** The shared edge/node CTE head — same parity-encoded long ids. */
  private val GraphCte: String =
    """eb AS (SELECT 2 * o_custkey AS a, 2 * l_suppkey + 1 AS b,
      |    CAST(COUNT(*) AS BIGINT) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
      |e AS (SELECT a AS src, b AS dst, w FROM eb
      |      UNION ALL SELECT b AS src, a AS dst, w FROM eb),
      |ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
      |en AS (SELECT e.src, e.dst,
      |    CAST(e.w AS DOUBLE) / CAST(ow.ow AS DOUBLE) AS frac
      |  FROM e JOIN ow ON ow.src = e.src),
      |n AS (SELECT DISTINCT src AS node FROM e),
      |cnt AS (SELECT COUNT(*) AS n FROM n)""".stripMargin

  /** Unrolled supersteps — same fixed-point arithmetic as the Spark
    * side; `initSql`/`teleSql` parameterize the global vs personalized
    * teleport vector (texts chosen so the global path is byte-stable
    * against its established hash). */
  /** The unrolled fixed-point superstep CTE chain (r0 … r`iters`) over
    * whatever `en`/`n`/`cnt` tables the WITH head defines — shared by
    * the transaction-graph oracles and TextRank's word-graph oracle
    * (same arithmetic, different node universe). */
  private[operators] def unrolledSuperstepsSql(iters: Int, initSql: String,
                                               teleSql: String): String = {
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT en.dst AS node,
         |    CAST(round($prev.r * en.frac * 1000000000.0) AS BIGINT) AS c
         |  FROM en JOIN $prev ON $prev.node = en.src),
         |s$i AS (SELECT node, CAST(SUM(c) AS BIGINT) AS sc FROM c$i GROUP BY node),
         |r$i AS (SELECT n.node,
         |    $teleSql + CAST(0.85 AS DOUBLE) *
         |      (CAST(coalesce(s$i.sc, 0) AS DOUBLE) / 1000000000.0) AS r
         |  FROM n CROSS JOIN cnt LEFT JOIN s$i ON s$i.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""r0 AS (SELECT node, $initSql AS r FROM n CROSS JOIN cnt),
       |$steps""".stripMargin
  }

  private def pagerankSqlWith(iters: Int, initSql: String, teleSql: String): String =
    s"""WITH $GraphCte,
       |${unrolledSuperstepsSql(iters, initSql, teleSql)}
       |SELECT CASE WHEN id % 2 = 0 THEN 'c' || CAST(id // 2 AS BIGINT)
       |            ELSE 's' || CAST((id - 1) // 2 AS BIGINT) END AS node,
       |  round(r, 6) AS rank
       |FROM (SELECT node AS id, r FROM r$iters) t
       |ORDER BY r DESC, id ASC LIMIT 20""".stripMargin

  private def pagerankSql: String =
    pagerankSqlWith(Graph.PrIters,
      "CAST(1 AS DOUBLE) / cnt.n",
      "CAST(0.15 AS DOUBLE) / cnt.n")

  private def pprSql: String =
    pagerankSqlWith(Graph.PprIters,
      s"CASE WHEN node = ${Graph.PprSource} THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END",
      s"CASE WHEN n.node = ${Graph.PprSource} THEN CAST(0.15 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END")

  /** Unrolled semi-synchronous LPA — one (votes, argmax, merge) CTE
    * triple per superstep, the side schedule and min-label tie-break
    * mirrored from the Spark loop; integer weight sums, so the two
    * engines agree exactly. */
  /** The shared unrolled superstep chain l0 … l`iters` (votes, argmax,
    * side-merge per step) — lpaSql reports the final communities,
    * lpaTraceSql the per-step change counts off the SAME chain. */
  private def lpaStepsSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"l${i - 1}"
      val side = i % 2
      s"""v$i AS (SELECT e.dst AS node, p.lbl, CAST(SUM(e.w) AS BIGINT) AS wsum
         |  FROM e JOIN $prev p ON p.node = e.src
         |  WHERE e.dst % 2 = $side GROUP BY 1, 2),
         |u$i AS (SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY wsum DESC, lbl ASC) AS rn
         |    FROM v$i) WHERE rn = 1),
         |l$i AS (SELECT node, lbl FROM u$i
         |        UNION ALL SELECT node, lbl FROM $prev WHERE node % 2 <> $side)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT node, node AS lbl FROM n),
       |$steps""".stripMargin
  }

  private def lpaSql: String =
    s"""WITH $GraphCte,
       |${lpaStepsSql(Graph.LpaIters)}
       |SELECT CASE WHEN lbl % 2 = 0 THEN 'c' || CAST(lbl // 2 AS BIGINT)
       |            ELSE 's' || CAST((lbl - 1) // 2 AS BIGINT) END AS community,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
       |  CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
       |FROM l${Graph.LpaIters}
       |GROUP BY lbl ORDER BY n_nodes DESC, lbl ASC LIMIT 20""".stripMargin

  /** SQL twin of [[Graph.labelPropagationTrace]]: the same superstep
    * chain, each step's changed-node count from a join of adjacent
    * label generations. */
  private def lpaTraceSql: String = {
    val chs = (1 to Graph.LpaIters).map { i =>
      s"""ch$i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_changed
         |  FROM l$i x JOIN l${i - 1} p ON p.node = x.node
         |  WHERE x.lbl <> p.lbl)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to Graph.LpaIters).map { i =>
      s"""SELECT $i AS step, n_changed, CAST(n AS BIGINT) AS n_nodes,
         |  round(CAST(n_changed AS DOUBLE) / n, 6) AS frac_changed
         |FROM ch$i CROSS JOIN cnt""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $GraphCte,
       |${lpaStepsSql(Graph.LpaIters)},
       |$chs
       |$rows
       |ORDER BY step""".stripMargin
  }

  def oracles = Map(
    "q_graph_pagerank" -> pagerankSql,
    "q_graph_ppr" -> pprSql,
    "q_graph_lpa" -> lpaSql,
    "q_graph_lpa_trace" -> lpaTraceSql,
    "q_graph_components" ->
      s"""WITH RECURSIVE $GraphCte,
         |strong AS (SELECT a AS u, b AS v FROM eb WHERE w >= ${Graph.StrongTieMinW}),
         |edges AS (SELECT u, v FROM strong UNION SELECT v, u FROM strong),
         |reach(id, lbl) AS (
         |  SELECT DISTINCT u AS id, u AS lbl FROM edges
         |  UNION
         |  SELECT ed.v, r.lbl FROM reach r JOIN edges ed ON ed.u = r.id),
         |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
         |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  CAST(SUM(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
         |  CAST(SUM(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
         |  MIN(id) AS min_node, MAX(id) AS max_node
         |FROM comp GROUP BY component ORDER BY component""".stripMargin,
    "q_graph_degree" ->
      s"""WITH $GraphCte,
         |d AS (SELECT CASE WHEN src % 2 = 0 THEN 'c' ELSE 's' END AS side,
         |    src, CAST(COUNT(*) AS BIGINT) AS degree
         |  FROM e GROUP BY 1, 2)
         |SELECT side, degree, COUNT(*) AS n_nodes
         |FROM d GROUP BY side, degree ORDER BY side, degree""".stripMargin)
}
