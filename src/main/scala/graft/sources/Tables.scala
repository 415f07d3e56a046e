package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated testdata
  * (see /root/repo/TESTDATA.md). One loader per table so query code
  * never concatenates paths, and so a future move to a real catalog
  * (JDBC/metastore) swaps implementations in one place.
  *
  * Scale posture: `spark.read.parquet` gives the vectorized columnar
  * reader with row-group pruning + predicate/column pushdown; at 100 TB
  * the same call reads a partitioned directory tree and Catalyst prunes
  * partitions from the pushed filters. Nothing here materializes rows.
  */
object Tables {
  /** Session-memoized loads, keyed to the table's file GENERATION
    * (name:len:mtime of the data files — the index-artifact
    * fingerprint discipline). `spark.read.parquet` pays DataSource
    * resolution + a footer read per CALL (~50-100 ms of driver time),
    * and every query construction loads each of its tables afresh —
    * a fixed per-query cost that dominates the sub-second queries'
    * wall. An unchanged generation returns the cached (immutable)
    * DataFrame — same files, same schema, same rows; a changed one
    * (fixture overwrite in tests, a refreshed corpus) re-resolves, so
    * no reader can see a stale listing. The fingerprint stat is
    * driver-side fs metadata (~1 ms), no job. */
  /** BOUNDED load cache (r20): the cached DataFrames strongly
    * reference their session, so an unbounded static map would pin
    * every session that ever loaded a table (the r19 "unbounded memo
    * growth" item — worse than growth, an immortality cycle: entry →
    * DataFrame → session, so the weak session key could never clear).
    * A FIFO bound caps the map at [[LoadCacheMaxEntries]]; eviction
    * drops the oldest entry, un-pinning its session, after which the
    * SessionSweep purge clears any sibling entries the collected
    * session left in the other scoped caches. 64 entries cover ~6
    * concurrently hot sessions × 10 tables; an evicted entry merely
    * re-resolves (~50-100 ms driver) on next use. (A per-session
    * stash was probed and rejected: Spark's listenerManager parks
    * registered listeners on the CONTEXT's ExecutionListenerBus, so a
    * listener-held stash pins the session at context scope — the same
    * cycle one level up.) */
  private val LoadCacheMaxEntries = 64
  private val loadCache =
    SessionSweep.scoped(new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]())
  private val loadOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Test hook: current load-cache entry count for a session. */
  private[graft] def loadCacheSizeForTest(spark: SparkSession): Int = {
    val prefix = s"${SessionSweep.key(spark)}|"
    var n = 0
    loadCache.keySet.forEach(k => if (k.startsWith(prefix)) n += 1)
    n
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // keyed per SESSION (not context): schema inference can depend on
    // session read confs (e.g. legacy.parquet.nanosAsLong for events)
    val key = s"${SessionSweep.key(spark)}|$path"
    val fp = try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      if (st.isFile) s"${st.getLen}:${st.getModificationTime}"
      else {
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val s = it.next()
          entries += s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}"
        }
        entries.sorted.mkString(",")
      }
    } catch {
      // unreadable/missing now: fall through to the plain read so the
      // caller sees Spark's own error (or a late-created table), and
      // never a stale cached frame
      case _: java.io.IOException => return spark.read.parquet(path)
    }
    val hit = loadCache.get(key)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val df = spark.read.parquet(path)
      loadCache.put(key, (fp, df))
      loadOrder.add(key)
      // FIFO bound: a refreshed key may carry a stale queue entry and
      // get evicted early — it just re-resolves; never grows unbounded
      while (loadCache.size > LoadCacheMaxEntries) {
        val old = loadOrder.poll()
        if (old == null) return df
        loadCache.remove(old)
      }
      df
    }
  }

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  /** The driver-generated events table has shipped `ts` in two layouts
    * across rounds: parquet TIMESTAMP(NANOS), which Spark 4's reader
    * rejects outright (PARQUET_TYPE_ILLEGAL), and TIMESTAMP_MICROS with
    * isAdjustedToUTC=0 (Spark TIMESTAMP_NTZ). Normalize both to a
    * session-zone TimestampType so downstream event-time code
    * (session_window bounds, unix_micros) sees one type:
    *  - nanos-as-long (via the legacy conf) → exact integer `div 1000`
    *    to micros, no double rounding;
    *  - NTZ → cast to TimestampType. The Verify/Bench sessions pin the
    *    timezone to UTC, so the cast is a lossless relabel reproducing
    *    the exact LTZ semantics the oracles have matched since round 2.
    * Fixture-written tables already carry native LTZ and pass through. */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
