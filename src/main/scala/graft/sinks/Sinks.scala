package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.sql.{Connection, PreparedStatement, SQLException, SQLNonTransientException}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.util.SerializableConfiguration

/** Sink operators (SURVEY.md §2.1 S5–S8). The reference uploads one
  * pretty-printed JSON object per record to S3
  * (`flows/main_flow.py:141-147`) and writes the transcript back with
  * UPDATE + INSERT in one transaction per record
  * (`flows/main_flow.py:94-104`). Spark has no native one-object-per-
  * row or JDBC-update sink, so both are `foreachPartition` writers.
  *
  * Delivery semantics: Spark sinks are at-least-once on retry, so
  * every writer here is idempotent — object writes overwrite the same
  * key, the upsert's UPDATE is naturally idempotent and its INSERT
  * must carry ON CONFLICT (the reference's plain INSERT duplicates on
  * rerun; SURVEY.md §7.4).
  *
  * Scale posture: all I/O is executor-side and per-partition batched —
  * one FileSystem/Connection per partition, not per row (the reference
  * opens a Postgres connection per record, `flows/main_flow.py:83-90`).
  * Partition count controls sink parallelism. Fed from
  * `Alto.fetchXml`, which spreads its input over `defaultParallelism`
  * partitions, [[jdbcUpsert]] opens up to that many connections at
  * once; coalesce before calling to bound concurrent connections
  * against the target store. Local objects are written with NIO
  * ([[LocalFiles]]): no `.crc` sidecar and no `chmod` fork per object.
  *
  * Filesystem sinks resolve their paths with the session's Hadoop
  * configuration (`spark.hadoop.*` and session `fs.*` settings, such as
  * s3a endpoints and credentials), taken once on the driver as Spark's
  * own file writers do, not with a fresh `Configuration` per task.
  */
object Sinks {

  /** One object per row, named by `keyCol`, bytes from `payloadCol`
    * (string → UTF-8). `outDir` may be any Hadoop-supported scheme
    * (file://, hdfs://, s3a://) — the reference's S3 put becomes the
    * same call with an s3a path. Overwrites existing keys
    * (idempotent replay); a key containing `/` lands in a
    * subdirectory. On the local filesystem (file:// or a scheme-less
    * path) each object is one NIO create/truncate write, with no
    * `.crc` sidecar and no `chmod` fork; other schemes go through
    * `FileSystem.create`. */
  def writeObjectPerRow(df: DataFrame, keyCol: String, payloadCol: String,
                        outDir: String): Unit = {
    val ki = df.schema.fieldIndex(keyCol)
    val pi = df.schema.fieldIndex(payloadCol)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val base = new Path(outDir)
    val fs = base.getFileSystem(conf)
    val root = base.makeQualified(fs.getUri, fs.getWorkingDirectory)
    // decided here: a local target is written with NIO and its tasks
    // need no Hadoop configuration; any other scheme ships the
    // session's, which costs each task a deserialization of over a
    // thousand entries
    val remote =
      if (LocalFiles.nioPath(fs, root).isDefined) None else Some(new SerializableConfiguration(conf))
    df.foreachPartition { rows: Iterator[Row] =>
      val remoteFs = remote.map(c => root.getFileSystem(c.value))
      rows.foreach { r =>
        if (!r.isNullAt(ki) && !r.isNullAt(pi)) {
          val key = new Path(root, r.getString(ki))
          val bytes = r.getString(pi).getBytes(StandardCharsets.UTF_8)
          remoteFs match {
            case None => LocalFiles.write(Paths.get(key.toUri), bytes)
            case Some(fs) =>
              val out = fs.create(key, true)
              try out.write(bytes) finally out.close()
          }
        }
      }
    }
  }

  /** Hive-style partitioned parquet sink: the bulk-layout counterpart
    * (partition pruning on `partitionCols` for downstream readers). */
  def writePartitioned(df: DataFrame, partitionCols: Seq[String], outDir: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)

  /** Bucketed managed table: pre-shuffles ONCE at write time so every
    * later equi-join/aggregation on `keyCol` is co-located — the
    * standing fix for a fact table that is joined on the same key by
    * many queries (at 100 TB, re-shuffling per query dominates; a
    * bucketed layout amortizes it to zero). BucketingSpec proves the
    * join plans without an Exchange. */
  def writeBucketed(df: DataFrame, numBuckets: Int, keyCol: String,
                    table: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keyCol).sortBy(keyCol)
      .saveAsTable(table)

  /** An upsert destination: the two DMLs of the reference's sink, made
    * idempotent. Parameters bind positionally from `updateCols` /
    * `insertCols` of each row. */
  case class UpsertSpec(updateSql: String, updateCols: Seq[String],
                        insertSql: String, insertCols: Seq[String],
                        batchSize: Int = 500)

  /** The reference's exact sink pair (`flows/main_flow.py:94-103`),
    * with ON CONFLICT added so at-least-once replay cannot duplicate. */
  def transcriptUpsertSpec: UpsertSpec = UpsertSpec(
    updateSql = "UPDATE graph.representation SET schema_transcript = ? WHERE id = ?",
    updateCols = Seq("transcript", "representation_id"),
    insertSql = "INSERT INTO graph.schema_transcript_url " +
      "(representation_id, schema_transcript_url) VALUES (?, ?) " +
      "ON CONFLICT (representation_id) DO UPDATE SET schema_transcript_url = EXCLUDED.schema_transcript_url",
    insertCols = Seq("representation_id", "transcript_url"))

  /** Attempts per upsert batch: the first write and two replays. */
  private[sinks] val UpsertAttempts = 3

  /** Batched transactional upsert: per partition, one connection, both
    * statements batched, one commit per `batchSize` rows (vs the
    * reference's connection + commit per record). `connFactory` must be
    * serializable (a driver-config-closing function, not a Connection).
    *
    * On failure the open transaction rolls back. A batch that failed
    * with anything but a `SQLNonTransientException` (constraint,
    * syntax, authorization: retrying cannot succeed) is replayed on a
    * fresh connection, up to [[UpsertAttempts]] attempts in all: the
    * partitions of one sink write concurrently, and a concurrent
    * transaction can fail where a serial one would not (a deadlock or
    * serialization failure; embedded Derby's MERGE even fails with an
    * internal error and a closed session when two connections run it
    * at once). Past that the task fails, and a task retry replays the
    * partition. Replays are safe because both DMLs are idempotent. */
  def jdbcUpsert(df: DataFrame, spec: UpsertSpec,
                 connFactory: () => Connection): Unit = {
    val schema = df.schema
    val updIdx = spec.updateCols.map(schema.fieldIndex)
    val insIdx = spec.insertCols.map(schema.fieldIndex)
    df.foreachPartition { rows: Iterator[Row] =>
      var open: Option[(Connection, PreparedStatement, PreparedStatement)] = None
      def connect() = {
        val conn = connFactory()
        conn.setAutoCommit(false)
        val w = (conn, conn.prepareStatement(spec.updateSql), conn.prepareStatement(spec.insertSql))
        open = Some(w)
        w
      }
      try rows.grouped(spec.batchSize).foreach { batch =>
        var attempt = 1
        var committed = false
        while (!committed) {
          val (conn, upd, ins) = open.getOrElse(connect())
          try {
            batch.foreach { r =>
              bind(upd, updIdx, r); upd.addBatch()
              bind(ins, insIdx, r); ins.addBatch()
            }
            upd.executeBatch(); ins.executeBatch(); conn.commit()
            committed = true
          } catch {
            case e: Throwable =>
              // rollback on a dead connection throws its own exception —
              // keep the ORIGINAL failure (the one carrying the failing
              // row/constraint detail) and attach the rollback's as
              // suppressed rather than letting it mask the root cause
              try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
              val transient = e.isInstanceOf[SQLException] && !e.isInstanceOf[SQLNonTransientException]
              if (!transient || attempt >= UpsertAttempts) throw e
              open = None
              try conn.close() catch { case scala.util.control.NonFatal(_) => () }
              attempt += 1
          }
        }
      } finally open.foreach(_._1.close())
    }
  }

  private def bind(ps: PreparedStatement, idx: Seq[Int], r: Row): Unit =
    idx.zipWithIndex.foreach { case (fi, pi) =>
      ps.setObject(pi + 1, r.get(fi))
    }
}
