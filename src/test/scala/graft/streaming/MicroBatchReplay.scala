package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Feeds `rows` through a `MemoryStream` and runs `kernel` on every
  * non-empty micro-batch inside `foreachBatch`: the shape an online
  * deployment of a batch head takes. Returns the kernel's rows from
  * every batch.
  *
  * The suites in this package hold the batch heads the
  * `q_stream_parity_*` and `annServeBatch*` families register to such a
  * replay: a kernel that only works on a whole static table (say, one
  * that caches by plan identity or assumes a file scan) fails here. */
object MicroBatchReplay {

  def apply[T: Encoder](spark: SparkSession, rows: Seq[T])(kernel: DataFrame => DataFrame)
      : Seq[Row] = {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[T]
    val out = ArrayBuffer.empty[Row]
    val q = input.toDF().writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) out ++= kernel(batch).collect()
      ()
    }.start()
    try {
      input.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    out.toSeq
  }
}
