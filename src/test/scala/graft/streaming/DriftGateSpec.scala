package graft.streaming

import graft.SparkSpec
import graft.operators.EmbeddingOps

/** The PSI drift report ([[EmbeddingOps.driftReport]]) replayed as a
  * micro-batch gate: assignment parity with the maintained fitted-cell
  * index (the corpus replayed through the gate must score PSI exactly
  * 0), and a concentrated batch must trip the gate. */
class DriftGateSpec extends SparkSpec {
  import spark.implicits._

  case class Vec(vec_id: Long, embedding: Seq[Float])

  private lazy val corpus: Array[Vec] =
    spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => Vec(id, v) }

  private def gate(rows: Seq[Vec]): Seq[org.apache.spark.sql.Row] =
    MicroBatchReplay(spark, rows)(EmbeddingOps.driftReport(_, spark, sf("sf0.001")))

  test("replaying the whole corpus through the gate scores PSI exactly 0") {
    val reports = gate(corpus.toSeq).map(_.getAs[Double]("psi_total"))
    assert(reports.nonEmpty)
    // ref = the maintained cell index, cur = the same 500 vectors
    // assigned again: any divergence in the frozen-quantizer
    // assignment would unbalance a cell and PSI ≠ 0
    assert(reports.forall(_ == 0.0),
      s"corpus replay must be drift-free, got ${reports.take(3)}")
  }

  test("the registered q_stream_parity_drift checksums equal a streamed replay of the same fixed batch") {
    // the registered head reduces the even-vec_id batch through the
    // batch kernel; streaming the identical slice must reduce to the
    // identical checksum row
    val dir = sf("sf0.001")
    val exp = graft.SparkEntry.queries("q_stream_parity_drift")(spark, dir)
      .collect()(0)
    val cells = gate(corpus.filter(_.vec_id % 2 == 0).toSeq)
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
        r.getAs[Double]("psi_contrib")))
    assert(cells.size.toLong == exp.getLong(0), "n_cells")
    assert(cells.map(_._2).sum == exp.getLong(1), "t_ref")
    assert(cells.map(_._3).sum == exp.getLong(2), "t_cur")
    assert(cells.map(c => (c._1 + 1L) * (c._2 + 1000003L * c._3)).sum ==
      exp.getLong(3), "chk_hist")
    assert(cells.map(c => math.round(c._4 * 1e9)).sum == exp.getLong(4), "chk_psi")
  }

  test("a batch concentrated in one region trips the gate; report matches the batch kernel") {
    // 50 near-copies of corpus vector 0 — a crawler stuck on one site
    val stuck = (0 until 50).map(i => Vec(100000L + i, corpus(0).embedding))
    val streamed = gate(stuck)
    val totals = streamed.map(_.getAs[Double]("psi_total")).distinct
    assert(totals.size == 1 && totals.head > 0.1,
      s"concentrated batch PSI $totals should exceed the 0.1 monitor bar")
    val collected = streamed.map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n_ref"),
      r.getAs[Long]("n_cur"), r.getAs[Double]("psi_contrib")))
    // byte-parity with the batch kernel on the identical slice
    val batchReport = EmbeddingOps.driftReport(
      stuck.map(v => (v.vec_id, v.embedding)).toDF("vec_id", "embedding"),
      spark, sf("sf0.001"))
      .select("cell", "n_ref", "n_cur", "psi_contrib")
      .as[(Int, Long, Long, Double)].collect()
    assert(collected.toSet == batchReport.toSet,
      "streamed report diverged from the batch kernel")
    // all 50 stream vectors landed in exactly one cell
    assert(collected.filter(_._3 > 0).map(_._3).sum == 50)
  }
}
