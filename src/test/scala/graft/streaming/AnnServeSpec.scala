package graft.streaming

import graft.SparkSpec
import graft.operators.Similarity

/** ANN serving replayed over micro-batches: streamed top-k ≡ the batch
  * kernel on the same query vectors, for the LSH, IVF and IVF+PQ
  * families; a corpus-identical query finds itself at cosine 1;
  * zero-norm queries are dropped, not crashed. */
case class QVec(query_id: Long, embedding: Seq[Float])

class AnnServeSpec extends SparkSpec {
  import spark.implicits._

  private type Served = (Long, Long, Double, Int)

  private lazy val corpusDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-annserve").toString
    val rnd = new scala.util.Random(11)
    (0 until 40).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat), i % 4))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def vectors(dir: String): Map[Long, Seq[Float]] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap

  /** The served rows of `kernel`, once replayed over a stream and once
    * called on the same rows as a static batch. */
  private def serveBoth(queryRows: Seq[QVec])(kernel: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame): (Set[Served], Set[Served]) = {
    def tuple(r: org.apache.spark.sql.Row): Served = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val streamed = MicroBatchReplay(spark, queryRows)(b => kernel(b.select("query_id", "embedding")))
    (streamed.map(tuple).toSet, kernel(queryRows.toDF()).collect().map(tuple).toSet)
  }

  /** Probing only selects, never scores: every served cosine must
    * equal the brute-force cosine for that (query, neighbor) pair,
    * computed independently here from the raw vectors. */
  private def assertExactCosines(served: Set[Served], queries: Seq[QVec],
      corpus: Map[Long, Seq[Float]]): Unit = {
    val queryVecs = queries.map(q => q.query_id -> q.embedding).toMap
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    served.foreach { case (qid, nid, cos, _) =>
      val want = math.rint(cosine(queryVecs(qid), corpus(nid)) * 1e6) / 1e6
      assert(math.abs(want - cos) <= 1e-6,
        s"served cos diverged for ($qid,$nid): $want vs $cos")
    }
  }

  test("streamed top-k equals the batch kernel; corpus-identical query self-matches at cos 1") {
    val rnd = new scala.util.Random(99)
    val queryRows = Seq(
      QVec(1001L, vectors(corpusDir)(7L)),
      QVec(1002L, Seq.fill(16)(rnd.nextGaussian().toFloat)),
      QVec(1003L, Seq.fill(16)(0f))) // zero-norm
    val (collected, batchExpected) = serveBoth(queryRows)(
      Similarity.annServeBatch(spark, corpusDir, _, k = 3, radius = 2))
    assert(collected === batchExpected, "stream/batch divergence")
    // the corpus-identical query finds vec 7 as its top neighbor, cos 1
    val top1001 = collected.filter(t => t._1 == 1001L && t._4 == 1)
    assert(top1001.map(t => (t._2, t._3)) === Set((7L, 1.0)),
      s"self-match failed: $top1001")
    // the novel query got SOME ranked neighbors (bucket probe radius 2)
    assert(collected.exists(_._1 == 1002L), s"novel query unanswered: $collected")
    // the zero-norm query is silently dropped (not rankable), no crash
    assert(!collected.exists(_._1 == 1003L))
  }

  test("IVF serving twin: stream equals batch, self-match at cos 1, exact agreement on served pairs") {
    val corpus = vectors(corpusDir)
    val rnd = new scala.util.Random(42)
    val queryRows = Seq(
      QVec(2001L, corpus(7L)),
      QVec(2002L, Seq.fill(16)(rnd.nextGaussian().toFloat)),
      QVec(2003L, Seq.fill(16)(0f))) // zero-norm
    val (collected, batchExpected) = serveBoth(queryRows)(
      Similarity.annServeBatchIvf(spark, corpusDir, _, k = 3))
    assert(collected === batchExpected, "IVF stream/batch divergence")
    // corpus-identical query: its own cell is always the nearest probe,
    // so vec 7 MUST be found, at cosine exactly 1
    val top2001 = collected.filter(t => t._1 == 2001L && t._4 == 1)
    assert(top2001.map(t => (t._2, t._3)) === Set((7L, 1.0)),
      s"IVF self-match failed: $top2001")
    assert(collected.exists(_._1 == 2002L), s"novel query unanswered: $collected")
    assert(!collected.exists(_._1 == 2003L))
    assertExactCosines(collected, queryRows, corpus)
  }

  test("IVF+PQ serving twin: compressed shortlist selects, exact rerank scores — stream equals batch") {
    // The third serving family runs on the REAL 64-dim corpus (PQ's
    // 8×8 subspace split assumes dim 64); the tiny 16-dim fixture
    // above would encode only the first two subspaces.
    val dir = sf("sf0.001")
    val corpus = vectors(dir)
    val rnd = new scala.util.Random(7)
    val queryRows = Seq(
      QVec(3001L, corpus(7L)),
      QVec(3002L, Seq.fill(64)(rnd.nextGaussian().toFloat)),
      QVec(3003L, Seq.fill(64)(0f))) // zero-norm
    val (collected, batchExpected) = serveBoth(queryRows)(
      Similarity.annServeBatchIvfPq(spark, dir, _, k = 3))
    assert(collected === batchExpected, "IVF+PQ stream/batch divergence")
    // corpus-identical query: own cell always probed, the ADC shortlist
    // (tuned, >= 32 of ~500) comfortably keeps the identical vector,
    // and the exact rerank must then surface it at cosine exactly 1
    val top3001 = collected.filter(t => t._1 == 3001L && t._4 == 1)
    assert(top3001.map(t => (t._2, t._3)) === Set((7L, 1.0)),
      s"IVF+PQ self-match failed: $top3001")
    assert(collected.exists(_._1 == 3002L), s"novel query unanswered: $collected")
    assert(!collected.exists(_._1 == 3003L))
    // the compressed domain only SELECTS — served scores are exact cosines
    assertExactCosines(collected, queryRows, corpus)
  }
}
