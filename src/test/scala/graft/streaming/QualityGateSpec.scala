package graft.streaming

import graft.SparkSpec
import graft.operators.TextAnalysis

/** The NB quality gate ([[TextAnalysis.scoreBatch]]) replayed over
  * micro-batches: scores must be byte-identical to the batch
  * q_quality_nb scores (same tokenizer, kernel, and DECIMAL
  * discipline), and out-of-vocabulary text must degrade to the
  * disclosed prior-only semantics, not diverge. */
class QualityGateSpec extends SparkSpec {
  import spark.implicits._

  case class Doc(doc_id: Long, text: String)

  /** Same separable fixture as TextAnalysisSpec's NB test: 4 Gopher
    * pass docs vs 6 junk docs. */
  private lazy val corpusDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-qgate").toString
    val passText = Array.fill(6)("the be to of and that have with good clean").mkString(" ")
    ((1L to 4L).map(id => (id, passText)) ++ (5L to 10L).map(id => (id, "zz qq ww")))
      .map { case (id, t) => (id, t, "en", "srcT", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def gate(dir: String, docs: Seq[Doc]): Seq[(Long, Double, String)] =
    MicroBatchReplay(spark, docs) { batch =>
      TextAnalysis.scoreBatch(batch, TextAnalysis.nbQualityModel(spark, dir))
        .select("doc_id", "nb_score", "nb_pred")
    }.map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))

  test("streamed scores are bit-identical to batch q_quality_nb; OOV text scores the prior") {
    val batchScores = TextAnalysis.nbQualityScore(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    val prior = TextAnalysis.nbQualityModel(spark, corpusDir)
      .filter("term IS NULL").collect()(0).getDouble(3)
    val collected = gate(corpusDir, Seq(
      // the corpus texts re-arriving on the stream
      Doc(101L, Array.fill(6)("the be to of and that have with good clean").mkString(" ")),
      Doc(102L, "zz qq ww"),
      // fully out-of-vocabulary → prior-only, the batch NULL-text path
      Doc(103L, "unseen vocabulary entirely")))
    val out = collected.map(t => t._1 -> (t._2, t._3)).toMap
    assert(out.size == 3, s"expected 3 scored docs: $collected")
    // stream ≡ batch, pinned against the corpus docs with the same text
    assert(out(101L) == batchScores(1L), s"${out(101L)} vs batch ${batchScores(1L)}")
    assert(out(102L) == batchScores(5L), s"${out(102L)} vs batch ${batchScores(5L)}")
    // OOV doc: score = round(prior, 6), prediction follows its sign
    val expected = BigDecimal(prior).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(103L)._1 == expected, s"OOV score ${out(103L)._1} vs prior $expected")
    assert(out(103L)._2 == (if (expected > 0) "pass" else "reject"))
  }

  test("the registered q_stream_parity_quality checksums equal a streamed replay of the same fixed batch") {
    // the registered head scores the even-doc_id slice through the
    // batch kernel; on the real testdata corpus the same slice replayed
    // over a stream must reduce to the identical checksum row
    val dir = sf("sf0.001")
    val exp = graft.SparkEntry.queries("q_stream_parity_quality")(spark, dir)
      .collect()(0)
    val batch = graft.sources.Tables.documents(spark, dir)
      .filter("doc_id % 2 = 0").select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    val rows = gate(dir, batch.toSeq)
    assert(rows.size.toLong == exp.getLong(0), "n_rows")
    assert(rows.count(_._3 == "pass").toLong == exp.getLong(1), "n_pass")
    assert(rows.map(t => math.round(t._2 * 1e6)).sum == exp.getLong(2), "chk_score")
    assert(rows.map(t => if (t._3 == "pass") t._1 else -t._1).sum == exp.getLong(3),
      "chk_doc")
  }
}
