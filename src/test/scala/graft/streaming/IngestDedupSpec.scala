package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions.col

/** Ingest-side MinHash parity: [[Dedup.minhashOfText]], the
  * one-expression signature the append path computes per arriving
  * document, must equal the batch signature artifact on arbitrary
  * text. */
class IngestDedupSpec extends SparkSpec {
  import spark.implicits._

  test("signature parity holds over 50 seeded random documents") {
    // varied lengths, repeated tokens, mixed case/whitespace — the
    // parity must hold on arbitrary text, not just the fixtures
    val rnd = new scala.util.Random(77)
    val vocab = Vector("alpha", "Beta", "GAMMA", "delta", "ep", "zeta9", "x")
    val docs = (0 until 50).map { i =>
      val n = 1 + rnd.nextInt(60)
      val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
        .mkString(if (i % 3 == 0) "  " else " ")
      (i.toLong, text, "en", "srcT", text.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-parity").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = Dedup.minhashSignatures(spark, dir)
      .as[(Long, Seq[Long])].collect().toMap
    val expr = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), Dedup.minhashOfText(col("text")).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(batch.size == 50 && expr == batch)
    Dedup.releaseIndexes(spark)
  }
}
