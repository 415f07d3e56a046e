package graft.operators

import graft.SparkSpec

/** Round-17 corpus-sized star caps: the derivation rule
  * ([[Dedup.starCapFor]] — largest power-of-two cap whose extra
  * all-pairs emission over the floor fits the floor·N budget) pinned
  * on corpora either side of the boundary. The driver corpora never
  * cross the floor, so the per-round oracle sweep separately proves
  * the caps change nothing at the gate SFs. */
class SizingSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sizing").toString
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // a long base text: near-identical copies share MANY hot shingles
  private val base = (1 to 60).map(i => s"tok$i").mkString(" ")

  test("a boilerplate flood keeps the floor: its hot shingles blow the budget") {
    // 80 near-identical docs (every shared shingle at df ≈ 80 — far
    // over the 64·N budget for a ~90-doc corpus) + noise
    val flood = (0 until 80).map(i => (i.toLong, s"$base uniq$i"))
    val noise = (100 until 110).map(i =>
      (i.toLong, (1 to 30).map(j => s"n${i}w$j").mkString(" ")))
    val dir = docsDir(flood ++ noise)
    assert(Dedup.shingleStarCap(spark, dir) === Dedup.MaxShingleDf,
      "an unaffordable hot-shingle mass must keep the floor")
    Dedup.releaseIndexes(spark)
  }

  test("a benign hot tail raises the cap exactly as far as the budget affords") {
    // 700 docs: 100 share one 3-token header (ONE shingle at df=100 —
    // affordable), 600 share another (df=600 — 360k extra pairs, past
    // the 64·700 budget), rest of every doc distinct. The ladder must
    // climb past 100's band and stop before 600's.
    val groupA = (0 until 100).map(i =>
      (i.toLong, s"alpha beta gamma a$i ${(1 to 10).map(j => s"a${i}x$j").mkString(" ")}"))
    val groupB = (1000 until 1600).map(i =>
      (i.toLong, s"delta epsilon zeta b$i ${(1 to 10).map(j => s"b${i}x$j").mkString(" ")}"))
    val dir = docsDir(groupA ++ groupB)
    val cap = Dedup.shingleStarCap(spark, dir)
    assert(cap >= 128 && cap < 600,
      s"expected the ladder to clear df=100 and stop before df=600, got $cap")
    Dedup.releaseIndexes(spark)
  }

  test("a corpus whose every bucket sits under the floor is unconstrained") {
    val dir = docsDir((0 until 20).map(i =>
      (i.toLong, (1 to 30).map(j => s"d${i}w$j").mkString(" "))))
    assert(Dedup.shingleStarCap(spark, dir) === Dedup.MaxStarCap,
      "no bucket over the floor → the cap cannot bind; MaxStarCap signals that")
    Dedup.releaseIndexes(spark)
  }

  test("derived caps are session-memoized: one derivation per (session, dir, family)") {
    val dir = docsDir((0 until 10).map(i =>
      (i.toLong, (1 to 20).map(j => s"m${i}w$j").mkString(" "))))
    val c1 = Dedup.shingleStarCap(spark, dir)
    val c2 = Dedup.shingleStarCap(spark, dir)
    assert(c1 === c2)
    Dedup.releaseIndexes(spark)
  }

  test("building the pair plan runs no Spark job once the derived caps are memoized") {
    val dir = docsDir((0 until 10).map(i =>
      (i.toLong, (1 to 20).map(j => s"p${i}w$j").mkString(" "))))
    Dedup.shingleStarCap(spark, dir)
    val sc = spark.sparkContext
    // job-group ids of every job started, in start order; a sentinel
    // job run after the build marks the end of the build's events
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pair-plan", "build jaccardPairPlan")
      Dedup.jaccardPairPlan(spark, dir)
      sc.setJobGroup("pair-plan-sentinel", "end of build")
      spark.range(1).count()
      sc.clearJobGroup()
      def next() = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      var built = 0
      var g = next()
      while (g != null && g != "pair-plan-sentinel") {
        if (g == "pair-plan") built += 1
        g = next()
      }
      assert(g != null, "the sentinel job never reached the listener")
      assert(built === 0, s"jaccardPairPlan started $built job(s) while building its plan")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      Dedup.releaseIndexes(spark)
    }
  }
}
