package graft.sources

import graft.SparkSpec

/** Watermark persistence semantics: first run sees None, success
  * advances, failure re-covers the window. */
class WatermarkStoreSpec extends SparkSpec {

  private def tmpMark(): String =
    java.nio.file.Files.createTempDirectory("graft-wm").toString + "/last_run"

  test("first run sees no mark; successful run persists the new mark") {
    val path = tmpMark()
    assert(WatermarkStore.read(path).isEmpty)
    val seen = WatermarkStore.incrementalRun(path, "2024-02-01") { since =>
      assert(since.isEmpty)
      "ran-full"
    }
    assert(seen == "ran-full")
    assert(WatermarkStore.read(path).contains("2024-02-01"))
  }

  test("next run filters from the stored mark; a failed run does not advance it") {
    val path = tmpMark()
    WatermarkStore.write(path, "2024-01-15")
    intercept[RuntimeException] {
      WatermarkStore.incrementalRun(path, "2024-02-01") { since =>
        assert(since.contains("2024-01-15"))
        throw new RuntimeException("sink failed")
      }
    }
    // mark unchanged → the window is re-covered on retry (at-least-once)
    assert(WatermarkStore.read(path).contains("2024-01-15"))
  }

  test("overwrite is a single rename: no temp file left, new value wins") {
    val path = tmpMark()
    WatermarkStore.write(path, "2024-01-15")
    WatermarkStore.write(path, "2024-02-01")
    assert(WatermarkStore.read(path).contains("2024-02-01"))
    val dir = new java.io.File(path).getParentFile
    assert(dir.listFiles().map(_.getName).toSet == Set("last_run"),
      "temp file must be renamed away, not left behind, and no .crc sidecar written")
  }

  test("a mark left by a checksummed Hadoop write is replaced and reads back") {
    val path = tmpMark()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write("2024-01-15".getBytes("UTF-8")) finally out.close()
    WatermarkStore.write(path, "2024-02-01")
    assert(WatermarkStore.read(path).contains("2024-02-01"))
    assert(new java.io.File(path).getParentFile.listFiles().map(_.getName).toSet == Set("last_run"))
  }

  test("drives the incremental catalog work-list end to end") {
    val path = tmpMark()
    WatermarkStore.write(path, "1999-01-01")
    val n = WatermarkStore.incrementalRun(path, "1999-06-01") { since =>
      graft.operators.Catalog.worklistSince(spark, sf("sf0.001"), since).count()
    }
    assert(n > 0)
    val full = graft.operators.Catalog.worklist(spark, sf("sf0.001")).count()
    assert(n < full) // the since-filter actually narrowed the scan
    assert(WatermarkStore.read(path).contains("1999-06-01"))
  }
}
