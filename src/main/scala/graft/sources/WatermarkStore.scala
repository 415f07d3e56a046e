package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sinks.LocalFiles

/** Persisted high-water-mark for incremental batch runs — the engine's
  * version of the reference's last-run date (`get_last_run_config` /
  * `save_last_run_config`, `flows/main_flow.py:114,129-134`): read the
  * previous run's date, filter `updated_at >= since`, and persist the
  * new mark only after the run succeeds (at-least-once on failure —
  * the window is re-covered, which the idempotent sinks absorb;
  * SURVEY.md §7.4).
  *
  * Backed by one small object on any Hadoop filesystem so a cluster of
  * drivers shares it (file://, hdfs://, s3a://). Structured Streaming
  * replaces this entirely with checkpointed offsets
  * (graft.streaming.EventStreams); this is the batch-mode bridge.
  */
object WatermarkStore {

  /** The stored mark, or None on first run. */
  def read(path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8).trim)
        .filter(_.nonEmpty)
      finally in.close()
    }
  }

  /** Persist the mark for the next run: write a temp file, then
    * rename it over the mark, so a valid mark is visible at every
    * instant.
    *  - Local filesystem (file:// or scheme-less paths — tests,
    *    single-node runs): the temp file is written with NIO and
    *    published with `Files.move(ATOMIC_MOVE, REPLACE_EXISTING)`, one
    *    `rename(2)` that replaces the old mark atomically. No `.crc`
    *    sidecar, no `chmod` fork ([[graft.sinks.LocalFiles]]).
    *  - Other schemes: `FileContext.rename(Rename.OVERWRITE)`, one
    *    atomic namespace operation on HDFS-like filesystems that honor
    *    the FileContext contract. (The plain FileSystem API has no
    *    overwriting rename at all, which is why FileContext is used.) */
  def write(path: String, mark: String): Unit = {
    val conf = new Configuration()
    val fs = new Path(path).getFileSystem(conf)
    val p = fs.makeQualified(new Path(path))
    val bytes = mark.getBytes(StandardCharsets.UTF_8)
    // per-writer temp name: with a FIXED .tmp, two drivers finishing
    // concurrently truncate each other's staging file and can publish
    // a torn mark (or fail the rename after a successful run) — the
    // shared-mark contract above is exactly the multi-driver case
    val tmpSuffix = ".tmp." + java.util.UUID.randomUUID()
    LocalFiles.nioPath(fs, p) match {
      case Some(local) =>
        val tmp = local.resolveSibling(local.getFileName.toString + tmpSuffix)
        LocalFiles.write(tmp, bytes)
        LocalFiles.dropChecksum(local)
        Files.move(tmp, local, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      case None =>
        val tmp = new Path(p.toString + tmpSuffix)
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** One incremental run: filter by the stored mark, run `body`, and
    * advance the mark only on success (reference `on_completion`
    * semantics). */
  def incrementalRun[A](path: String, newMark: String)(body: Option[String] => A): A = {
    val since = read(path)
    val result = body(since) // throws => mark not advanced, window re-covered
    write(path, newMark)
    result
  }
}
