package graft.sinks

import java.io.IOException
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** The local-disk write path shared by the object sink and the
  * watermark store. Hadoop's local filesystem pays two costs per file
  * written: without libhadoop, `RawLocalFileSystem.setPermission` forks
  * a `chmod` process for every `create` (a null permission is swapped
  * for the default and still set), and `LocalFileSystem` adds a `.crc`
  * sidecar file with a fork of its own. NIO writes the same bytes with
  * neither. Every other scheme (hdfs, s3a) keeps the Hadoop call.
  *
  * It also publishes the generated fixture directories
  * ([[publishOnce]]). */
private[graft] object LocalFiles {

  /** The NIO path behind `p` when `fs` is the local filesystem (which
    * scheme-less paths resolve to as well), else None. */
  def nioPath(fs: FileSystem, p: Path): Option[NioPath] = fs match {
    case _: LocalFileSystem | _: RawLocalFileSystem => Some(Paths.get(fs.makeQualified(p).toUri))
    case _ => None
  }

  /** Create or truncate `path` with `bytes` (Hadoop's
    * `create(overwrite = true)`), creating missing parent directories.
    * Drops the checksum sidecar an earlier Hadoop write may have left:
    * a stale `.crc` fails every checksummed read of the new bytes. */
  def write(path: NioPath, bytes: Array[Byte]): Unit = {
    val parent = path.getParent
    if (parent != null && !Files.isDirectory(parent)) Files.createDirectories(parent)
    dropChecksum(path)
    Files.write(path, bytes)
  }

  /** Delete `path`'s `ChecksumFileSystem` sidecar (`.<name>.crc`), if any. */
  def dropChecksum(path: NioPath): Unit =
    Files.deleteIfExists(path.resolveSibling(s".${path.getFileName}.crc"))

  /** Publish the directory `dir` once, crash- and race-safely, and
    * return it. `fill` writes the contents into a fresh staging sibling
    * (a hidden `.<name>.stage.*` directory), a `_SUCCESS` marker
    * follows, and the complete directory is moved into place with one
    * atomic rename. A reader sees no directory or a complete one, never
    * a file mid-write. Of writers that race (threads or JVMs), one
    * rename wins and each loser deletes its own staging copy; a staging
    * directory a crashed run left behind is never read. A directory
    * that already holds its marker is returned untouched. A directory
    * without the marker is never replaced: the rename fails, and so
    * does the call. */
  def publishOnce(dir: NioPath)(fill: NioPath => Unit): NioPath = {
    val marker = dir.resolve("_SUCCESS")
    if (!Files.exists(marker)) {
      val parent = dir.toAbsolutePath.getParent
      Files.createDirectories(parent)
      // a plain directory, not createTempDirectory: the published copy
      // keeps the umask's permissions rather than owner-only ones
      val stage = Files.createDirectory(
        parent.resolve(s".${dir.getFileName}.stage.${java.util.UUID.randomUUID()}"))
      try {
        fill(stage)
        Files.createFile(stage.resolve("_SUCCESS"))
        try Files.move(stage, dir, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: IOException if Files.exists(marker) => () } // another writer won
      } finally deleteTree(stage) // nothing left to delete after a won rename
    }
    dir
  }

  private def deleteTree(root: NioPath): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[NioPath]()).forEach(p => Files.delete(p))
    finally paths.close()
  }
}
