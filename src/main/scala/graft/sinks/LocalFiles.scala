package graft.sinks

import java.nio.file.{Files, Paths, Path => NioPath}

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** The local-disk write path shared by the object sink and the
  * watermark store. Hadoop's local filesystem pays two costs per file
  * written: without libhadoop, `RawLocalFileSystem.setPermission` forks
  * a `chmod` process for every `create` (a null permission is swapped
  * for the default and still set), and `LocalFileSystem` adds a `.crc`
  * sidecar file with a fork of its own. NIO writes the same bytes with
  * neither. Every other scheme (hdfs, s3a) keeps the Hadoop call. */
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
}
