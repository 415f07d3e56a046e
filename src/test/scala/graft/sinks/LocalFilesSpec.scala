package graft.sinks

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFiles.publishOnce]]: a fixture directory appears whole or not
  * at all, once, whoever races to write it. */
class LocalFilesSpec extends AnyFunSuite {

  /** Fixed contents, big enough that a torn write would show. */
  private val files: Map[String, Array[Byte]] = (0 until 4).map { i =>
    f"part_$i%02d.bin" -> Array.tabulate(64 * 1024)(j => ((j * 31 + i * 7) & 0xFF).toByte)
  }.toMap

  private def fill(stage: Path): Unit =
    files.foreach { case (name, bytes) => Files.write(stage.resolve(name), bytes) }

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def assertComplete(dir: Path): Unit = {
    assert(names(dir) == files.keySet + "_SUCCESS")
    files.foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(dir.resolve(name)), bytes), name)
    }
  }

  private def withBase(body: Path => Unit): Unit = {
    val base = Files.createTempDirectory("publish-once")
    try body(base)
    finally {
      val s = Files.walk(base)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  test("racing threads publish one complete directory and leave no staging copy") {
    withBase { base =>
      val dir = base.resolve("corpus")
      val n = 8
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      try {
        val results = (0 until n).map { _ =>
          pool.submit(new Callable[Path] {
            def call(): Path = { start.await(); LocalFiles.publishOnce(dir)(fill) }
          })
        }
        start.countDown()
        assert(results.map(_.get(60, TimeUnit.SECONDS)).toSet == Set(dir))
      } finally pool.shutdownNow()
      assertComplete(dir)
      assert(names(base) == Set("corpus"))
    }
  }

  test("a staging directory left by a crashed run is ignored") {
    withBase { base =>
      val crashed = Files.createDirectory(base.resolve(".corpus.stage.crashed"))
      Files.write(crashed.resolve("part_00.bin"), Array[Byte](1, 2, 3))
      val dir = LocalFiles.publishOnce(base.resolve("corpus"))(fill)
      assertComplete(dir)
      assert(names(base) == Set("corpus", ".corpus.stage.crashed"))
    }
  }

  test("a published directory is not rewritten by a second call") {
    withBase { base =>
      val dir = LocalFiles.publishOnce(base.resolve("corpus"))(fill)
      val old = FileTime.fromMillis(1000000000000L)
      names(dir).foreach(n => Files.setLastModifiedTime(dir.resolve(n), old))
      val fills = new AtomicInteger()
      LocalFiles.publishOnce(dir) { stage => fills.incrementAndGet(); fill(stage) }
      assert(fills.get == 0)
      names(dir).foreach(n => assert(Files.getLastModifiedTime(dir.resolve(n)) == old, n))
      assertComplete(dir)
    }
  }

  test("a directory without the marker is never replaced") {
    withBase { base =>
      val dir = Files.createDirectory(base.resolve("corpus"))
      Files.write(dir.resolve("old.bin"), Array[Byte](9))
      intercept[java.io.IOException](LocalFiles.publishOnce(dir)(fill))
      assert(names(dir) == Set("old.bin"))
      assert(names(base) == Set("corpus"))
    }
  }
}
