package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.operators.Staging
import org.scalatest.funsuite.AnyFunSuite

/** `Staging.stage`, the one stager behind every content-keyed fixture
  * under java.io.tmpdir: one writer per key, a new dir when a source
  * file changes, and a stale-dir sweep that keeps every variant of the
  * current key. Sources are small files under a private temp dir; no
  * Spark is needed, the writer only drops a marker file.
  */
class StagingSpec extends AnyFunSuite {

  private val tmpRoot = Paths.get(sys.props("java.io.tmpdir"))

  private def stagedDirs(prefix: String): Seq[Path] = {
    val s = Files.list(tmpRoot)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix))
      .toVector.sortBy(_.toString)
    finally s.close()
  }

  /** A fresh prefix and source dir per test; both cleaned up after. */
  private def withFixture(body: (String, Path) => Unit): Unit = {
    val prefix = s"graft_stagingspec_${java.util.UUID.randomUUID().toString.take(8)}_"
    val src = Files.createTempDirectory("graft_stagingspec_src_")
    try body(prefix, src)
    finally (stagedDirs(prefix) :+ src).foreach(Staging.deleteTree)
  }

  private def marker(calls: AtomicInteger): Path => Unit = { p =>
    calls.incrementAndGet()
    Files.createDirectories(p)
    Files.write(p.resolve("part-0"), Array[Byte](1))
  }

  test("concurrent stage calls for one key run the writer once and publish one dir") {
    withFixture { (prefix, src) =>
      Files.write(src.resolve("t.parquet"), Array[Byte](1, 2, 3))
      val calls = new AtomicInteger()
      val go = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      try {
        val results = (1 to 4).map { _ =>
          pool.submit(new Callable[Path] {
            def call(): Path = {
              go.await()
              Staging.stage(prefix, src.toString, Seq("t.parquet"), "") { p =>
                Thread.sleep(200) // hold the writer so the others arrive
                marker(calls)(p)
              }
            }
          })
        }
        go.countDown()
        val published = results.map(_.get(60, TimeUnit.SECONDS)).distinct
        assert(published.size == 1, s"callers saw different dirs: $published")
        assert(calls.get == 1, s"writer ran ${calls.get} times")
        assert(stagedDirs(prefix) == published, "expected exactly one dir, no _tmp_ left")
        assert(Files.isRegularFile(published.head.resolve("part-0")))
      } finally pool.shutdownNow()
    }
  }

  test("a changed source file yields a new staged dir (single file and parquet dir)") {
    withFixture { (prefix, src) =>
      val calls = new AtomicInteger()
      def stage(source: String) =
        Staging.stage(prefix, src.toString, Seq(source), "")(marker(calls))

      // Single-file source: a size change re-keys.
      val file = src.resolve("one.parquet")
      Files.write(file, Array[Byte](1, 2, 3))
      val f1 = stage("one.parquet")
      assert(stage("one.parquet") == f1 && calls.get == 1, "unchanged source must reuse")
      Files.write(file, Array[Byte](1, 2, 3, 4))
      val f2 = stage("one.parquet")
      assert(f2 != f1 && calls.get == 2)

      // Parquet-directory source: an mtime-only change to one part re-keys.
      val dir = Files.createDirectories(src.resolve("many.parquet"))
      Files.write(dir.resolve("part-0.parquet"), Array[Byte](1))
      Files.write(dir.resolve("part-1.parquet"), Array[Byte](2))
      val d1 = stage("many.parquet")
      assert(stage("many.parquet") == d1 && calls.get == 3)
      Files.setLastModifiedTime(dir.resolve("part-1.parquet"),
        FileTime.fromMillis(Files.getLastModifiedTime(dir.resolve("part-1.parquet"))
          .toMillis - 60000L))
      val d2 = stage("many.parquet")
      assert(d2 != d1 && calls.get == 4)
      assert(Set(f1, f2, d1, d2).forall(Files.isDirectory(_)))
    }
  }

  test("staging variant B keeps variant A of the same key and sweeps a stale key") {
    withFixture { (prefix, src) =>
      Files.write(src.resolve("t.parquet"), Array[Byte](1))
      val calls = new AtomicInteger()
      val a = Staging.stage(prefix, src.toString, Seq("t.parquet"), "_a")(marker(calls))
      // A stale key of the same prefix, and variant A, both past the
      // sweep's age gate: only the stale key may go.
      val stale = Files.createDirectories(tmpRoot.resolve(s"${prefix}0123456789abcdef"))
      val old = FileTime.fromMillis(System.currentTimeMillis() - 3L * 3600 * 1000)
      Seq(a, stale).foreach(p => Files.setLastModifiedTime(p, old))
      val b = Staging.stage(prefix, src.toString, Seq("t.parquet"), "_b")(marker(calls))
      assert(b != a && calls.get == 2)
      assert(Files.isDirectory(a), "variant B's staging swept variant A")
      assert(!Files.exists(stale), "the stale key was not swept")
    }
  }
}
