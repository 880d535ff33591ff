package graft.util

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Dirs]]' scratch root and fixture memo: one build per key under
  * contention, separate builds per source dir and name, nested builds,
  * and the cleanup the shutdown hook runs. */
class DirsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  test("8 threads deriving one key run the build once and share its value") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            Dirs.derived(spark, "dirsspec-src", "contended") {
              builds.incrementAndGet()
              Thread.sleep(200) // keep the build open while others arrive
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get() == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("another source dir or another name builds again") {
    val builds = new AtomicInteger()
    def get(dir: String, name: String): Int =
      Dirs.derived(spark, dir, name)(builds.incrementAndGet())
    val a = get("dirsspec-a", "fixture")
    assert(get("dirsspec-a", "fixture") == a)
    val b = get("dirsspec-b", "fixture")
    val c = get("dirsspec-a", "other")
    assert(Set(a, b, c).size == 3)
    assert(builds.get() == 3)
  }

  test("a derived call nested inside a build completes") {
    val outer = Dirs.derived(spark, "dirsspec-nest", "outer") {
      val inner = Dirs.derived(spark, "dirsspec-nest", "inner")("in")
      s"$inner+out"
    }
    assert(outer == "in+out")
    assert(Dirs.derived(spark, "dirsspec-nest", "inner")("again") == "in")
  }

  test("scratch dirs are fresh, empty and under one root") {
    val a = Dirs.scratch("dirsspec-")
    val b = Dirs.scratch("dirsspec-")
    assert(a != b)
    assert(a.getParent == Dirs.root && b.getParent == Dirs.root)
    assert(Dirs.listDir(a)(_.isEmpty))
  }

  test("the hook's cleanup removes a root that holds nested files") {
    val root = Dirs.scratch("dirsspec-root-")
    val deep: Path = Files.createDirectories(root.resolve("a/b/c"))
    Files.writeString(deep.resolve("f.txt"), "x")
    Files.writeString(root.resolve("top.txt"), "y")
    Files.createDirectories(root.resolve("empty"))
    Dirs.deleteQuietly(root)
    assert(!Files.exists(root))
    Dirs.deleteQuietly(root) // absent: a no-op, not an error
  }
}
