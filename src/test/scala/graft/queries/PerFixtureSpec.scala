package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class PerFixtureSpec extends AnyFunSuite {

  test("threads racing one (kind, dir) build it once and share the value") {
    val builds = new AtomicInteger()
    def get(): AnyRef = PerFixture("spec_race", "/fx/race") { _ =>
      builds.incrementAndGet()
      Thread.sleep(50) // hold the build open while the others arrive
      new Object
    }
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val got = (1 to n).map(_ => pool.submit(() => { start.await(); get() }))
      start.countDown()
      val values = got.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a builder may ask for another artifact (the clone-from-chain shape)") {
    def chain(dir: String): String = PerFixture("spec_chain", dir)(p => p)
    def cloned(dir: String): String =
      PerFixture("spec_clone", dir)(p => s"${chain(dir)} -> $p")
    val dir = "/fx/nested"
    assert(cloned(dir) ==
      s"${PerFixture.path("spec_chain", dir)} -> ${PerFixture.path("spec_clone", dir)}")
    assert(cloned(dir) eq cloned(dir))
  }

  test("a build that throws is not memoized: the next call builds again, from a clear path") {
    val attempts = new AtomicInteger()
    def get(): String = PerFixture("spec_flaky", "/fx/flaky") { path =>
      assert(!Files.exists(Paths.get(path)))
      Files.createDirectories(Paths.get(path, "partial"))
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    intercept[IllegalStateException](get())
    assert(get() == "built")
    assert(get() == "built")
    assert(attempts.get == 2)
  }

  test("a kind already built by one builder is refused to another") {
    assert(PerFixture("spec_owned", "/fx/a")(_ => 1) == 1)
    val e = intercept[IllegalArgumentException](
      PerFixture("spec_owned", "/fx/b")(_ => 2))
    assert(e.getMessage.contains("spec_owned"))
  }

  test("dirs with equal String.hashCode get distinct paths and hashes") {
    val (aa, bb) = ("/fx/Aa", "/fx/BB")
    assert(aa.hashCode == bb.hashCode) // the premise: a 32-bit collision
    assert(PerFixture.path("k", aa) != PerFixture.path("k", bb))
    assert(PerFixture.hash(aa) != PerFixture.hash(bb))
    assert(PerFixture.hash(aa).matches("[0-9a-f]+"))
    assert(PerFixture.path("k", aa).endsWith(s"/k_${PerFixture.dirKey(aa)}"))
  }
}
