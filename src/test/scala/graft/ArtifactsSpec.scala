package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The process build-once latch every staged artifact, catalog fixture
  * and bucketed table goes through. */
class ArtifactsSpec extends AnyFunSuite {

  private def run(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start(); t
  }

  test("once: different keys build concurrently, one key builds once, a failed build is retried") {
    val nonce = System.nanoTime()
    // two keys: each build waits until BOTH are inside — impossible if
    // one key's latch blocked the other
    val bothRunning = new CountDownLatch(2)
    val overlapped = new AtomicInteger(0)
    Seq("a", "b").map(k => run(Artifacts.once(s"oncetest-$nonce-$k") {
      bothRunning.countDown()
      if (bothRunning.await(20, TimeUnit.SECONDS)) overlapped.incrementAndGet()
    })).foreach(_.join(30000))
    assert(overlapped.get() == 2, "the second key's build never started while the first held its latch")

    // racers for one key: exactly one build
    val start = new CountDownLatch(1)
    val builds = new AtomicInteger(0)
    val racers = (1 to 4).map(_ => run {
      start.await()
      Artifacts.once(s"oncetest-$nonce-c") { builds.incrementAndGet(); Thread.sleep(50) }
    })
    start.countDown()
    racers.foreach(_.join(30000))
    assert(builds.get() == 1, s"one key built ${builds.get()} times")

    // a throwing build leaves the key unbuilt; the next caller builds it
    val attempts = new AtomicInteger(0)
    def flaky(): Unit = Artifacts.once(s"oncetest-$nonce-d") {
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
    }
    assertThrows[IllegalStateException](flaky())
    flaky()
    flaky()
    assert(attempts.get() == 2, s"expected one failed and one good build, saw ${attempts.get()}")
  }
}
