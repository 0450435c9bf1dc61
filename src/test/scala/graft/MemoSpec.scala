package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** [[Memo]]'s contract: one build per key, concurrent builds of different
  * keys, nested builds, no memory of a failed build, and `clear()`.
  * No SparkSession.
  */
class MemoSpec extends AnyFunSuite {

  /** Runs `body(i)` for i in 0 until n, one thread each; fails after 30 s. */
  private def onThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(List.range(0, n))(i => Future(body(i))), 30.seconds)
    finally pool.shutdownNow(): Unit
  }

  test("eight threads calling one key run its build once") {
    val memo = new Memo[Int]
    val builds = new AtomicInteger
    val barrier = new CyclicBarrier(8)
    val got = onThreads(8) { _ =>
      barrier.await(10, TimeUnit.SECONDS)
      memo("k") { builds.incrementAndGet(); Thread.sleep(100); 42 }
    }
    assert(got == Seq.fill(8)(42))
    assert(builds.get == 1)
  }

  test("a build that waits on another key's build does not block it") {
    val memo = new Memo[String]
    val aStarted, bBuilt = new CountDownLatch(1)
    val got = onThreads(2) {
      case 0 => memo("a") {
        aStarted.countDown()
        assert(bBuilt.await(10, TimeUnit.SECONDS), "b's build never ran")
        "a"
      }
      case _ =>
        assert(aStarted.await(10, TimeUnit.SECONDS))
        memo("b") { bBuilt.countDown(); "b" }
    }
    assert(got == Seq("a", "b"))
  }

  test("a build that calls another key's build returns") {
    val memo = new Memo[Int]
    val got = onThreads(1)(_ => memo("outer")(memo("inner")(1) + 1))
    assert(got == Seq(2))
    assert(memo("inner")(fail("inner built twice")) == 1)
  }

  test("a build that throws surfaces the exception and leaves nothing behind") {
    val memo = new Memo[Int]
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      memo("k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(memo("k") { builds.incrementAndGet(); 7 } == 7)
    assert(memo("k")(fail("built a third time")) == 7)
    assert(builds.get == 2)
  }

  test("clear() forces a rebuild") {
    val memo = new Memo[Int]
    val builds = new AtomicInteger
    assert(memo("k")(builds.incrementAndGet()) == 1)
    assert(memo("k")(builds.incrementAndGet()) == 1)
    memo.clear()
    assert(memo("k")(builds.incrementAndGet()) == 2)
  }
}
