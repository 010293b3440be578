package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The get-or-build contract every in-process memo of the query modules
  * relies on (staged trees, fixture schemas, per-dataset maxima,
  * BoundedMemo). */
class MemoSpec extends AnyFunSuite with Matchers {
  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("a build that throws publishes nothing: the next call rebuilds") {
    val memo = new Memo[String, String]
    val builds = new AtomicInteger
    an[IllegalStateException] should be thrownBy
      memo("k") { builds.incrementAndGet(); throw new IllegalStateException("half-written") }
    memo.size shouldBe 0
    memo("k") { builds.incrementAndGet(); "v" } shouldBe "v"
    memo("k") { builds.incrementAndGet(); "w" } shouldBe "v"
    builds.get shouldBe 2
  }

  test("two threads asking for one key run ONE build and both get its value") {
    val memo = new Memo[String, String]
    val builds = new AtomicInteger
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val first = Future(memo("k") {
      builds.incrementAndGet(); inBuild.countDown()
      release.await(10, TimeUnit.SECONDS); "first"
    })
    inBuild.await(10, TimeUnit.SECONDS) shouldBe true
    // the second caller arrives while the build is running and must wait
    // for it, not run its own and not read an unpublished value
    val second = Future(memo("k") { builds.incrementAndGet(); "second" })
    Thread.sleep(100)
    second.isCompleted shouldBe false
    release.countDown()
    Await.result(first, 10.seconds) shouldBe "first"
    Await.result(second, 10.seconds) shouldBe "first"
    builds.get shouldBe 1
  }

  test("a build that asks the memo for ANOTHER key completes (200 fresh memos)") {
    // these key pairs share a hash bin of a fresh ConcurrentHashMap often
    // enough (23 of these 200 on JDK 17) that a design nesting
    // computeIfAbsent on one map throws "Recursive update" here
    (0 until 200).foreach { i =>
      val memo = new Memo[String, String]
      memo(s"outer$i")(memo(s"inner$i")("v") + "!") shouldBe "v!"
      memo(s"inner$i")("x") shouldBe "v"
      memo.size shouldBe 2
    }
  }

  test("a hit on key B returns while a slow build of key A holds A's lock") {
    val memo = new Memo[String, String]
    memo("b")("vb")
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = Future(memo("a") {
      inBuild.countDown(); release.await(10, TimeUnit.SECONDS); "va"
    })
    inBuild.await(10, TimeUnit.SECONDS) shouldBe true
    try Await.result(Future(memo("b")("rebuilt")), 2.seconds) shouldBe "vb"
    finally release.countDown()
    Await.result(slow, 10.seconds) shouldBe "va"
  }

  test("removeIf drops matching keys; they rebuild on the next call") {
    val memo = new Memo[String, Int]
    memo("app1|x")(1); memo("app2|x")(2)
    memo.removeIf(!_.startsWith("app2|"))
    memo.size shouldBe 1
    memo("app1|x")(3) shouldBe 3
    memo("app2|x")(4) shouldBe 2
  }

  test("staging paths keep the per-scale-factor layout") {
    Memo.stagingDir("llm", "/data/fixtures/sf0.01", "ivf_index") shouldBe
      "/tmp/graft_llm/_data_fixtures_sf0.01/ivf_index"
    Memo.stagingDir("sources", "/data/SF_1", "region") shouldBe
      "/tmp/graft_sources/_data____1/region"
  }
}
