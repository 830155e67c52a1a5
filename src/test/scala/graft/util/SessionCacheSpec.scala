package graft.util

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[SessionCache]]'s build contract on a private instance with
  * injected scope strings, so no SparkContext is needed or stopped. */
class SessionCacheSpec extends AnyFunSuite {

  test("8 concurrent callers of one key run its build once and share the value") {
    val cache = new SessionCache
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            cache.getOrBuild("app-1", ("k", 1)) {
              builds.incrementAndGet()
              Thread.sleep(200) // keep the build open while the others arrive
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a build that reads another key returns") {
    val cache = new SessionCache
    val outer = cache.getOrBuild("app-1", ("outer", 1)) {
      cache.getOrBuild("app-1", ("inner", 1))(41) + 1
    }
    assert(outer == 42)
    assert(cache.getOrBuild[Int]("app-1", ("inner", 1))(sys.error("cached")) == 41)
  }

  test("a build that throws is not cached and runs again on the next call") {
    val cache = new SessionCache
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      cache.getOrBuild[String]("app-1", ("flaky", 1)) {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    val v = cache.getOrBuild("app-1", ("flaky", 1)) { builds.incrementAndGet(); "ok" }
    assert(v == "ok")
    assert(builds.get == 2)
  }

  test("keys compare by content, not by identity") {
    val cache = new SessionCache
    val dir = new String("/data/sf1")
    cache.getOrBuild("app-1", ("ivf", "append", dir))("built")
    assert(cache.getOrBuild[String]("app-1", ("ivf", "append", "/data/sf1"))(sys.error("miss")) == "built")
    assert(cache.getOrBuild("app-1", ("ivf", "stream", "/data/sf1"))("other") == "other")
  }

  test("an access from a new scope drops the entries of the old one") {
    val cache = new SessionCache
    val builds = new AtomicInteger()
    def get(scope: String) = cache.getOrBuild(scope, ("k", 1))(builds.incrementAndGet())
    assert(get("app-1") == 1)
    assert(get("app-1") == 1)
    assert(get("app-2") == 2)
    assert(get("app-1") == 3, "app-1's entry must be gone after app-2's access")
  }

  test("clear() empties the cache") {
    val cache = new SessionCache
    val builds = new AtomicInteger()
    def get(key: Any) = cache.getOrBuild("app-1", key)(builds.incrementAndGet())
    get(("a", 1)); get(("b", 1))
    cache.clear()
    assert(get(("a", 1)) == 3)
    assert(get(("b", 1)) == 4)
  }
}
