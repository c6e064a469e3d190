package graft.queries

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** [[Staging.once]], the once-per-JVM build behind every landed store
  * and staged baseline of the query packs. No Spark session. */
class StagingSpec extends AnyFunSuite {

  /** A source dir no other test keys on. */
  private def freshDir() = s"/staging-spec/${java.util.UUID.randomUUID()}"

  test("once: concurrent callers of one key run build once and see it finished") {
    val dir = freshDir()
    val builds = new AtomicInteger(0)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var finished = false
    def call() = Future {
      val p = Staging.once("spec_concurrent", dir) { _ =>
        builds.incrementAndGet()
        started.countDown()
        release.await(30, TimeUnit.SECONDS)
        finished = true
      }
      (p, finished)
    }
    val first = call()
    assert(started.await(30, TimeUnit.SECONDS))
    val second = call()
    Thread.sleep(200)
    assert(!first.isCompleted && !second.isCompleted,
      "no caller gets the path while build runs")
    release.countDown()
    val results = Seq(first, second).map(Await.result(_, 30.seconds))
    assert(builds.get == 1)
    assert(results.forall { case (p, done) =>
      done && p == Staging.path("spec_concurrent", dir) })
    assert(Staging.once("spec_concurrent", dir)(_ => builds.incrementAndGet()) ==
      results.head._1)
    assert(builds.get == 1, "a later call reuses the built path")
  }

  test("once: a throwing build publishes nothing; the next call builds again") {
    val dir = freshDir()
    val builds = new AtomicInteger(0)
    val err = intercept[IllegalStateException] {
      Staging.once("spec_throw", dir) { p =>
        builds.incrementAndGet()
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p, "partial"))
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage == "build failed")
    var leftover = true
    val p = Staging.once("spec_throw", dir) { p =>
      builds.incrementAndGet()
      leftover = new java.io.File(p).exists()
    }
    assert(builds.get == 2)
    assert(!leftover, "the retry starts from an empty directory")
    assert(p == Staging.path("spec_throw", dir))
  }

  test("once: a build may call once for other kinds") {
    // enough inner keys to grow the map while the outer build runs: a
    // build run inside the map's own compute fails that growth with
    // IllegalStateException("Recursive update")
    val dir = freshDir()
    val kinds = (1 to 32).map(i => s"spec_inner$i")
    var seen = Seq.empty[String]
    val outer = Future {
      Staging.once("spec_outer", dir) { _ =>
        seen = kinds.map(k => Staging.once(k, dir)(_ => ()))
      }
    }
    assert(Await.result(outer, 30.seconds) == Staging.path("spec_outer", dir))
    assert(seen == kinds.map(Staging.path(_, dir)))
  }

  test("path: graft_staging_ prefix and the owning pid as suffix, as the sweep parses") {
    val dir = freshDir()
    val p = Staging.once("spec_name", dir)(_ => ())
    val name = new java.io.File(p).getName
    val pid = ProcessHandle.current().pid()
    assert(new java.io.File(p).getParent == new java.io.File(System.getProperty("java.io.tmpdir")).getPath)
    assert(name == s"graft_staging_spec_name_${Staging.md5Hex(dir)}_$pid")
    // the sweep's own pattern reads the owner back from the name
    val pidSuffix = ".*_([0-9]+)$".r
    assert(name match { case pidSuffix(owner) => owner.toLong == pid; case _ => false })
    assert(Staging.path("spec_name", dir + "/other") != p, "two source dirs never collide")
  }
}
