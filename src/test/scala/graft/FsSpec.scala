package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Fs.materialized]], the one cross-JVM result store: its path
  * formula, its hit path, a two-builder race and a failing build. */
class FsSpec extends AnyFunSuite {

  private val name = "fsspec_store"
  private val files = Seq("a.parquet", "b.parquet")

  /** Runs `body(dir, store)` on a fresh input dir with two planted
    * files, so every test keys its own store, then deletes both. */
  private def withStore(params: Seq[Any])(body: (String, String) => Unit): Unit = {
    val dir = Fs.scratch("graft_fsspec_in_" + java.util.UUID.randomUUID.toString.take(8))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "a.parquet"), "alpha")
    Files.writeString(Paths.get(dir, "b.parquet"), "beta-beta")
    val store = s"/tmp/graft_${name}_v3_" + Fs.inputFingerprint(dir, files, params)
    try body(dir, store)
    finally { Fs.deleteRecursively(store); Fs.deleteRecursively(dir) }
  }

  /** The temp dirs that builds of `store` left in /tmp. */
  private def tmpsOf(store: String): Seq[String] =
    Option(new java.io.File("/tmp").list()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.startsWith(Paths.get(store).getFileName.toString + ".tmp_"))

  private def writeMark(tmp: String, mark: String): Unit = {
    Files.createDirectories(Paths.get(tmp))
    Files.writeString(Paths.get(tmp, "mark"), mark)
  }

  test("the store path is the fingerprint formula, and a second call does not build") {
    withStore(Seq(7, "x")) { (dir, store) =>
      val builds = new AtomicInteger()
      def call() = Fs.materialized(name, 3, dir, files, Seq(7, "x")) { tmp =>
        builds.incrementAndGet(); writeMark(tmp, "one")
      }
      assert(call() == store)
      assert(call() == store)
      assert(builds.get == 1, "a store hit must not run the build")
      assert(Files.readString(Paths.get(store, "mark")) == "one")
      assert(tmpsOf(store).isEmpty)
    }
  }

  test("two builders racing one key leave one store with one builder's contents and no temp") {
    withStore(Seq("race")) { (dir, store) =>
      val bothBuilding = new CountDownLatch(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val racers = Seq("first", "second").map { who =>
          Future(Fs.materialized(name, 3, dir, files, Seq("race")) { tmp =>
            writeMark(tmp, who)
            // hold each build until both have started, so both renames race
            bothBuilding.countDown()
            assert(bothBuilding.await(60, TimeUnit.SECONDS), "the other builder never started")
          })
        }
        assert(racers.map(Await.result(_, 120.seconds)) == Seq(store, store))
        assert(Set("first", "second").contains(Files.readString(Paths.get(store, "mark"))))
        assert(Files.list(Paths.get(store)).iterator().asScala.map(_.getFileName.toString)
          .toSeq == Seq("mark"), "the store must hold exactly one builder's output")
        assert(tmpsOf(store).isEmpty, "the losing builder's temp must be deleted")
      } finally pool.shutdown()
    }
  }

  test("a build that throws leaves no temp and no store, and the next call builds") {
    withStore(Seq("boom")) { (dir, store) =>
      val e = intercept[IllegalStateException] {
        Fs.materialized(name, 3, dir, files, Seq("boom")) { tmp =>
          writeMark(tmp, "partial"); throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage == "build failed")
      assert(!Files.exists(Paths.get(store)))
      assert(tmpsOf(store).isEmpty, "a failed build must delete its temp")
      var built = false
      assert(Fs.materialized(name, 3, dir, files, Seq("boom")) { tmp =>
        built = true; writeMark(tmp, "whole")
      } == store)
      assert(built && Files.readString(Paths.get(store, "mark")) == "whole")
    }
  }

  test("a build reaps its name's stale stores of every version, and no other name's") {
    withStore(Seq("gc")) { (dir, store) =>
      val old = Seq(s"/tmp/graft_${name}_v2_0ld5t0re", s"/tmp/graft_${name}_compact_v3_0ld5t0re")
      val longAgo = System.currentTimeMillis() - 13L * 3600 * 1000
      try {
        old.foreach { d => writeMark(d, "old"); new java.io.File(d).setLastModified(longAgo) }
        Fs.materialized(name, 3, dir, files, Seq("gc"))(writeMark(_, "new"))
        assert(!Files.exists(Paths.get(old(0))), "an older version's stale store must be reaped")
        assert(Files.exists(Paths.get(old(1))), "a longer name sharing the prefix is not this store's")
      } finally old.foreach(Fs.deleteRecursively)
    }
  }

  test("no main source but graft/Fs.scala calls inputFingerprint") {
    val needle = "inputFingerprint" + "("
    val callers = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).toSeq
    assert(callers == Seq(Paths.get("src/main/scala/graft/Fs.scala").toString))
  }
}
