package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch,
  TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.{GraftTestHooks, SparkException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.Bridge
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The `graft.Par` contract: forks overlap, see the caller's session and
  * local properties, rethrow their own exceptions, nest without
  * deadlock, and never outlive a failed scope — neither the fork nor
  * any Spark job it started. Plus the `Par.once` build-once memo.
  */
class ParSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sc = spark.sparkContext

  private def inGroup[A](group: String)(body: => A): A = {
    sc.setJobGroup(group, group)
    try body
    finally sc.clearJobGroup()
  }

  // About 10 s per task unless cancelled: a parallelized RDD checks
  // the task's kill flag per row, so a cancelled task ends within one
  // row's sleep.
  private def slowCount(): Long =
    sc.parallelize(1 to 400, 2).map { i => Thread.sleep(50); i }.count()

  private def awaitActive(group: String): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (GraftTestHooks.activeJobs(sc, group, settleMs = 0).isEmpty) {
      assert(System.nanoTime() < deadline, s"no job of $group started")
      Thread.sleep(20)
    }
  }

  private def seconds(since: Long): Double = (System.nanoTime() - since) / 1e9

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  test("a throwing body cancels a running fork's job and awaits the " +
      "fork before rethrowing") {
    val group = "parspec-cancel"
    val forkDone = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      inGroup(group) {
        Par.scope(spark) { s =>
          s.fork(try slowCount() finally forkDone.set(true))
          awaitActive(group)
          throw new IllegalStateException("body failed")
        }
      }
    }
    // read before the active-job poll, whose settle time is not the
    // scope's: a fork whose 10 s job ran on has already taken longer
    val elapsed = seconds(t0)
    assert(e.getMessage == "body failed")
    assert(forkDone.get, "the scope exited before its fork finished")
    assert(GraftTestHooks.activeJobs(sc, group).isEmpty)
    assert(elapsed < 9, "the fork's job ran on instead of being " +
      "cancelled")
  }

  test("cancelling a fork also cancels the jobs of a scope nested in it") {
    val group = "parspec-nested-cancel"
    val innerDone = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    intercept[IllegalStateException] {
      inGroup(group) {
        Par.scope(spark) { outer =>
          outer.fork(Par.scope(spark) { inner =>
            inner.fork(try slowCount() finally innerDone.set(true)).join()
          })
          awaitActive(group)
          throw new IllegalStateException("outer body failed")
        }
      }
    }
    val elapsed = seconds(t0)
    assert(innerDone.get)
    assert(GraftTestHooks.activeJobs(sc, group).isEmpty)
    assert(elapsed < 9)
  }

  test("join rethrows the fork's own exception, not ExecutionException") {
    val mine = intercept[NoSuchElementException] {
      Par.scope(spark) { s =>
        s.fork[Int](throw new NoSuchElementException("mine")).join()
      }
    }
    assert(mine.getMessage == "mine")
    // a failed Spark job keeps its SparkException
    intercept[SparkException] {
      Par.scope(spark) { s =>
        s.fork(sc.parallelize(1 to 4, 2)
          .map(i => require(i < 0, "task failed")).count()).join()
      }
    }
    // an unjoined fork's failure surfaces when the scope exits
    intercept[ArithmeticException] {
      Par.scope(spark) { s =>
        s.fork(BigInt(1) / BigInt(0))
        ()
      }
    }
  }

  test("scopes nest inside forks without deadlock, past any small pool " +
      "bound") {
    // every inner fork waits until all 16 have started, so the scope
    // completes only when 8 outer and 16 inner forks run at once
    val started = new CountDownLatch(16)
    val total = Par.scope(spark) { outer =>
      (1 to 8).map { i =>
        outer.fork(Par.scope(spark) { inner =>
          (1 to 2).map { _ =>
            inner.fork {
              started.countDown()
              assert(started.await(60, TimeUnit.SECONDS), "forks starved")
              i
            }
          }.map(_.join()).sum
        })
      }.map(_.join()).sum
    }
    assert(total == 2 * (1 to 8).sum)
  }

  test("a fork sees the caller's active session and local properties " +
      "as they stand at the fork call") {
    val key = "spark.sql.shuffle.partitions"
    val prop = "graft.parspec.prop"
    val iso = Bridge.isolatedSession(spark)
    iso.conf.set(key, "7")
    val before = SparkSession.getActiveSession
    SparkSession.setActiveSession(iso)
    try {
      sc.setLocalProperty(prop, "first")
      val (a, b) = Par.scope(spark) { s =>
        def probe = s.fork((SparkSession.active,
          SparkSession.active.conf.get(key), sc.getLocalProperty(prop)))
        val a = probe
        sc.setLocalProperty(prop, "second")
        (a.join(), probe.join())
      }
      assert(a._1 eq iso)
      assert(a._2 == "7" && spark.conf.get(key) != "7")
      assert(a._3 == "first")
      assert(b._1 eq iso)
      assert(b._3 == "second")
    } finally {
      sc.setLocalProperty(prop, null)
      before match {
        case Some(s) => SparkSession.setActiveSession(s)
        case None => SparkSession.clearActiveSession()
      }
    }
  }

  test("racing Par.once callers run the build exactly once") {
    val key = ("ParSpec.race", System.nanoTime())
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[String]()
    val callers = (1 to 8).map(_ => thread {
      go.await()
      seen.add(Par.once(key) {
        builds.incrementAndGet()
        Thread.sleep(200)
        "built"
      })
    })
    go.countDown()
    callers.foreach(_.join(60000))
    assert(seen.asScala.toList == List.fill(8)("built"))
    assert(builds.get == 1)
  }

  test("a failed Par.once build is retried by the next caller") {
    val key = ("ParSpec.retry", System.nanoTime())
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Par.once(key) {
        builds.incrementAndGet()
        throw new IllegalStateException("first build failed")
      }
    }
    assert(e.getMessage == "first build failed")
    assert(Par.once(key) { builds.incrementAndGet(); "second" } == "second")
    assert(Par.once(key)("third") == "second")
    assert(builds.get == 2)
  }
}
