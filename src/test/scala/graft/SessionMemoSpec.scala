package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CheckpointHygiene

/** [[SessionMemo]]'s contract — one build per (session, dir) under
  * concurrent first arrivals, stopped sessions pruned, one dir retained
  * per session with each evicted value released once — and the retention
  * it gives SparkEntry's memos across dir switches. */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  /** A memo that records every value handed to its release. */
  private def recording() = {
    val released = new ConcurrentLinkedQueue[String]
    (SessionMemo[String](v => released.add(v)), released)
  }

  test("concurrent first arrivals build once") {
    val (memo, _) = recording()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Future.sequence((1 to 4).map(_ => Future {
        start.await()
        memo(spark, "d") { builds.incrementAndGet(); Thread.sleep(200); "v" }
      }))
      start.countDown()
      assert(Await.result(got, 30.seconds) == Seq.fill(4)("v"))
      assert(builds.get == 1)
    } finally { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("a dir switch releases the old value exactly once") {
    val (memo, released) = recording()
    var builds = 0
    def get(dir: String) = memo(spark, dir) { builds += 1; s"v-$dir" }
    assert(get("a") == "v-a" && get("a") == "v-a")
    assert(released.isEmpty)
    assert(get("b") == "v-b" && get("b") == "v-b")
    assert(released.asScala.toSeq == Seq("v-a"))
    assert(get("a") == "v-a")
    assert(released.asScala.toSeq == Seq("v-a", "v-b"))
    assert(builds == 3)
  }

  test("a stopped session's key is pruned, not released") {
    val (memo, released) = recording()
    val stopped = stoppedSession()
    var builds = 0
    def get() = memo(stopped, "a") { builds += 1; "v" }
    get(); get()
    assert(builds == 2, "a stopped session's entry must not be served")
    assert(released.isEmpty)
  }

  test("a release that throws does not fail the caller") {
    var builds = 0
    val memo = SessionMemo[String](_ => throw new IllegalStateException("x"))
    def get(dir: String) = memo(spark, dir) { builds += 1; s"v-$dir" }
    assert(get("a") == "v-a")
    assert(get("b") == "v-b")
    assert(get("a") == "v-a")
    assert(builds == 3, "the evicted entry is dropped even when release throws")
  }

  test("SparkEntry: a second q92 in a session starts no job") {
    SparkEntry.q92IvfKmeans(spark, sf001)
    val (_, p) = Profile.during(spark)(SparkEntry.q92IvfKmeans(spark, sf001))
    assert(p.jobs == 0, s"warm q92 build started ${p.jobs} jobs")
  }

  test("SparkEntry: q49 and q92 across sf0.001 → sf0.01 → sf0.001 keep " +
      "one dir's checkpoints") {
    // a fresh session shares the context but no memo entry, so every
    // step below builds or hits exactly as listed
    val s = spark.newSession()
    // the checkpoints each query reads: the q49 pairs and q92 index memos
    def step(dir: String): Set[Int] =
      Seq(SparkEntry.q49MinhashOracle(s, dir), SparkEntry.q92IvfKmeans(s, dir))
        .flatMap(CheckpointHygiene.handlesOf).map(_.id).toSet
    val first = step(sf001)
    val second = step(sf01)
    val third = step(sf001)
    val live = (first ++ second ++ third) intersect
      s.sparkContext.getPersistentRDDs.keySet.toSet
    assert(third.nonEmpty && live == third, s"persisted after the switch " +
      s"back: $live (sf0.001: $first, sf0.01: $second, sf0.001: $third)")
  }

  /** A session whose context reads as stopped, without stopping the
    * shared test context: both objects are allocated without running a
    * constructor, and only the fields the memo reads are set. */
  private def stoppedSession(): SparkSession = {
    val unsafe = {
      val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      f.setAccessible(true)
      f.get(null).asInstanceOf[sun.misc.Unsafe]
    }
    def set(cls: Class[_], obj: AnyRef, field: String, v: AnyRef): Unit = {
      val f = cls.getDeclaredField(field)
      f.setAccessible(true)
      f.set(obj, v)
    }
    val sc = unsafe.allocateInstance(classOf[SparkContext])
    set(classOf[SparkContext], sc, "stopped", new AtomicBoolean(true))
    val cls = classOf[org.apache.spark.sql.classic.SparkSession]
    val s = unsafe.allocateInstance(cls)
    set(cls, s, "sparkContext", sc)
    s.asInstanceOf[SparkSession]
  }
}
