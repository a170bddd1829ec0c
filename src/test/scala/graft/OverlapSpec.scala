package graft

import graft.engine.Overlap

/** Contracts of the driver-side action-overlap helper (optimization guide
  * §2.6): results come back positionally, Spark actions are safe from the
  * pool threads, and a failing arm propagates instead of hanging. */
class OverlapSpec extends SparkSpec {
  import sqlContext.implicits._

  test("par/par3/par4 return each arm's result positionally") {
    assert(Overlap.par(1 + 1, "b") == (2, "b"))
    assert(Overlap.par3("a", 2L, 3.0) == ("a", 2L, 3.0))
    assert(Overlap.par4(1, 2, 3, 4) == (1, 2, 3, 4))
  }

  test("Spark actions run correctly from overlap arms") {
    val df = (1L to 100L).toDF("x")
    val (a, b, c) = Overlap.par3(
      df.filter($"x" % 2 === 0).count(),
      df.filter($"x" % 2 === 1).count(),
      df.agg(org.apache.spark.sql.functions.sum($"x")).head().getLong(0))
    assert(a == 50L && b == 50L && c == 5050L)
  }

  test("a localCheckpoint taken on a pool thread serves the caller thread") {
    val (cp, n) = Overlap.par(
      (1L to 10L).toDF("x").localCheckpoint(),
      42)
    assert(n == 42)
    assert(cp.count() == 10L)
  }

  test("all: N arms return positionally; empty input returns empty") {
    assert(Overlap.all(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
    assert(Overlap.all(Seq.empty[() => Int]) == Nil)
    val counts = Overlap.all((1 to 5).map(n => () =>
      (1L to 100L).toDF("x").filter($"x" <= n * 10).count()))
    assert(counts == Seq(10L, 20L, 30L, 40L, 50L))
  }

  test("an arm's exception propagates to the caller") {
    val e = intercept[RuntimeException] {
      Overlap.par(throw new RuntimeException("arm failed"), 1)
    }
    assert(e.getMessage == "arm failed")
    // the caller-thread arm too
    val e2 = intercept[RuntimeException] {
      Overlap.par(1, throw new RuntimeException("caller arm failed"))
    }
    assert(e2.getMessage == "caller arm failed")
  }

  test("a failing arm never abandons a sibling in flight (round 22)") {
    // the caller arm throws immediately; the pool arm keeps running — the
    // form must AWAIT it before rethrowing, so by the time the exception
    // surfaces the sibling has completed its side effect (the index
    // writers' publishRoot cleanup depends on exactly this: no zombie
    // write may outlive the failing scope)
    val sibling = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      Overlap.par(
        { Thread.sleep(200); sibling.set(true); 1 },
        throw new RuntimeException("caller fails first"))
    }
    assert(e.getMessage == "caller fails first")
    assert(sibling.get, "in-flight pool arm was abandoned on caller failure")
    // and the N-ary form
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[RuntimeException] {
      Overlap.all(Seq(
        () => { Thread.sleep(200); done.incrementAndGet() },
        () => { Thread.sleep(100); done.incrementAndGet() },
        () => throw new RuntimeException("last arm fails")))
    }
    assert(done.get == 2, "in-flight arms were abandoned on a sibling failure")
  }

  test("all() forces a lazy sequence before submission (round 22)") {
    // a view's thunks would otherwise be created only as Await walks them,
    // silently serializing the arms; forcing makes them all submit up
    // front — observed here as a latch that opens only once all four arms
    // are running at the same time (a serialized arm waits out the
    // timeout alone and fails)
    val running = new java.util.concurrent.CountDownLatch(4)
    val rs = Overlap.all(LazyList.from(1).take(4).map(n => () => {
      running.countDown()
      assert(running.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"arm $n never saw its siblings running: the arms ran serially")
      n
    }))
    assert(rs == Seq(1, 2, 3, 4))
  }

  test("every failing arm is reachable from the rethrown exception") {
    val e = intercept[RuntimeException] {
      Overlap.all(Seq(
        () => throw new RuntimeException("first arm failed"),
        () => 1,
        () => throw new IllegalStateException("last arm failed")))
    }
    assert(e.getMessage == "first arm failed") // declaration order
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("last arm failed"))
    val e2 = intercept[RuntimeException] {
      Overlap.par(throw new RuntimeException("pool arm"), throw new RuntimeException("caller arm"))
    }
    assert(e2.getMessage == "pool arm" &&
      e2.getSuppressed.map(_.getMessage).toSeq == Seq("caller arm"))
  }

  test("a pool thread's job-scoped properties are restored after each arm") {
    val sc = spark.sparkContext
    // seven latched arms occupy all six pool threads (and the caller) at
    // once, so every pool thread runs exactly one arm of each call
    def onEveryThread[A](body: => A): Seq[A] = {
      val latch = new java.util.concurrent.CountDownLatch(7)
      Overlap.all(Seq.fill(7)(() => {
        latch.countDown()
        assert(latch.await(60, java.util.concurrent.TimeUnit.SECONDS))
        body
      }))
    }
    def jobGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    onEveryThread(()) // the pool's threads exist before the probe group is set
    sc.setJobGroup("overlap-restore-probe", "probe")
    val during =
      try onEveryThread(jobGroup)
      finally sc.clearJobGroup()
    assert(during.forall(_.contains("overlap-restore-probe")))
    // a caller WITHOUT an active session re-establishes nothing on the
    // pool threads, so they must have restored their own properties
    var after = Seq.empty[Option[String]]
    val t = new Thread(() => {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      after = onEveryThread(jobGroup)
    })
    t.start(); t.join()
    assert(after.length == 7 && after.forall(_.isEmpty),
      s"the probe's job group leaked into later arms: $after")
  }

  test("pool arms see the caller's active session and job description (round 22)") {
    val sc = spark.sparkContext
    sc.setJobDescription("overlap-propagation-probe")
    try {
      val (desc, sess) = Overlap.par(
        (org.apache.spark.SparkContext.getOrCreate()
          .getLocalProperty("spark.job.description"),
          org.apache.spark.sql.SparkSession.getActiveSession.orNull),
        0) match { case (pair, _) => pair }
      assert(desc == "overlap-propagation-probe",
        s"pool arm saw job description '$desc'")
      assert(sess eq spark, "pool arm saw a stale active session")
    } finally sc.setJobDescription(null)
  }
}
