package graft.engine

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** Overlap INDEPENDENT Spark actions from a small driver-side thread pool
  * (optimization guide §2.6 "Overlap independent jobs"): Spark's scheduler
  * happily runs several jobs at once inside one application — actions are
  * sequential only because driver code calls them sequentially. The
  * multi-arm diagnostic keys (probe sweeps, recall checks, lifecycle
  * audits) are exactly the shape that benefits: 2-4 independent job
  * chains, each a string of small stages that never fills the cluster on
  * its own, previously paying driver latency + stage tail serially per
  * arm. Profiled at sf0.1/local[32]: ivf_pq_opq_sweep ran 83
  * driver-sequential jobs of 20-40 ms with 30-80 ms planning gaps — the
  * cluster was idle most of the wall clock.
  *
  * Results are unaffected: each arm's plan, partitioning, and
  * partial-aggregation order are exactly what the serial code ran — only
  * the SUBMISSION of the independent chains overlaps (FIFO scheduling
  * back-fills the tail, guide §2.6). Callers must pass genuinely
  * independent arms: nothing here may mutate state another arm reads
  * (lifecycle keys overlap only their post-mutation reads).
  *
  * Thread hygiene (round 22): pool arms run with the CALLER's active
  * SparkSession and job-group / description / scheduler-pool local
  * properties re-established — a lazily created pool thread otherwise
  * inherits whatever thread-locals the FIRST caller had, so later callers
  * in multi-session processes (or under setJobGroup-based cancellation)
  * could run arms against a stale session or escape their job group.
  *
  * Failure hygiene (round 22): every form AWAITS ALL arms before
  * rethrowing the first failure in declaration order, with every sibling
  * failure attached to it as suppressed. Abandoning in-flight
  * arms on a sibling failure let detached jobs outlive the caller's scope
  * — in the index writers, a publishRoot failure handler could delete a
  * .tmp staging dir a zombie write was still filling.
  *
  * The LAST arm runs on the caller thread (no pool round-trip and the
  * pool can never be the bottleneck for a single par call); the rest run
  * on daemon threads. Do NOT nest par calls — the pool is fixed-size and
  * nesting can starve it; query keys call it once at top level.
  */
object Overlap {
  private lazy val pool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(6, (r: Runnable) => {
        val t = new Thread(r, "graft-overlap")
        t.setDaemon(true)
        t
      }))

  // Local properties a Spark job reads from the SUBMITTING thread; the
  // public per-key get/set API is the supported surface for copying them.
  private val inheritedProps = Seq(
    "spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")

  /** Submit one arm to the pool with the caller's session and job-scoped
    * local properties re-established on the pool thread; the thread's
    * own properties are restored afterwards, so an arm's job group never
    * leaks into a later arm that runs without a session. */
  private def submit[A](body: => A): Future[A] = {
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    val props = session.map(s =>
      inheritedProps.map(k => k -> s.sparkContext.getLocalProperty(k)))
    Future {
      session match {
        case None => body
        case Some(s) =>
          val sc = s.sparkContext
          val saved = inheritedProps.map(k => k -> sc.getLocalProperty(k))
          org.apache.spark.sql.SparkSession.setActiveSession(s)
          props.foreach(_.foreach { case (k, v) => sc.setLocalProperty(k, v) })
          try body
          finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }(pool)
  }

  // Every form wraps each arm in Try and AWAITS every future before
  // rethrowing — so a failure cannot abandon a sibling in flight. The
  // first failure in declaration order is rethrown with every sibling
  // failure attached as suppressed, so a failure reports all its causes.

  private def await[A](f: Future[A]): Try[A] = Try(Await.result(f, Duration.Inf))

  private def rethrowFirst(rs: Seq[Try[_]]): Unit = {
    val errs = rs.collect { case Failure(e) => e }
    errs.headOption.foreach { first =>
      errs.tail.filterNot(_ eq first).distinct.foreach(first.addSuppressed)
      throw first
    }
  }

  def par[A, B](a: => A, b: => B): (A, B) = {
    val fa = submit(a)
    val rb = Try(b)
    val ra = await(fa)
    rethrowFirst(Seq(ra, rb))
    (ra.get, rb.get)
  }

  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val fa = submit(a)
    val fb = submit(b)
    val rc = Try(c)
    val ra = await(fa)
    val rb = await(fb)
    rethrowFirst(Seq(ra, rb, rc))
    (ra.get, rb.get, rc.get)
  }

  def par4[A, B, C, D](a: => A, b: => B, c: => C, d: => D): (A, B, C, D) = {
    val fa = submit(a)
    val fb = submit(b)
    val fc = submit(c)
    val rd = Try(d)
    val ra = await(fa)
    val rb = await(fb)
    val rc = await(fc)
    rethrowFirst(Seq(ra, rb, rc, rd))
    (ra.get, rb.get, rc.get, rd.get)
  }

  /** N independent arms, results in input order (the par/par3/par4 shape
    * for a runtime-sized arm list, e.g. a per-window-size sweep). The
    * LAST arm runs on the caller thread like the fixed-arity forms. The
    * sequence is FORCED before submission — a lazy collection (view /
    * LazyList) would otherwise create each future only as Await walks it,
    * silently serializing the arms. */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    val ts = thunks.toVector
    if (ts.isEmpty) return Nil
    val fs = ts.init.map(t => submit(t()))
    val last = Try(ts.last())
    val rs = fs.map(await) :+ last
    rethrowFirst(rs)
    rs.map(_.get)
  }
}
