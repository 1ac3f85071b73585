package graft.client

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.algebra.Semigroup
import graft.batch.BatchStore
import graft.time.BatchID

/** Pins the exact Spark job count of the serving reads: job count is the
  * fixed cost that bounds small reads, so a regression here (a schema
  * inference read, a shuffle stage) fails the suite instead of hiding in
  * wall time.
  */
class ClientStoreJobCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private implicit val sg: Semigroup[Long] = Semigroup.longSemigroup

  /** `body`'s result and the number of Spark jobs it launched, counted by
    * a listener on a job group private to this call.
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      ListenerBusDrain.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def withStore[A](keyBuckets: Option[Int])(f: BatchStore[Long, Long] => A): A = {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_jobcount_").toString
    try {
      val store = new BatchStore[Long, Long](tmp, keyBuckets = keyBuckets)
      store.writeSnapshot(BatchID(1), (0L until 1000L).map(k => (k, k * 2)).toDS())
      f(store)
    } finally graft.batch.BatchState.deleteDir(tmp)
  }

  test("get and getBatch each run exactly one Spark job and no shuffle on a key-clustered store") {
    val s = spark; import s.implicits._
    // online deltas: batch 1 (covered by the snapshot, excluded) and 2..3
    val online = (0L until 1000L by 7L)
      .flatMap(k => Seq((k, 1L, 100L), (k, 2L, 1L), (k, 3L, 1L))).toDS()
    def want(k: Long): Option[Long] =
      if (k >= 1000L) None else Some(k * 2 + (if (k % 7 == 0) 2L else 0L))
    withStore(Some(8)) { store =>
      for (k <- Seq(137L, 140L, 5000L)) {
        val (got, jobs) = jobsOf(ClientStore.get(spark, store, online, k))
        assert(got == want(k), s"get($k)")
        assert(jobs == 1, s"get($k) ran $jobs jobs")
      }
      val keys = Seq(137L, 140L, 202L, 911L, 5000L)
      val (got, jobs) = jobsOf(ClientStore.getBatch(spark, store, online, keys))
      assert(got == keys.flatMap(k => want(k).map(k -> _)).toMap)
      assert(jobs == 1, s"getBatch ran $jobs jobs")
      val plan = ClientStore.servedFrame(spark, store, online, keys, BatchID(Long.MaxValue))
        .queryExecution.executedPlan
      assert(plan.collect { case e: Exchange => e }.isEmpty, plan.toString)
    }
  }

  test("building a snapshot read runs no Spark job before an action; an empty getBatch none at all") {
    val s = spark; import s.implicits._
    for (kb <- Seq(Some(8), None)) withStore(kb) { store =>
      // the listener does see an inferring parquet read's job
      assert(jobsOf(spark.read.parquet(store.snapshotDir(BatchID(1))))._2 >= 1)
      val (_, jobs) = jobsOf {
        store.readLast(spark)
        store.readLastForKey(spark, 137L)
        store.readLastForKeys(spark, Seq(137L, 202L))
      }
      assert(jobs == 0, s"keyBuckets=$kb: building the reads ran $jobs jobs")
      val (got, emptyJobs) = jobsOf(ClientStore.getBatch(spark, store,
        Seq((137L, 2L, 1L)).toDS(), Seq.empty[Long]))
      assert(got.isEmpty && emptyJobs == 0)
    }
  }
}
