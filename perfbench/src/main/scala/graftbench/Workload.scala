package graftbench

import org.apache.spark.sql.SparkSession

/** One timed operation of the closed-loop client. `items` is what the
  * operation moved (events, keys, documents, queries); `ok` is the verdict
  * of the operation's correctness check.
  */
final case class Op(kind: String, ms: Double, items: Long, ok: Boolean)

/** What a workload hands back: its operations, the duration of each set-up
  * repetition, and figures only the workload itself can observe (store
  * sizes, recall, hit counts), keyed by metric name.
  */
final case class Outcome(ops: Seq[Op], setupRepsS: Seq[Double], observed: Map[String, Double])

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val gen: Gen, val trace: Trace,
    val workDir: String, val seconds: Int) {

  /** Runs `body` as a call into program layer `name` (a span when tracing). */
  def span[A](name: String)(body: => A): A = trace.span(spark.sparkContext, name)(body)

  /** A fresh directory under this run's private work directory. */
  def freshDir(name: String): String = {
    val d = new java.io.File(workDir, name)
    Files.deleteTree(d)
    d.mkdirs()
    d.getPath
  }

  /** Wall time in ms of `body`, with its result. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e6, a)
  }

  /** Set-up repeated `reps` times; each repetition but the last is torn
    * down. Returns the last repetition's state and every repetition's time.
    */
  def setupRepeated[S](reps: Int)(setup: Int => S)(teardown: S => Unit): (S, Seq[Double]) = {
    var last: Option[S] = None
    val times = (0 until reps).map { r =>
      last.foreach(teardown)
      val (ms, s) = timed(setup(r))
      last = Some(s)
      ms / 1000.0
    }
    (last.get, times)
  }

  @volatile var measureStartNs = 0L
  var gcMsInLoop = 0L
  var heapPeakMbInLoop = 0.0
  /** Per-layer Spark counts and the total job count of the measured loop. */
  var loopCounts: Map[String, Trace.Counts] = Map.empty
  var loopJobsTotal = 0L

  /** Calls `tick` until the measured time is used up, at least `minSteps`
    * times and in whole cycles of `cycle` calls. Spark's listener queue is drained before
    * and after, so the per-layer counts taken here cover the measured loop
    * only, not set-up or the checks that follow it.
    */
  def closedLoop(minSteps: Int = 1, cycle: Int = 1)(tick: Long => Unit): Unit = {
    if (trace.enabled) {
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      trace.jobs.reset()
      trace.progress.reset()
    }
    val gc0 = Main.gcMs
    Main.heapPools.foreach(_.resetPeakUsage())
    measureStartNs = System.nanoTime()
    System.err.println("[graftbench] set-up done; measuring")
    val end = measureStartNs + seconds * 1000000000L
    var i = 0L
    while (i < minSteps || i % cycle != 0 || System.nanoTime() < end) {
      trace.beginOp(i)
      tick(i)
      i += 1
    }
    System.err.println(s"[graftbench] measured $i steps")
    if (trace.enabled) {
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      loopCounts = trace.jobs.snapshot
      loopJobsTotal = trace.jobs.jobsTotal
    }
    gcMsInLoop = Main.gcMs - gc0
    heapPeakMbInLoop = Main.heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}

trait Workload {
  def name: String
  def run(c: Ctx): Outcome
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
  def bytesUnder(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()
}
