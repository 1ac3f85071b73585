package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around each call the benchmark makes into a program layer, and
  * the Spark work those calls cause.
  *
  * A span sets the local property [[LayerKey]] to its name for the calling
  * thread, so every Spark job the call submits carries the layer's name.
  * Jobs of a streaming query's own thread carry Spark's job group, which is
  * the query's run id; [[streamRun]] maps those to `streaming.trigger`.
  * With tracing off, [[span]] only runs its body.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val clientOpen = new AtomicLong(0)
  @volatile private var clientThread: Thread = Thread.currentThread()
  @volatile private var currentOp: Long = 0
  private val streamRuns = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val jobs = new JobListener(streamRuns)
  val progress = new ProgressListener

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
  }

  /** Registers a started streaming query so its thread's jobs are attributed. */
  def streamRun(runId: java.util.UUID): Unit = streamRuns.add(runId.toString)

  /** Marks the calling thread as the closed-loop client and starts op `id`. */
  def beginOp(id: Long): Unit = { clientThread = Thread.currentThread(); currentOp = id }

  def span[A](sc: SparkContext, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val onClient = Thread.currentThread() eq clientThread
      val parent = stack.get() match {
        case p :: _ => p
        case Nil    => if (onClient) 0L else clientOpen.get()
      }
      val prevLayer = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(LayerKey, name)
      stack.set(id :: stack.get())
      if (onClient) clientOpen.set(id)
      val op = currentOp
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        if (onClient) clientOpen.set(stack.get().headOption.getOrElse(0L))
        sc.setLocalProperty(LayerKey, prevLayer)
        spans.add(Span(id, name, t0, t1, parent, op))
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Spans that started at or after `fromNs`, with their self time: the
    * span's duration minus the part of it its child spans cover.
    */
  def selfTimes(fromNs: Long): Seq[(Span, Long)] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.filter(_.startNs >= fromNs).map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1))
      (s, (s.endNs - s.startNs) - covered)
    }
  }
}

object Trace {
  val LayerKey = "graftbench.layer"
  val StreamLayer = "streaming.trigger"

  final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long, op: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var inputBytes = 0L; var shuffleWriteBytes = 0L; var outputBytes = 0L
  }

  /** Jobs, stages, tasks and bytes per layer. Events arrive on Spark's
    * listener thread; read only after [[org.apache.spark.GraftBenchBus.drain]].
    */
  final class JobListener(streamRuns: java.util.Set[String]) extends SparkListener {
    private val stageLayer = mutable.Map.empty[Int, String]
    private val counts = mutable.Map.empty[String, Counts]
    var jobsTotal = 0L

    private def layerOf(props: java.util.Properties): String = {
      val layer = Option(props).flatMap(p => Option(p.getProperty(LayerKey)))
      val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      layer.orElse(group.filter(streamRuns.contains).map(_ => StreamLayer)).getOrElse("unattributed")
    }
    private def of(layer: String) = counts.getOrElseUpdate(layer, new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val layer = layerOf(e.properties)
      e.stageIds.foreach(stageLayer(_) = layer)
      of(layer).jobs += 1
      jobsTotal += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageLayer.get(e.stageInfo.stageId).foreach(l => of(l).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageLayer.get(e.stageId).foreach { l =>
        val c = of(l)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

    def reset(): Unit = synchronized { counts.clear(); jobsTotal = 0L }
    def snapshot: Map[String, Counts] = synchronized { counts.toMap }
  }

  /** Per-trigger [[org.apache.spark.sql.streaming.StreamingQueryProgress]]. */
  final class ProgressListener extends StreamingQueryListener {
    private val buf = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = buf.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def reset(): Unit = buf.clear()
    def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = buf.asScala.toSeq
  }
}
