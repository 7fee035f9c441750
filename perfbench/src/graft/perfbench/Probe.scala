package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work done on behalf of one op. Times are in nanoseconds;
  * `peakMem` is the largest single task's peak execution memory.
  */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var scanBytes = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var peakMem = 0L
  var planNs = 0L
  /** (start ms, end ms) of each execution's planning phases. */
  var plans = List.empty[(Long, Long)]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    scanBytes += o.scanBytes; shuffleBytes += o.shuffleBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    peakMem = math.max(peakMem, o.peakMem); planNs += o.planNs
    plans = o.plans ::: plans
  }
}

/** One micro-batch's progress, as the StreamingQueryListener reports it. */
final case class BatchProgress(runId: java.util.UUID, durationMs: Map[String, Long],
    stateRows: Long, stateMemBytes: Long, statePartitions: Long)

/** The harness's only instrument: counts listener events per op.
  *
  * Every op runs under its own job tag, so a job — and each of its stages
  * and tasks — is charged to the op that submitted it even when its events
  * arrive late on the listener bus. [[drain]] holds the harness until the
  * bus has delivered everything the op caused, so no straggler's task end
  * lands in the next op's counts or wall time.
  *
  * Planning time is read from each execution's QueryPlanningTracker
  * (analysis, optimization and planning phases). Those callbacks carry no
  * tag; they are charged to [[current]], which is exact because the next op
  * starts only after [[drain]].
  */
final class Probe extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, Counts]()
  private val running = new ConcurrentHashMap[String, AtomicLong]()
  private val markers = ConcurrentHashMap.newKeySet[String]()
  private val markerSeq = new AtomicLong()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
  @volatile var current: String = ""

  private def of(tag: String): Counts = counts.computeIfAbsent(tag, _ => new Counts)

  private def opTag(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).find(t => t.startsWith(Probe.OpPrefix) ||
        t.startsWith(Probe.DrainPrefix))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opTag(e.properties).foreach { tag =>
      if (tag.startsWith(Probe.DrainPrefix)) markers.add(tag)
      else {
        of(tag).synchronized(of(tag).jobs += 1)
        e.stageInfos.foreach(si => stageTag.put(si.stageId, tag))
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      val c = of(tag); c.synchronized(c.stages += 1)
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      running.computeIfAbsent(tag, _ => new AtomicLong()).incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val c = of(tag)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.scanBytes += m.inputMetrics.bytesRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          c.spillBytes += m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        }
      }
      running.computeIfAbsent(tag, _ => new AtomicLong()).decrementAndGet()
    }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val spans = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (spans.nonEmpty) {
        val c = of(current)
        c.synchronized {
          c.planNs += spans.map(_.durationMs).sum * 1000000L
          c.plans ::= ((spans.map(_.startTimeMs).min, spans.map(_.endTimeMs).max))
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.runId)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches.add(BatchProgress(p.runId,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numShufflePartitions).sum))
    }
  }

  /** Block until the listener bus has delivered every event of `tag`'s jobs.
    *
    * An empty job posts its start and end events at once, behind every
    * event the op's finished jobs posted; seeing it means those were
    * delivered. Tasks still running after their job ended (cancelled
    * speculative or limit tasks) are then waited out by count.
    */
  def drain(sc: SparkContext, tag: String): Unit = {
    val marker = s"${Probe.DrainPrefix}${markerSeq.incrementAndGet()}"
    sc.addJobTag(marker)
    try sc.emptyRDD[Int].count() finally sc.removeJobTag(marker)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!markers.contains(marker) && System.nanoTime() < deadline) Thread.sleep(1)
    if (!markers.remove(marker)) throw new IllegalStateException(s"listener bus stalled at $tag")
    val r = Option(running.get(tag))
    while (r.exists(_.get > 0) && System.nanoTime() < deadline) Thread.sleep(1)
    running.remove(tag)
  }

  def take(tag: String): Counts = Option(counts.remove(tag)).getOrElse(new Counts)

  /** Progress of the stream runs `runIds`, once all have terminated. Their
    * progress events precede their termination event on the stream bus.
    */
  def takeBatches(runIds: Seq[java.util.UUID]): Seq[BatchProgress] = {
    val deadline = System.currentTimeMillis() + 60000
    while (!runIds.forall(terminated.contains) && System.currentTimeMillis() < deadline)
      Thread.sleep(2)
    if (!runIds.forall(terminated.remove))
      throw new IllegalStateException("stream termination events not delivered")
    val ids = runIds.toSet
    val out = batches.asScala.filter(b => ids(b.runId)).toVector
    batches.removeIf(b => ids(b.runId))
    out
  }
}

object Probe {
  val OpPrefix = "perfbench-op-"
  val DrainPrefix = "perfbench-drain-"
}
