package perfbench

import scala.collection.mutable

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the `System.nanoTime` clock. A parent's children
  * lie inside it and do not overlap, so self times are never negative and
  * the self times of a tree sum to the root's duration.
  */
final case class Span(name: String, start: Long, end: Long,
    children: Seq[Span] = Nil) {
  def dur: Long = end - start
  def self: Long = dur - children.map(_.dur).sum
  def all: Seq[Span] = this +: children.flatMap(_.all)
}

object Span {
  /** Places each event span under the innermost span whose interval holds
    * its start (stream batches inside the build, jobs and planning phases
    * inside a batch, the build or the row), then clips it to its parent.
    * Siblings are cut in start order: where two overlap, the overlap stays
    * with the one that started first.
    */
  def rowTree(start: Long, buildEnd: Long, end: Long, events: Seq[Span]): Span = {
    def clip(parent: Span, kids: Seq[Span]): Seq[Span] = {
      var cursor = parent.start
      kids.sortBy(_.start).flatMap { k =>
        val s = math.max(k.start, cursor)
        val e = math.min(k.end, parent.end)
        if (e > s) { cursor = e; Some(k.copy(start = s, end = e)) } else None
      }
    }
    def inside(p: Span)(k: Span) = k.start >= p.start && k.start < p.end
    val build = Span("Registry.build", start, buildEnd)
    val (batches, leaves) = events.partition(_.name == "stream.batch")
    val (buildBatches, rowBatches) = batches.partition(inside(build))
    val clippedBatches = clip(build, buildBatches)
    var rest = leaves
    val nestedBatches = clippedBatches.map { b =>
      val (mine, others) = rest.partition(inside(b))
      rest = others
      b.copy(children = clip(b, mine))
    }
    val (buildLeaves, rowLeaves) = rest.partition(inside(build))
    val builtBuild = build.copy(children = clip(build, nestedBatches ++ buildLeaves))
    val root = Span("row", start, end)
    // Row-level batches cannot occur in a closed loop (streaming bodies run
    // inside Q.run), but keep them rather than lose time if one does.
    root.copy(children = clip(root, builtBuild +: (rowBatches ++ rowLeaves)))
  }
}

/** Task, stage and job counts summed over the jobs of one row. */
final class ExecCounters {
  var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
}

/** Micro-batch progress summed over one row's streaming queries. */
final class StreamCounters {
  var batches, triggerMs, planMs, addBatchMs, commitMs, stateCommitMs = 0L
  /** Final state-store row count of each query, by query run id. */
  val stateRows = mutable.Map.empty[String, Long]
}

/** Everything the listeners saw during one row. */
final case class RowEvents(spans: Seq[Span], exec: ExecCounters,
    stream: StreamCounters, codegenCount: Long, codegenMs: Long,
    codegenBuildMs: Long)

/** Spark's `CodegenMetrics.METRIC_COMPILATION_TIME` histogram only keeps a
  * sample of compile times. This taps its reservoir so the benchmark sees
  * every compile (milliseconds and when it ended) while the histogram
  * keeps working as before.
  */
object CodegenTap {
  /** (end nanoTime, ms) of each compile since the last `take`. */
  private val recent = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  private lazy val installed: Unit = {
    val h: Histogram = CodegenMetrics.METRIC_COMPILATION_TIME
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    val inner = f.get(h).asInstanceOf[Reservoir]
    f.set(h, new Reservoir {
      def size(): Int = inner.size()
      def getSnapshot: Snapshot = inner.getSnapshot
      def update(ms: Long): Unit = {
        inner.update(ms)
        recent.add((System.nanoTime(), ms))
      }
    })
  }

  def install(): Unit = installed

  def take(): Seq[(Long, Long)] =
    Iterator.continually(recent.poll()).takeWhile(_ != null).toSeq
}

/** Listeners the benchmark registers on a session for a traced pass. They
  * record spans (planning phases, jobs, micro-batches) on the nanoTime
  * clock and sum task and streaming metrics; `take` hands over and resets
  * what was seen since the previous call.
  */
final class Collector(spark: SparkSession) {
  private val sc = spark.sparkContext
  // Spark stamps events with wall-clock milliseconds. The offset to the
  // nanoTime clock is re-read before each row, so a wall-clock step between
  // rows cannot move a row's event spans outside the row.
  @volatile private var offsetNs = 0L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  /** Re-reads the clock offset; call before each row. */
  def mark(): Unit = offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private var spans = Vector.empty[Span]
  private var exec = new ExecCounters
  private var stream = new StreamCounters
  private val jobStarts = mutable.Map.empty[Int, Long]

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Collector.this.synchronized {
      jobStarts(e.jobId) = e.time
      exec.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Collector.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => spans :+= Span("exec.job", ns(s), ns(e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Collector.this.synchronized { exec.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Collector.this.synchronized {
      val m = e.taskMetrics
      exec.tasks += 1
      if (m != null) {
        exec.runMs += m.executorRunTime
        exec.cpuNs += m.executorCpuTime
        exec.gcMs += m.jvmGCTime
        exec.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        exec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        exec.spill += m.diskBytesSpilled
        exec.input += m.inputMetrics.bytesRead
        exec.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planning = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Collector.this.synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        spans :+= Span(s"catalyst.plan.$phase", ns(p.startTimeMs), ns(p.endTimeMs))
      }
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val batches = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = Collector.this.synchronized {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans :+= Span("stream.batch", ns(start), ns(start + ms("triggerExecution")))
      stream.batches += 1
      stream.triggerMs += ms("triggerExecution")
      stream.planMs += ms("queryPlanning")
      stream.addBatchMs += ms("addBatch")
      stream.commitMs += ms("walCommit") + ms("commitOffsets")
      stream.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      stream.stateRows(p.runId.toString) = p.stateOperators.map(_.numRowsTotal).sum
    }
  }

  def attach(): Unit = {
    CodegenTap.install()
    CodegenTap.take()
    sc.addSparkListener(jobs)
    spark.listenerManager.register(planning)
    spark.streams.addListener(batches)
  }

  def detach(): Unit = {
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(batches)
  }

  /** Waits for the listener bus, then returns and resets what was seen.
    * Compiles that ended inside `[buildStart, buildEnd]` are counted as
    * build-time codegen.
    */
  def take(buildStart: Long, buildEnd: Long): RowEvents = {
    PerfbenchBus.drain(sc)
    val compiles = CodegenTap.take()
    synchronized {
      val out = RowEvents(spans, exec, stream, compiles.size, compiles.map(_._2).sum,
        compiles.collect { case (t, ms) if t >= buildStart && t <= buildEnd => ms }.sum)
      spans = Vector.empty
      exec = new ExecCounters
      stream = new StreamCounters
      jobStarts.clear()
      out
    }
  }
}
