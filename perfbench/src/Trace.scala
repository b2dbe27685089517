package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code. `op` is the id shared by
  * every span of one operation (0 outside operations). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are cheap (two clock reads and an append) and are
  * kept in both modes; the traced run additionally writes them out. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  @volatile var currentOp = 0

  def apply[T](name: String, op: Int = -1)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val opId = if (op >= 0) op else currentOp
    stack = id :: stack
    val t0 = System.nanoTime()
    try f finally {
      all += Span(id, parent, opId, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Opens a new operation: its spans, and the listener events that arrive
    * while it runs, carry the returned id. */
  def beginOp(): Int = { currentOp = nextId; currentOp }

  def last(name: String): Span = all.findLast(_.name == name).get
}

/** Counters one traced operation accumulates from Spark's own listeners. */
final class OpCounters {
  var jobs, stages, stagesRetried, tasks, tasksFailed = 0L
  var taskBusyNs, taskWaitNs, gcMs = 0L
  var scanBytes, scanRows, shuffleWrite, shuffleRead, spill, bytesWritten = 0L
  var plans = 0L
  var analysisNs, optimizeNs, physicalNs = 0L
  var batches = 0L
  val batchMs = mutable.ArrayBuffer.empty[Double]
  val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var startupMs = 0.0
  var stateRows, stateCommitMs, stateMemory, inputRows = 0L
}

/** Spark's listeners, with every event charged to the operation that was
  * running when it was delivered. The benchmark drains the listener bus at
  * the end of each operation, so an event cannot spill into the next one.
  * The streaming listener stays attached for the whole run (Spark emits
  * progress events whether or not anyone listens); the job, task and
  * query-execution listeners only while a traced pass runs. */
final class Listeners(spark: SparkSession, spans: Spans) {
  val byOp = mutable.Map.empty[Int, OpCounters]
  private def cur: OpCounters = byOp.synchronized {
    byOp.getOrElseUpdate(spans.currentOp, new OpCounters)
  }
  private val queryStart = mutable.Map.empty[java.util.UUID, Long]

  private val spark0 = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cur.jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = cur
      c.stages += 1
      if (e.stageInfo.attemptNumber() > 0) c.stagesRetried += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = cur
      c.tasks += 1
      if (!e.taskInfo.successful) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskBusyNs += m.executorRunTime * 1000000L
        c.taskWaitNs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) * 1000000L
        c.gcMs += m.jvmGCTime
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRows += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qe = new QueryExecutionListener {
    override def onSuccess(f: String, q: QueryExecution, ns: Long): Unit = record(q)
    override def onFailure(f: String, q: QueryExecution, e: Exception): Unit = record(q)
    private def record(q: QueryExecution): Unit = {
      val c = cur
      val ph = q.tracker.phases
      def ns(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).getOrElse(0L)
      c.plans += 1
      c.analysisNs += ns("analysis")
      c.optimizeNs += ns("optimization")
      c.physicalNs += ns("planning")
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryStart.synchronized(
        queryStart(e.runId) = java.time.Instant.parse(e.timestamp).toEpochMilli)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val c = cur
      val d = p.durationMs
      if (p.numInputRows > 0 || d.containsKey("addBatch")) {
        c.batches += 1
        c.batchMs += d.getOrDefault("triggerExecution", 0L).toDouble
        c.inputRows += p.numInputRows
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach(k => c.phaseMs(k) += d.getOrDefault(k, 0L).toDouble)
        p.stateOperators.foreach { s =>
          c.stateRows += s.numRowsTotal
          c.stateCommitMs += s.commitTimeMs
          c.stateMemory += s.memoryUsedBytes
        }
      }
      queryStart.synchronized(queryStart.remove(p.runId)).foreach { t0 =>
        val first = java.time.Instant.parse(p.timestamp).toEpochMilli
        c.startupMs += math.max(0L, first - t0).toDouble
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.streams.addListener(streams)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(spark0)
    spark.listenerManager.register(qe)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(spark0)
    spark.listenerManager.unregister(qe)
  }

  def close(): Unit = {
    drain()
    spark.streams.removeListener(streams)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
