package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace: an op (layer `bench`), a Catalyst phase
  * (`spark.catalyst`), a job or a stage (`spark.exec`), or a call into
  * a graft layer made by the evolve workload. Spans of one op share
  * its `op` id; `parent` is the span that caused this one. Times are
  * epoch milliseconds, as Spark's listener events carry them. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, startMs: Double, endMs: Double)

/** What one traced op did, summed from the listener events that were
  * attributed to it (jobs by job group, Catalyst phases by arrival
  * while the op was open). */
final class OpStats(val id: Long, val name: String) {
  var jobs, stages, tasks, failedTasks, plans = 0L
  var shuffleReadB, shuffleWriteB, spillB, inputRows, inputB, outputB = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  val phasesMs = scala.collection.mutable.Map.empty[String, Double]
  val jobIntervals = ArrayBuffer.empty[(Double, Double)]
  var startMs, endMs, wallS = 0.0
}

/** Span recorder over Spark's public listener interfaces. Attached only
  * in traced runs; untraced runs never construct one. Spans stay in
  * memory and are written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = ArrayBuffer.empty[Span]
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, OpStats]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (OpStats, Long)]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (OpStats, Long, Double)]()
  @volatile private var current: OpStats = null
  private var attached = false

  private def add(s: Span): Unit = spans.synchronized { spans += s }
  private def newId(): Long = ids.incrementAndGet()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val st = if (g == null) null else byGroup.get(g)
      if (st != null) {
        st.jobs += 1
        val id = newId()
        jobSpan.put(e.jobId, (st, id, e.time.toDouble))
        e.stageIds.foreach(s => stageOwner.put(s, (st, id)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (st, id, t0) =>
        st.jobIntervals += ((t0, e.time.toDouble))
        add(Span(id, st.id, st.id, "spark.exec", s"job ${e.jobId}", t0, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (st, job) =>
        st.stages += 1
        val i = e.stageInfo
        add(Span(newId(), job, st.id, "spark.exec", s"stage ${i.stageId}",
          i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { case (st, _) =>
        st.tasks += 1
        if (e.reason != Success) st.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          st.taskRunMs += m.executorRunTime
          st.taskCpuNs += m.executorCpuTime
          st.taskGcMs += m.jvmGCTime
          st.inputRows += m.inputMetrics.recordsRead
          st.inputB += m.inputMetrics.bytesRead
          st.outputB += m.outputMetrics.bytesWritten
          st.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          st.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val st = current
      if (st != null) {
        st.plans += 1
        qe.tracker.phases.foreach { case (phase, p) =>
          st.phasesMs(phase) = st.phasesMs.getOrElse(phase, 0.0) + p.durationMs
          add(Span(newId(), st.id, st.id, "spark.catalyst", phase,
            p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  /** The op's own DataFrame was analysed (and, for SQL text, parsed)
    * when it was built, before the write planned a QueryExecution of
    * its own; count those phases as the op's analysis. */
  def noteBuilt(df: org.apache.spark.sql.DataFrame): Unit = {
    val st = current
    if (st != null) df.queryExecution.tracker.phases.foreach { case (phase, p) =>
      val key = if (phase == "parsing") "analysis" else phase
      st.phasesMs(key) = st.phasesMs.getOrElse(key, 0.0) + p.durationMs
      add(Span(newId(), st.id, st.id, "spark.catalyst", phase,
        p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener); spark.listenerManager.register(qeListener); attached = true
  }
  def detach(): Unit = if (attached) {
    PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener); attached = false
  }

  /** Run `body` as one traced op: its jobs carry a job group of their
    * own, and the listener bus is drained before the op closes. */
  def op[T](name: String, layer: String = "bench")(body: => T): (T, OpStats) = {
    val st = new OpStats(newId(), name)
    val group = s"perfbench-${st.id}"
    byGroup.put(group, st)
    PerfbenchBridge.drainListeners(sc)
    current = st
    sc.setJobGroup(group, name)
    st.startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, st)
    } finally {
      st.wallS = (System.nanoTime() - t0) / 1e9
      st.endMs = st.startMs + st.wallS * 1000
      sc.clearJobGroup()
      PerfbenchBridge.drainListeners(sc)
      current = null
      byGroup.remove(group)
      add(Span(st.id, 0L, st.id, layer, name, st.startMs, st.endMs))
    }
  }

  /** Length of the union of `iv` clipped to [lo, hi], in ms. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (a max lo, b min hi) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - (a max end); end = b }
      }
    total
  }

  /** Self time per layer: each span's duration minus the part of it
    * that its child spans cover, summed by layer, in seconds. */
  def selfTimes(): Map[String, Double] = {
    val all = spans.synchronized(spans.toVector)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Vector.empty).map(k => (k.startMs, k.endMs))
        (s.endMs - s.startMs) - covered(c, s.startMs, s.endMs)
      }.sum / 1000.0
    }
  }

  def spansJson: Seq[Map[String, Any]] = spans.synchronized(spans.toVector).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}
