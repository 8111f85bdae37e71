package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** One timed interval. Times are epoch milliseconds with sub-ms precision,
  * on the same clock as Spark's job and planning-phase timestamps. */
final case class Span(op: Int, layer: String, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Per-stage execution totals, tied to the op whose job submitted it. */
final class StageRec(val op: Int) {
  var tasks = 0; var nonempty = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
  var shufRead = 0L; var shufWrite = 0L; var spill = 0L
}

/** Span recorder plus a SparkListener. Tracing is switched per op: while
  * an op is traced its jobs carry the `perfbench.op` local property, so the
  * listener ties each job, stage and task to that op. Untraced ops record
  * only their wall time. Everything stays in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  @volatile private var cur = -1 // traced op in progress, -1 when none
  val spans = mutable.ArrayBuffer.empty[Span]

  // listener side (listener-bus thread); read only after drain()
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Double]
  val jobs = mutable.ArrayBuffer.empty[Span]
  private val stageOp = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[Int, StageRec]
  private val blocks = mutable.Map.empty[String, Long]
  private var stored = 0L
  var storagePeak = 0L // bytes of rdd blocks (cache + checkpoint), run maximum
  private var started = 0; private var ended = 0

  def begin(op: Int): Unit = {
    cur = op
    sc.setLocalProperty("perfbench.op", op.toString)
  }
  def end(): Unit = {
    cur = -1
    sc.setLocalProperty("perfbench.op", null)
  }
  def tracing: Boolean = cur >= 0

  /** Time `body` as a span of `layer` when the current op is traced. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (cur < 0) body
    else {
      val op = cur; val s = now()
      try body finally spans += Span(op, layer, name, s, now())
    }

  /** Record the planner phases of an executed DataFrame as catalyst spans
    * and return its analyzed-plan node count. */
  def planned(df: DataFrame): Int = {
    val qe = df.queryExecution
    if (cur >= 0) {
      val ph = qe.tracker.phases
      Seq("optimization" -> "optimize", "planning" -> "physical").foreach { case (k, n) =>
        ph.get(k).foreach(p => spans += Span(cur, "catalyst", n, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    var nodes = 0
    qe.analyzed.foreach(_ => nodes += 1)
    nodes
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
    op.foreach { o =>
      jobOp(e.jobId) = o.toInt; jobStart(e.jobId) = e.time.toDouble
      e.stageIds.foreach(stageOp(_) = o.toInt)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobOp.get(e.jobId).foreach(o => jobs += Span(o, "exec", "job", jobStart(e.jobId), e.time.toDouble))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { o =>
      val r = stages.getOrElseUpdate(e.stageId, new StageRec(o))
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead > 0) r.nonempty += 1
        r.runMs += m.executorRunTime; r.cpuNs += m.executorCpuTime; r.gcMs += m.jvmGCTime
        r.shufRead += m.shuffleReadMetrics.totalBytesRead
        r.shufWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val info = e.taskInfo
        r.schedMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val id = b.blockId.name
    if (id.startsWith("rdd_")) {
      val sz = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      stored += sz - blocks.getOrElse(id, 0L)
      if (sz > 0) blocks(id) = sz else blocks.remove(id)
      storagePeak = math.max(storagePeak, stored)
    }
  }

  /** Wait (bounded) until the listener has seen the end of every job. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (synchronized(ended < started) && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200) // task-end events of the last stage trail its job end
  }
}

/** Self time: each instant of an op goes to the innermost span active then
  * — the one that started last (of two that started together, the one that
  * ends first). A span's self time is its duration minus what its nested
  * spans take, and jobs that run concurrently share their overlap instead
  * of each counting it, so the self times of an op add up to at most its
  * wall time. */
object SelfTime {
  /** Spans of one op, clipped to its `op` span → (span, self ms). */
  def of(spans: Seq[Span]): Seq[(Span, Double)] = {
    val (lo, hi) = spans.find(_.layer == "op").map(o => (o.start, o.end))
      .getOrElse((spans.map(_.start).min, spans.map(_.end).max))
    val iv = spans.map(s => (math.max(s.start, lo), math.min(s.end, hi)))
    val cuts = iv.flatMap(c => Seq(c._1, c._2)).filter(t => t >= lo && t <= hi).distinct.sorted
    val self = Array.fill(spans.size)(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val active = spans.indices.filter(i => iv(i)._1 <= mid && mid < iv(i)._2)
      if (active.nonEmpty) self(active.maxBy(i => (iv(i)._1, -iv(i)._2))) += b - a
    }
    spans.zip(self)
  }

  /** Length of the union of the intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var hi = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > hi) { total += e - math.max(s, hi); hi = e }
    }
    total
  }
}
