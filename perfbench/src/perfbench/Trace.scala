package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Peak bytes held in persisted RDD blocks (memory + disk, all executors)
  * over a run — `cache_peak_mb`. Registered on every run, traced or not.
  */
final class CacheMeter extends SparkListener {
  private val sizes = mutable.HashMap[String, Long]()
  private var total = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = info.memSize + info.diskSize
      total += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes.remove(key) else sizes(key) = now
      if (total > peakBytes) peakBytes = total
    }
  }

  def peak: Long = synchronized(peakBytes)

  /** Forget the blocks of a stopped session; the peak stays. */
  def reset(): Unit = synchronized { sizes.clear(); total = 0L }
}

/** One timed call into a module (or a benchmark phase around such calls). */
final class Span(val id: Int, val name: String, val parent: Int,
    val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  var endNs: Long = 0L
  var results: Long = -1L
  // filled by the listener (bus thread) — read only after a drain
  var cpuNs, gcMs, shuffleBytes, spillBytes, jobs = 0L
  var planNodes = 0L
  // "number of output rows" updates per SQL metric id, resolved at exit
  val outputRows = mutable.HashMap[Long, Long]()
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  def wallS: Double = (endNs - startNs) / 1e9
}

/** The traced run's span recorder and Spark listener.
  *
  * Spans are opened around each call into a graft module from the
  * benchmark's own code. Jobs and SQL executions are attributed to the
  * innermost span whose wall interval holds their submission time — the
  * benchmark is one client issuing one call at a time, so the interval
  * identifies the call even for jobs a module submits from its own
  * threads. Tasks inherit the span of their stage's job. Spans stay in
  * memory; [[layerMetrics]] and [[spanRecords]] read them at exit.
  */
final class Tracer extends SparkListener {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var armedFlag = false
  private var sc: SparkContext = _
  @volatile var totalTaskFailures = 0L

  // listener-side maps (bus thread only)
  private val stageSpan = mutable.HashMap[Int, Span]()
  private val jobSpan = mutable.HashMap[Int, (Span, Long)]()
  private val joinRowIds = mutable.HashSet[Long]()
  private val generateRowIds = mutable.HashSet[Long]()
  private val execPlan = mutable.HashMap[Long, (Span, Int)]()

  /** Start attributing Spark work to spans on `context`. */
  def arm(context: SparkContext): Unit = if (!armedFlag) {
    sc = context; sc.addSparkListener(this); armedFlag = true
  }

  /** Stop attributing: drain the bus so every event so far is counted. */
  def disarm(): Unit = if (armedFlag) {
    PerfbenchBus.drain(sc); sc.removeSparkListener(this); armedFlag = false
  }

  def span[T](name: String)(body: => T): T =
    if (!armedFlag) body
    else {
      val s = spans.synchronized {
        val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
          System.currentTimeMillis(), System.nanoTime())
        spans += s; s
      }
      stack = s :: stack
      sc.setJobGroup(name, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.name, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record the result size of the innermost open span (for useful-work ratios). */
  def results(n: Long): Unit = stack.headOption.foreach(_.results = n)

  // spans are appended in start order, so the last one holding `ms` is
  // the innermost
  private def spanAt(ms: Long): Option[Span] = spans.synchronized {
    spans.reverseIterator.find(s => s.startMs <= ms && ms <= s.endMs)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanAt(e.time).foreach { s =>
      s.jobs += 1
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { case (s, start) => s.jobIntervals += ((start, e.time)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.reason != Success) totalTaskFailures += 1
    stageSpan.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      if (e.taskInfo != null) e.taskInfo.accumulables.foreach { a =>
        if (a.name.contains(OutputRows)) addRows(s, a.id, a.update)
      }
    }
  }

  private val OutputRows = "number of output rows"

  private def addRows(s: Span, id: Long, v: Option[Any]): Unit = v.foreach {
    case n: Long => s.outputRows(id) = s.outputRows.getOrElse(id, 0L) + n
    case _ =>
  }

  private def countNodes(p: SparkPlanInfo): Int =
    (if (p.nodeName.startsWith("WholeStageCodegen") || p.nodeName == "InputAdapter") 0 else 1) +
      p.children.map(countNodes).sum

  private def registerPlan(execId: Long, s: Span, p: SparkPlanInfo): Unit = {
    // metric ids are recorded whenever a plan shows them: AQE may post the
    // final plan after the tasks that updated its metrics
    def walk(n: SparkPlanInfo): Unit = {
      val ids = n.metrics.filter(_.name == OutputRows).map(_.accumulatorId)
      if (n.nodeName.contains("Join") || n.nodeName == "CartesianProduct") joinRowIds ++= ids
      else if (n.nodeName == "Generate") generateRowIds ++= ids
      n.children.foreach(walk)
    }
    walk(p)
    execPlan.get(execId).foreach { case (old, n) => old.planNodes -= n }
    val n = countNodes(p)
    s.planNodes += n
    execPlan(execId) = (s, n)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case st: SparkListenerSQLExecutionStart =>
      spanAt(st.time).foreach(s => registerPlan(st.executionId, s, st.sparkPlanInfo))
    case up: SparkListenerSQLAdaptiveExecutionUpdate =>
      execPlan.get(up.executionId).foreach { case (s, _) =>
        registerPlan(up.executionId, s, up.sparkPlanInfo) }
    case d: SparkListenerDriverAccumUpdates =>
      execPlan.get(d.executionId).foreach { case (s, _) =>
        d.accumUpdates.foreach { case (id, v) => addRows(s, id, Some(v)) } }
    case _ =>
  }

  /** Span time covered by none of its jobs. */
  private def driverS(s: Span): Double = {
    val iv = s.jobIntervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.wallS - covered / 1000.0)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-layer metrics: per-call medians of each counter, per span name. */
  def layerMetrics(): Map[String, (Double, String)] = {
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    Layers.Spans.foreach { name =>
      val calls = spans.filter(s => s.name == name && s.endNs > 0).toSeq
      def m(f: Span => Double) = median(calls.map(f))
      out(s"$name.wall_s") = (m(_.wallS), "s")
      out(s"$name.driver_s") = (m(driverS), "s")
      out(s"$name.cpu_s") = (m(_.cpuNs / 1e9), "s")
      out(s"$name.gc_s") = (m(_.gcMs / 1e3), "s")
      out(s"$name.shuffle_mb") = (m(_.shuffleBytes / 1e6), "MB")
      out(s"$name.spill_mb") = (m(_.spillBytes / 1e6), "MB")
      out(s"$name.jobs") = (m(_.jobs.toDouble), "count")
    }
    def ratio(name: String, f: Span => Long): Double = {
      val calls = spans.filter(s => s.name == name && s.results > 0)
      val res = calls.map(_.results).sum
      if (res == 0) 0.0 else calls.map(f).sum.toDouble / res
    }
    def rows(ids: mutable.HashSet[Long])(s: Span): Long =
      s.outputRows.collect { case (id, n) if ids.contains(id) => n }.sum
    out("lsh.topk.cand_per_result") = (ratio("lsh.topk", rows(joinRowIds)), "ratio")
    out("lsh.rerank.cand_per_result") = (ratio("lsh.rerank", rows(joinRowIds)), "ratio")
    out("dedup.pairs.cand_per_pair") = (ratio("dedup.pairs", rows(joinRowIds)), "ratio")
    out("text.search.postings_per_result") = (ratio("text.search", rows(generateRowIds)), "ratio")
    Seq("lsh.topk", "text.search", "text.hybrid", "multimodal.triage").foreach { name =>
      out(s"$name.plan_nodes") =
        (median(spans.filter(s => s.name == name && s.endNs > 0).map(_.planNodes.toDouble).toSeq),
          "count")
    }
    out("spark.task_failures") = (totalTaskFailures.toDouble, "count")
    out.toMap
  }

  /** Every span with its parent and self time, for the run record. */
  def spanRecords(): Seq[Map[String, Any]] = {
    val childWall = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallS).sum }
    spans.filter(_.endNs > 0).toSeq.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "wall_s" -> s.wallS,
        "self_s" -> (s.wallS - childWall.getOrElse(s.id, 0.0)),
        "driver_s" -> driverS(s), "cpu_s" -> s.cpuNs / 1e9, "jobs" -> s.jobs,
        "shuffle_mb" -> s.shuffleBytes / 1e6, "results" -> s.results)
    }
  }
}

/** The per-layer metric names, in the order the traced run prints them. */
object Layers {
  val Spans: Seq[String] = Seq(
    "session.register",
    "lsh.build", "lsh.topk", "lsh.rerank", "lsh.write",
    "ann.build",
    "text.build", "text.search", "text.hybrid", "text.write",
    "dedup.pairs", "dedup.keep_best", "dedup.sig_build", "dedup.incremental", "dedup.write",
    "multimodal.triage")
}
