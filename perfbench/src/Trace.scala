package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a workload, leg, pass, query or pipeline stage,
  * a Spark job, or a streaming micro-batch. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      t0: Long, var t1: Long = 0L)

/** Counters one span (with its descendants) accumulated. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var shuffleWrite, shuffleRead, spill, output = 0L
  var runMs, gcMs, fetchWaitMs, maxTaskMs = 0L
  var batches = 0L
  var triggerMs, stateCommitMs = 0L
  var scanMs, sortMs, aggMs, hofNodes, exchanges, sorts = 0L
  var shuffleWriteNs, peakOpMem = 0L
  var cachePeak = 0L
  /** slowest stage of the span: (duration ms, task durations ms) */
  var slowest: (Long, Seq[Long]) = (-1L, Nil)

  /** Fold `c` in: sums, and maxima for the peaks. */
  def add(c: Counters): Unit = {
    jobs += c.jobs; stages += c.stages; tasks += c.tasks
    taskFailures += c.taskFailures
    shuffleWrite += c.shuffleWrite; shuffleRead += c.shuffleRead
    spill += c.spill; output += c.output
    runMs += c.runMs; gcMs += c.gcMs; fetchWaitMs += c.fetchWaitMs
    maxTaskMs = math.max(maxTaskMs, c.maxTaskMs)
    batches += c.batches; triggerMs += c.triggerMs
    stateCommitMs += c.stateCommitMs
    scanMs += c.scanMs; sortMs += c.sortMs; aggMs += c.aggMs
    hofNodes += c.hofNodes; exchanges += c.exchanges; sorts += c.sorts
    shuffleWriteNs += c.shuffleWriteNs
    peakOpMem = math.max(peakOpMem, c.peakOpMem)
    cachePeak = math.max(cachePeak, c.cachePeak)
    if (c.slowest._1 > slowest._1) slowest = c.slowest
  }
}

/** The traced run's instrumentation, installed from outside the library
  * through Spark's public listener interfaces: a SparkListener (jobs,
  * stages, tasks, block updates), a QueryExecutionListener (the final
  * AQE executed plan of every action, for per-operator SQL metrics) and
  * a StreamingQueryListener (micro-batches). Spans are kept in memory
  * and written out by [[json]] at exit. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val counters = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val blocks = mutable.Map[String, Long]()
  private var cached = 0L
  @volatile private var enabled = false

  private def current: Int = if (open.isEmpty) -1 else open.top.id
  private def ctr(span: Int): Counters =
    counters.getOrElseUpdate(span, new Counters)

  /** Time `body` as a span of `layer`; jobs it submits are attached. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val s = synchronized {
      val s = Span(spans.size, current, name, layer,
        System.currentTimeMillis())
      spans += s; open.push(s); s
    }
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      synchronized { s.t1 = System.currentTimeMillis(); open.pop() }
      sc.setLocalProperty(Prop, prev)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Prop))).map(_.toInt).getOrElse(current)
      Tracer.this.synchronized {
        val s = Span(spans.size, parent, s"job ${e.jobId}", "spark", e.time)
        spans += s
        e.stageIds.foreach(stageSpan(_) = s.id)
        ctr(s.id).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled)
      Tracer.this.synchronized {
        spans.find(_.name == s"job ${e.jobId}").foreach(_.t1 = e.time)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) Tracer.this.synchronized {
        val i = e.stageInfo
        stageSpan.get(i.stageId).foreach { sp =>
          val c = ctr(sp)
          c.stages += 1
          val d = i.completionTime.getOrElse(0L) -
            i.submissionTime.getOrElse(0L)
          if (d > c.slowest._1)
            c.slowest = (d, stageTasks.getOrElse(i.stageId, Nil).toSeq)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled)
      Tracer.this.synchronized {
        stageSpan.get(e.stageId).foreach { sp =>
          val c = ctr(sp)
          c.tasks += 1
          if (e.reason != org.apache.spark.Success) c.taskFailures += 1
          val m = e.taskMetrics
          if (m != null) {
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.diskBytesSpilled
            c.output += m.outputMetrics.bytesWritten
            c.runMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          }
          val d = e.taskInfo.duration
          c.maxTaskMs = math.max(c.maxTaskMs, d)
          stageTasks.getOrElseUpdate(e.stageId,
            mutable.ArrayBuffer[Long]()) += d
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (enabled) Tracer.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) {
          val bytes =
            if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
          cached += bytes - blocks.getOrElse(b.blockId.name, 0L)
          if (bytes == 0L) blocks.remove(b.blockId.name)
          else blocks(b.blockId.name) = bytes
          var sp = current
          while (sp >= 0) {
            ctr(sp).cachePeak = math.max(ctr(sp).cachePeak, cached)
            sp = spans(sp).parent
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (enabled) Tracer.this.synchronized {
        PlanMetrics.add(qe.executedPlan, ctr(current))
      }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) Tracer.this.synchronized {
        val p = e.progress
        val trig: Long = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
        spans += Span(spans.size, current, s"batch ${p.batchId}",
          "streaming", t0, t0 + trig)
        val c = ctr(current)
        c.batches += 1
        c.triggerMs += trig
        c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Tracing is switched on and off between passes, so one process can
    * time traced and untraced passes alike. */
  def on(): Unit = enabled = true
  def off(): Unit = {
    org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
    enabled = false
  }

  /** Counters of `span` and every descendant, summed. */
  def total(span: Int): Counters = synchronized {
    val kids = spans.groupBy(_.parent)
    val out = new Counters
    def go(id: Int): Unit = {
      counters.get(id).foreach(out.add)
      kids.getOrElse(id, Nil).foreach(s => go(s.id))
    }
    go(span)
    out
  }

  /** Self time per layer (seconds): each span's duration minus the part
    * of it its child spans cover, summed by layer. */
  def selfTimes: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.filter(_.t1 > 0).map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.t0, s.t0), math.min(k.t1, s.t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      s.layer -> (s.t1 - s.t0 - covered) / 1e3
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  def json: String = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}","t0":${s.t0},"t1":${s.t1}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Per-operator counters read from an executed (final AQE) plan. */
object PlanMetrics {
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Every node of the plan: through AQE wrappers, query stages,
    * subqueries and cached relations, each node once. */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = mutable.ArrayBuffer[SparkPlan]()
    def go(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case _ => p.children
      }
      (kids ++ p.subqueries).foreach(go)
    }
    go(root)
    out.toSeq
  }

  /** Per node: counters by operator kind, and whether it evaluates a
    * higher-order function. Such a node runs its lambdas interpreted:
    * HOFs are CodegenFallback, which keeps the node out of whole-stage
    * codegen, so no SQL metric times them; the count is what moves. */
  def add(plan: SparkPlan, c: Counters): Unit = nodes(plan).foreach { n =>
    if (n.expressions.exists(_.exists(_.isInstanceOf[HigherOrderFunction])))
      c.hofNodes += 1
    byKind(n, c)
  }

  private def byKind(n: SparkPlan, c: Counters): Unit = n match {
    case s: FileSourceScanExec => c.scanMs += metric(s, "scanTime")
    case s: SortExec =>
      c.sorts += 1
      c.sortMs += metric(s, "sortTime")
      c.peakOpMem = math.max(c.peakOpMem, metric(s, "peakMemory"))
    case e: ShuffleExchangeLike =>
      c.exchanges += 1
      c.shuffleWriteNs += metric(e, "shuffleWriteTime")
    case p =>
      c.aggMs += metric(p, "aggTime")
      c.peakOpMem = math.max(c.peakOpMem, metric(p, "peakMemory"))
  }
}
