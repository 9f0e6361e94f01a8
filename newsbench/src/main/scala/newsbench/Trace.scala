package newsbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is -1 for an operation's root
  * span; every span of one operation shares `op`.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Nanoseconds of [s, e) covered by the union of `ivs`. */
  def covered(s: Long, e: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = s
    ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { total += b - from; reach = b }
      }
    total
  }

  /** Self time per span: its duration minus the part of its interval
    * its children cover. Over one operation the self times sum to the
    * root's duration when children nest inside their parents.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.durNs - covered(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))))
    }.toMap
  }
}

/** Spark-side work attributed to one span. */
final class Counters {
  var cpuNs, gcMs, inputBytes, shuffleBytes, spillBytes, outputBytes = 0L
  var jobs, tasks, interpreted = 0L
  var planMs = 0.0
}

/** Attributes Spark work to spans. Every job, stage and task carries the
  * span id in the `newsbench.span` local property; query plans are
  * matched to spans through their SQL execution id. [[take]] reads them
  * after `ListenerBridge.drain`, which waits for the listener bus to
  * deliver every posted event.
  */
final class SpanListener(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val counters = mutable.HashMap.empty[Int, Counters]
  /** (execution id, planning ms, interpreted expression nodes). */
  private val plans = mutable.ArrayBuffer.empty[(Long, Double, Int)]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
  private def at(span: Int): Counters =
    counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, sp))
    Option(e.properties).flatMap(p =>
        Option(p.getProperty(SQLExecutionIdKey)))
      .foreach(x => execSpan.putIfAbsent(x.toLong, sp))
    at(sp).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrDefault(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val n = SpanListener.interpretedNodes(qe.executedPlan)
    synchronized { plans += ((qe.id, ms, n)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Remove and return the counters of every span seen since the last
    * call (-1 holds work outside any span). A plan with no job of its
    * own lands on `fallback`.
    */
  def take(fallback: Int): Map[Int, Counters] = {
    ListenerBridge.drain(spark.sparkContext)
    synchronized {
      plans.foreach { case (id, ms, n) =>
        val c = at(Option(execSpan.get(id)).map(_.intValue).getOrElse(fallback))
        c.planMs += ms
        c.interpreted += n
      }
      plans.clear()
      val out = counters.toMap
      counters.clear()
      out
    }
  }

  private val SQLExecutionIdKey = "spark.sql.execution.id"
}

object SpanListener {
  def install(spark: SparkSession): SpanListener = {
    val l = new SpanListener(spark)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Expression nodes that run interpreted — higher-order functions and
    * `CodegenFallback` expressions — in the plan that actually ran,
    * adaptive stages and subqueries included.
    */
  def interpretedNodes(plan: SparkPlan): Int = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    nodes(plan).map(_.expressions.map(_.collect {
      case e if e.isInstanceOf[CodegenFallback] ||
        e.isInstanceOf[HigherOrderFunction] => e
    }.size).sum).sum
  }
}

/** Span recorder. Off, it runs every body untouched. On, each span
  * forces nothing by itself: callers force a layer's output inside its
  * span (see [[Pipeline.layer]]). Spans are kept in memory; the
  * stream's sink opens spans on the stream thread, under the
  * operation's root span.
  */
final class Tracer(sc: SparkContext) {
  @volatile var on: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0
  @volatile private var rootSpan = -1
  @volatile private var opNo = -1
  @volatile private var lastRoot = -1

  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Run one operation under a root span named "op". */
  def op[T](no: Int)(body: => T): T =
    if (!on) body
    else {
      opNo = no
      val r = open("op", -1, root = true)(body)
      rootSpan = -1
      r
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else open(name, stack.get.headOption.getOrElse(rootSpan),
      root = false)(body)

  private def open[T](name: String, parent: Int, root: Boolean)
                     (body: => T): T = {
    val id = newId()
    if (root) { rootSpan = id; lastRoot = id }
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      sc.setLocalProperty(Tracer.SpanKey, prev)
      synchronized { spans += Span(id, name, parent, opNo, t0, t1) }
    }
  }

  /** Root span id of the latest operation. */
  def lastOp: Int = lastRoot

  /** Remove and return every span recorded so far. */
  def take(): Seq[Span] = synchronized {
    val out = spans.toList
    spans.clear()
    out
  }
}

object Tracer {
  val SpanKey = "newsbench.span"
}
