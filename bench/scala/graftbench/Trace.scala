package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String = value(mutable.LinkedHashMap(fields: _*))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

/** Spans of one benchmark run: name, start, end, the span that caused
  * it, and the run id they all share. Kept in memory; written out at the
  * end of the run.
  */
final class Tracer(val runId: String) {
  private final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long, attrs: collection.Map[String, Any])
  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var lastId = 0

  def newId(): Int = { lastId += 1; lastId }

  def record(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
      attrs: collection.Map[String, Any] = Map.empty): Unit =
    spans += Span(id, parent, name, startNs - origin, endNs - origin, attrs)

  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj("kind" -> "span", "run" -> runId, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "attrs" -> s.attrs)
  }
}

/** Task-level counters of everything one span's jobs did. */
final class TagStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskMs = ArrayBuffer.empty[Long]

  def add(o: TagStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; taskMs ++= o.taskMs
  }
  def maxTaskS: Double = if (taskMs.isEmpty) 0.0 else taskMs.max / 1000.0
  /** Slowest task over the median task; 1 when there is nothing to skew. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val med = Stats.median(taskMs.toSeq.map(_.toDouble))
      if (med <= 0) taskMs.max.toDouble.max(1.0) else taskMs.max / med
    }
}

/** SparkListener that attributes jobs, stages and tasks to the span whose
  * id the submitting thread carried in the [[Collector.TagKey]] local
  * property. Callbacks run on the listener-bus thread; readers drain the
  * bus first (see ListenerBusAccess) and then [[take]] a tag's counters.
  */
final class Collector extends SparkListener {
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val byTag = mutable.HashMap.empty[String, TagStats]

  private def st(tag: String): TagStats = byTag.getOrElseUpdate(tag, new TagStats)
  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Collector.TagKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties).getOrElse("")
    st(tag).jobs += 1
    e.stageInfos.foreach(si => stageTag(si.stageId) = tag)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val tag = tagOf(e.properties)
      .getOrElse(stageTag.getOrElse(e.stageInfo.stageId, ""))
    stageTag(e.stageInfo.stageId) = tag
    st(tag).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = st(stageTag.getOrElse(e.stageId, ""))
    s.tasks += 1
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def take(tag: String): TagStats = synchronized(byTag.remove(tag).getOrElse(new TagStats))
}

object Collector {
  val TagKey = "graftbench.span"
}

/** Counts the Exchanges of every query plan that finishes, in its final
  * (adaptive) form. Reused exchanges are not counted: they run once.
  */
final class PlanCollector extends QueryExecutionListener {
  private val done = ArrayBuffer.empty[Int]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(done += PlanCollector.exchanges(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Exchanges of the plans that finished since the last call. */
  def takeExchanges(): Int = synchronized {
    val n = done.sum
    done.clear()
    n
  }
}

object PlanCollector {
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}
