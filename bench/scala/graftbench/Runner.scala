package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.sql.SparkSession

import graft.operators.MemoStats

/** Tracing for one run: the job/stage/task collector, the final-plan
  * Exchange counter and the spans. Registered only for traced passes and
  * the layer probes; end-to-end passes run without it.
  */
final class Tracing(spark: SparkSession, val tracer: Tracer) {
  private val sc = spark.sparkContext
  val collector = new Collector
  val plans = new PlanCollector

  def open(): Unit = {
    sc.addSparkListener(collector)
    spark.listenerManager.register(plans)
  }

  def close(): Unit = {
    sc.removeSparkListener(collector)
    spark.listenerManager.unregister(plans)
  }

  /** Runs `body` under a new span whose id tags every job it starts, then
    * waits for the listener bus and returns the span's task counters.
    */
  def tagged[A](name: String, parent: Int = 0)(body: => A): (A, TagStats, Double) = {
    val id = tracer.newId()
    sc.setLocalProperty(Collector.TagKey, id.toString)
    val t0 = System.nanoTime()
    val a = try body finally sc.setLocalProperty(Collector.TagKey, null)
    val t1 = System.nanoTime()
    ListenerBusAccess.drain(sc)
    val s = collector.take(id.toString)
    tracer.record(id, parent, name, t0, t1, Map("jobs" -> s.jobs, "stages" -> s.stages,
      "tasks" -> s.tasks, "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill))
    (a, s, (t1 - t0) / 1e9)
  }
}

/** One operation's run. Phase times exclude the output check. */
final case class OpRun(name: String, constructS: Double, planS: Double, execS: Double,
    memoMissS: Double, checked: Option[Checked], error: Option[String],
    construct: TagStats, exec: TagStats, exchanges: Int) {
  def wallS: Double = constructS + planS + execS
  def failed: Boolean = error.nonEmpty
}

final case class PassRun(ops: Seq[OpRun], clockS: Double, gcS: Double, untagged: TagStats) {
  /** The pass's wall time: its operations, without the output checks. */
  def wallS: Double = ops.map(_.wallS).sum
  def totals: TagStats = {
    val t = new TagStats
    ops.foreach { o => t.add(o.construct); t.add(o.exec) }
    t.add(untagged)
    t
  }
}

object Runner {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def runOp(spark: SparkSession, op: Op, tr: Option[Tracing], parent: Int): OpRun = {
    val opSpan = tr.map(_.tracer.newId()).getOrElse(0)
    val opStart = System.nanoTime()
    var times = Vector.empty[Double]
    var stats = Vector.empty[TagStats]
    var exchanges = 0
    def phase[A](name: String)(body: => A): A = tr match {
      case None =>
        val t0 = System.nanoTime()
        val a = body
        times :+= secs(t0)
        a
      case Some(t) =>
        val (a, s, sec) = t.tagged(name, opSpan)(body)
        times :+= sec
        stats :+= s
        a
    }
    var memo = 0.0
    val outcome: Either[String, Checked] =
      try {
        val df = phase("construct")(op.construct(spark))
        memo = MemoStats.drain().values.sum
        tr.foreach(_.plans.takeExchanges())
        phase("plan")(df.queryExecution.executedPlan)
        val result = phase("exec")(op.execute(df))
        exchanges = tr.map(_.plans.takeExchanges()).getOrElse(0)
        val c = op.check(result)
        c.error.toLeft(c)
      } catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val padded = times.padTo(3, 0.0)
    def st(i: Int) = stats.lift(i).getOrElse(new TagStats)
    val execStats = { val s = new TagStats; s.add(st(1)); s.add(st(2)); s }
    val run = OpRun(op.name, padded(0), padded(1), padded(2), memo,
      outcome.toOption, outcome.left.toOption, st(0), execStats, exchanges)
    tr.foreach { t =>
      t.tracer.record(opSpan, parent, op.name, opStart, System.nanoTime(), Map(
        "construct_s" -> run.constructS, "plan_s" -> run.planS, "exec_s" -> run.execS,
        "error" -> run.error))
    }
    outcome.left.foreach(e => System.err.println(s"[graftbench] ${op.name} FAILED: $e"))
    run
  }

  def runPass(spark: SparkSession, ops: Seq[Op], tr: Option[Tracing], label: String): PassRun = {
    val passSpan = tr.map(_.tracer.newId()).getOrElse(0)
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val runs = ops.map(op => runOp(spark, op, tr, passSpan))
    val clock = secs(t0)
    val untagged = tr.map { t => ListenerBusAccess.drain(spark.sparkContext); t.collector.take("") }
      .getOrElse(new TagStats)
    val pass = PassRun(runs, clock, gcSeconds() - gc0, untagged)
    tr.foreach(_.tracer.record(passSpan, 0, label, t0, t0 + (clock * 1e9).toLong,
      Map("wall_s" -> pass.wallS)))
    pass
  }
}
