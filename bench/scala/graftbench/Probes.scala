package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{McGenHelper, MCBattery, RngFamily, Rngs, TraceSink}

/** Layer probes of the Monte Carlo core, run identically in every traced
  * run so each per-layer metric is measured on every workload: single-
  * thread RNG and kernel loops on the driver, per-family generation to the
  * `noop` sink, and the demo battery through each text sink.
  */
object Probes {
  @volatile private var blackhole = 0.0

  /** Nanoseconds per call of `op`: after 50 ms of warm-up calls, batches
    * grow until one takes at least 5 ms, then five such batches are timed
    * and the median is reported.
    */
  def nsPerCall(op: Long => Double): Double = {
    def batch(k: Long): Long = {
      var acc = 0.0
      val t0 = System.nanoTime()
      var i = 0L
      while (i < k) { acc += op(i); i += 1 }
      val t = System.nanoTime() - t0
      blackhole += acc
      t
    }
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 50000000L) batch(64)
    var k = 64L
    while (batch(k) < 5000000L) k *= 2
    Stats.median((1 to 5).map(_ => batch(k).toDouble / k))
  }

  private def key(f: RngFamily): String = f.name.toLowerCase

  /** `rng.<f>.init_ns`: one `Rngs.stream` construction and its first draw.
    * `rng.<f>.draw_ns`: one further `next()` on a live stream.
    */
  def rng(seed: Long): Seq[(String, Double, String)] = Workloads.families.flatMap { f =>
    val init = nsPerCall(i => Rngs.stream(f.id, seed, 0L, i).next())
    val s = Rngs.stream(f.id, seed, 0L, 0L)
    val draw = nsPerCall(_ => s.next())
    Seq((s"rng.${key(f)}.init_ns", init, "ns"), (s"rng.${key(f)}.draw_ns", draw, "ns"))
  }

  /** One native trace kernel call (PCG64) at the `mc_estimate` shapes. */
  def kernels(seed: Long): Seq[(String, Double, String)] = {
    val pcg = RngFamily.PCG64.id
    val none = Array.empty[UTF8String]
    val dt = 1.0 / 252
    val (drift, vol) = ((0.05 - 0.2 * 0.2 / 2) * dt, 0.2 * math.sqrt(dt))
    Seq(
      ("kernel.coin.trace_ns",
        nsPerCall(i => McGenHelper.coinTrace(seed, 0L, i, 16, 0.5, none, pcg).numElements()), "ns"),
      ("kernel.walk.trace_ns",
        nsPerCall(i => McGenHelper.walkTrace(seed, 1L, i, 64, 0.55, 0L, pcg).numElements()), "ns"),
      ("kernel.gbm.trace_ns",
        nsPerCall(i => McGenHelper.gbmTrace(seed, 2L, i, 64, drift, vol, 100.0, pcg).numElements()), "ns"))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; secs(t0) }

  private def medianTime(reps: Int)(body: => Unit): Double = Stats.median((1 to reps).map(_ => time(body)))

  /** `gen.<f>.points_per_s`: one family's `mc_estimate` battery to `noop`. */
  def generation(spark: SparkSession, seed: Long): Seq[(String, Double, String)] =
    Workloads.families.map { f =>
      val specs = new EstimateOp(f, seed).specs
      val t = time {
        new MCBattery(spark, f, Some(seed)).simulate(specs)
          .write.format("noop").mode("overwrite").save()
      }
      (s"gen.${key(f)}.points_per_s", specs.map(s => s.numberSimulations * s.numberPoints).sum / t, "1/s")
    }

  /** The demo battery: construct, plan, generation alone, and each text
    * sink, once each (the construct and plan medians of three). Sink times
    * are the sink pass minus generation alone.
    */
  def sinks(spark: SparkSession, seed: Long, out: Path, tr: Tracing): Seq[(String, Double, String)] = {
    val op = new DemoCsvOp(seed, Files.createDirectories(out.resolve("probe-csv")))
    def battery() = new MCBattery(spark, RngFamily.Philox, Some(seed)).simulate(op.specs)
    val construct = medianTime(3)(battery())
    val plan = Stats.median((1 to 3).map { _ =>
      val df = battery(); val t0 = System.nanoTime(); df.queryExecution.executedPlan; secs(t0)
    })
    val gen = time(battery().write.format("noop").mode("overwrite").save())
    val (_, stats, csv) = tr.tagged("probe.reference_csv")(TraceSink.writeReferenceCsv(battery(), op.specs))
    val checked = op.check(())
    require(checked.error.isEmpty, s"sink probe output is wrong: ${checked.error.get}")
    val outputBytes = op.specs.map(s => Files.size(java.nio.file.Paths.get(s.resolvedOutputPath))).sum
    val text = time(TraceSink.writePartitionedText(battery(), out.resolve("probe-text").toString))
    Seq(
      ("core.construct_s", construct, "s"),
      ("core.plan_s", plan, "s"),
      ("gen.demo_s", gen, "s"),
      ("sink.reference_csv_s", csv - gen, "s"),
      ("sink.partitioned_text_s", text - gen, "s"),
      ("sink.shuffle_write_bytes", stats.shuffleWrite.toDouble, "bytes"),
      ("sink.spill_bytes", stats.spill.toDouble, "bytes"),
      ("sink.tasks", stats.tasks.toDouble, "count"),
      ("sink.max_task_s", stats.maxTaskS, "s"),
      ("sink.task_skew", stats.skew, "ratio"),
      ("sink.output_bytes", outputBytes.toDouble, "bytes"))
  }
}
