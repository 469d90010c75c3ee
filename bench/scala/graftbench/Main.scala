package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The graft benchmark: one workload per run, on `local[N]` with N = the
  * host's processors and N shuffle partitions.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --bench <bench dir> --out <scratch dir> [--commit <id>] [--source <digest>]
  *
  * Set-up: session start, three repetitions of the input warm-read on a
  * fresh session (their median counts), then the workload's warm-up
  * passes, which also fill the gate memos. Untraced runs then make
  * `--seconds` / nominal pass time passes (four at least) and report
  * end-to-end metrics. Traced runs alternate untraced and traced passes
  * for about half that time, run the layer probes and report per-layer
  * metrics. The last stdout line is the result object; the spans and
  * per-operation records go to a JSONL file under `--out`.
  */
object Main {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(out: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Files.createDirectories(out.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  /** The per-operation record of a traced pass. */
  def record(runId: String, r: OpRun, memoMissS: Double): String = {
    val tasks = (r.construct.taskMs ++ r.exec.taskMs).map(_.toDouble).toSeq
    Json.obj("kind" -> "op", "run" -> runId, "op" -> r.name,
      "construct_s" -> r.constructS, "plan_s" -> r.planS, "exec_s" -> r.execS,
      "eager_jobs" -> r.construct.jobs, "exchanges" -> r.exchanges,
      "shuffle_read_bytes" -> (r.construct.shuffleRead + r.exec.shuffleRead),
      "shuffle_write_bytes" -> (r.construct.shuffleWrite + r.exec.shuffleWrite),
      "spill_bytes" -> (r.construct.spill + r.exec.spill),
      "max_task_s" -> (if (tasks.isEmpty) 0.0 else tasks.max / 1000.0),
      "median_task_s" -> (if (tasks.isEmpty) 0.0 else Stats.median(tasks) / 1000.0),
      "memo_miss_s" -> memoMissS, "digest" -> r.checked.map(_.digest), "error" -> r.error)
  }

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  /** Per-layer metrics of the traced passes (medians over passes). */
  private def layerMetrics(tp: Seq[PassRun], plainWall: Double, n: Int): Seq[(String, Double, String)] = {
    def med(f: PassRun => Double): Double = Stats.median(tp.map(f))
    Seq(
      ("ops.construct_s", med(_.ops.map(_.constructS).sum), "s"),
      ("ops.plan_s", med(_.ops.map(_.planS).sum), "s"),
      ("ops.exec_s", med(_.ops.map(_.execS).sum), "s"),
      ("ops.eager_jobs", med(_.ops.map(_.construct.jobs).sum.toDouble), "count"),
      ("ops.exchanges", med(_.ops.map(_.exchanges).sum.toDouble), "count"),
      ("ops.max_task_s", med(_.ops.map(_.exec.maxTaskS).max), "s"),
      ("ops.task_skew", med(_.ops.map(_.exec.skew).max), "ratio"),
      ("spark.jobs", med(_.totals.jobs.toDouble), "count"),
      ("spark.stages", med(_.totals.stages.toDouble), "count"),
      ("spark.tasks", med(_.totals.tasks.toDouble), "count"),
      ("spark.busy_frac", med(p => p.totals.runMs / 1000.0 / (p.wallS * n)), "ratio"),
      ("spark.shuffle_read_bytes", med(_.totals.shuffleRead.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", med(_.totals.shuffleWrite.toDouble), "bytes"),
      ("spark.spill_bytes", med(_.totals.spill.toDouble), "bytes"),
      ("spark.gc_s", med(_.gcS), "s"),
      ("trace.overhead_frac", med(_.wallS) / plainWall - 1, "ratio"))
  }

  def main(args: Array[String]): Unit = {
    val jvmToMainS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val bootStart = System.nanoTime()
    val o = parse(args)
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val bench = Paths.get(o("bench")).toAbsolutePath
    val out = Files.createDirectories(Paths.get(o("out")).toAbsolutePath)
    require(Workloads.names.contains(name), s"unknown workload $name")
    val n = Runtime.getRuntime.availableProcessors()

    var spark = session(out)
    val bootS = jvmToMainS + secs(bootStart)
    val wl = Workloads(name, seed, bench, out)
    val prepS = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark = spark.newSession()
      wl.prepare(spark)
      secs(t0)
    })
    val warmStart = System.nanoTime()
    val warmups = (1 to wl.warmupPasses).map(i => Runner.runPass(spark, wl.ops, None, s"warmup $i"))
    val warmS = secs(warmStart)
    val setupS = bootS + prepS + warmS

    val runId = java.util.UUID.randomUUID().toString
    val tracer = new Tracer(runId)
    var summary = ListMap[String, Any]("boot_s" -> bootS, "prep_s" -> prepS, "warmup_s" -> warmS)
    val (passes, tracedPasses, metrics) =
      if (!traced) {
        val count = math.max(4, math.ceil(seconds / wl.nominalPassS).toInt)
        val ps = (1 to count).map(i => Runner.runPass(spark, wl.ops, None, s"pass $i"))
        val wall = Stats.median(ps.map(_.wallS))
        val points = Stats.median(ps.map(_.ops.flatMap(_.checked).map(_.points).sum.toDouble))
        (ps, Nil, Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wall, "s"),
          ("points_per_s", points / wall, "1/s")))
      } else {
        // Untraced and traced passes alternate, untraced first, so JIT
        // warm-up still under way biases the overhead ratio low.
        val tracing = new Tracing(spark, tracer)
        val pairs = math.max(1, math.round(seconds / 4 / wl.nominalPassS).toInt)
        val (plain, tp) = (1 to pairs).map { k =>
          val p = Runner.runPass(spark, wl.ops, None, s"pass $k")
          tracing.open()
          try (p, Runner.runPass(spark, wl.ops, Some(tracing), s"traced pass $k"))
          finally tracing.close()
        }.unzip
        val probeStart = System.nanoTime()
        tracing.open()
        val probes =
          try Probes.rng(seed) ++ Probes.kernels(seed) ++ Probes.generation(spark, seed) ++
            Probes.sinks(spark, seed, out, tracing)
          finally tracing.close()
        val plainWall = Stats.median(plain.map(_.wallS))
        // construct + plan + exec of the traced passes against the
        // untraced wall time: they agree within the tracing overhead
        summary ++= Seq("layer_sum_s" -> Stats.median(tp.map(_.wallS)),
          "untraced_wall_s" -> plainWall, "probes_s" -> secs(probeStart))
        (plain ++ tp, tp, probes ++ layerMetrics(tp, plainWall, n) :+
          (("jvm.peak_rss_mb", peakRssMb(), "MB")))
      }

    val allOps = (warmups ++ passes).flatMap(_.ops)
    val attempted = allOps.size
    val failed = allOps.count(_.failed)
    val stamp = ListMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> traced, "run_id" -> runId,
      "commit" -> o.getOrElse("commit", "unknown"), "source_digest" -> o.getOrElse("source", "unknown"),
      "nproc" -> n, "master" -> spark.sparkContext.master,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "passes" -> passes.size) ++ wl.stamp
    summary ++= Seq(
      "fail_ratio" -> failed.toDouble / attempted, "attempted" -> attempted, "failed" -> failed,
      "wall_s_per_pass" -> passes.map(_.wallS),
      "digests" -> ListMap(passes.last.ops.map(r => r.name -> r.checked.map(_.digest)): _*))

    val memoMiss = warmups.flatMap(_.ops).groupMapReduce(_.name)(_.memoMissS)(_ + _)
    val records = tracedPasses.lastOption.toSeq.flatMap(_.ops)
      .map(r => record(runId, r, memoMiss(r.name)))
    val metricJson = ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*)
    val traceFile = Files.createDirectories(out.resolve("trace"))
      .resolve(s"$name-seed$seed-${if (traced) "traced" else "plain"}-$runId.jsonl")
    Files.write(traceFile, (Json.obj("kind" -> "stamp", "stamp" -> stamp) +: tracer.jsonLines ++:
      records :+ Json.obj("kind" -> "metrics", "metrics" -> metricJson)).asJava)

    println(Json.obj("stamp" -> stamp))
    println(Json.obj("summary" -> summary, "trace_file" -> out.relativize(traceFile).toString))
    spark.stop()
    println(Json.obj("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricJson))
  }
}
