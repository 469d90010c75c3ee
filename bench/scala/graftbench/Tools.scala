package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** Records the gate digest table for the benchmark inputs and a traced
  * per-gate record of every listed gate.
  *
  *   graftbench.Record --bench <bench dir> --out <scratch dir>
  *
  * Each gate's digest is taken twice and must agree. The table lines
  * (`fingerprint<TAB>gate<TAB>digest`) go to stdout, for
  * `gate_digests.tsv` after the gates have passed their oracles on the
  * same inputs. The records go to `<out>/gate_records.jsonl`.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val o = Main.parse(args)
    val bench = Paths.get(o("bench")).toAbsolutePath
    val out = Files.createDirectories(Paths.get(o("out")).toAbsolutePath)
    val dataDir = bench.resolve("data").resolve("sf0.01")
    val fp = Checks.fingerprint(dataDir)
    val spark = Main.session(out)
    val gates = Workloads.lazyCatalog ++ Workloads.eagerCatalog
    val digests = gates.map { g =>
      val Seq(a, b) = (1 to 2).map(_ =>
        Checks.digestOf(Checks.observeDigest(graft.SparkEntry.queries(g)(spark, dataDir.toString))))
      require(a == b, s"$g: digest is not stable across runs ($a vs $b)")
      g -> a
    }
    val ops = digests.map { case (g, d) => new GateOp(g, dataDir.toString, d) }
    graft.operators.MemoStats.drain()
    val warm = Runner.runPass(spark, ops, None, "warmup")
    val runId = java.util.UUID.randomUUID().toString
    val tracing = new Tracing(spark, new Tracer(runId))
    tracing.open()
    val pass = try Runner.runPass(spark, ops, Some(tracing), "traced pass") finally tracing.close()
    val memo = warm.ops.map(r => r.name -> r.memoMissS).toMap
    Files.write(out.resolve("gate_records.jsonl"),
      pass.ops.map(r => Main.record(runId, r, memo(r.name))).asJava)
    spark.stop()
    val failed = (warm.ops ++ pass.ops).filter(_.failed).map(_.name).distinct
    require(failed.isEmpty, s"gates failed: ${failed.mkString(", ")}")
    digests.foreach { case (g, d) => println(s"$fp\t$g\t$d") }
  }
}

/** Shows that the output checks catch broken outputs: a truncated
  * reference CSV and a perturbed gate row must each count as a failure,
  * and inputs without a recorded digest table must stop a gate run.
  *
  *   graftbench.SelfTest --bench <bench dir> --out <scratch dir>
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val o = Main.parse(args)
    val bench = Paths.get(o("bench")).toAbsolutePath
    val out = Files.createDirectories(Paths.get(o("out")).toAbsolutePath.resolve("selftest"))
    val spark = Main.session(out)

    val demo = new DemoCsvOp(7L, Files.createDirectories(out.resolve("csv")))
    demo.execute(demo.construct(spark))
    expect("reference CSV passes its check", demo.check(()).error.isEmpty)
    val file = Paths.get(demo.specs.head.resolvedOutputPath)
    val bytes = Files.readAllBytes(file)
    Files.write(file, bytes.take(bytes.length - 10))
    expect("a truncated reference CSV fails its check", demo.check(()).error.nonEmpty)
    val lines = Files.readAllLines(Paths.get(demo.specs.last.resolvedOutputPath))
    Files.write(file, bytes)
    Files.write(Paths.get(demo.specs.last.resolvedOutputPath), lines.asScala.drop(1).asJava)
    expect("a reference CSV missing a line fails its check", demo.check(()).error.nonEmpty)

    val wl = Workloads.gateWorkload("gates_eager", Seq("ev_rfm"), 0L, bench)
    val gate = wl.ops.head
    val df = gate.construct(spark)
    expect("a gate result passes its digest check", gate.check(gate.execute(df)).error.isEmpty)
    val rows = df.collect()
    val i = df.schema.fields.indexWhere(f => Set("long", "double", "string")(f.dataType.typeName))
    val perturbed = rows.head.toSeq.updated(i, rows.head.get(i) match {
      case v: Long => v + 1
      case v: Double => v + 1e-9
      case v: String => v + "x"
      case null => "x"
    })
    val bad = spark.createDataFrame((Row.fromSeq(perturbed) +: rows.tail.toSeq).asJava, df.schema)
    expect("a gate result with one perturbed row fails its digest check",
      gate.check(gate.execute(bad)).error.nonEmpty)

    val foreign = Files.createDirectories(out.resolve("foreign").resolve("data").resolve("sf0.01"))
    Files.write(foreign.resolve("t.parquet"), "other inputs".getBytes("UTF-8"))
    Files.write(out.resolve("foreign").resolve("gate_digests.tsv"),
      Files.readAllLines(bench.resolve("gate_digests.tsv")))
    val refused =
      try { Workloads.gateWorkload("gates_lazy", Workloads.lazyGates, 0L, out.resolve("foreign")); false }
      catch { case _: IllegalStateException => true }
    expect("inputs whose fingerprint has no digest table stop the run", refused)

    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
