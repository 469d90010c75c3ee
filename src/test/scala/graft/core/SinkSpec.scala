package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Distributed sinks: per-model partitioned text (reference CSV format per
  * line) and partitioned parquet (array type preserved).
  */
class SinkSpec extends SparkTestBase {

  private val specs = Seq(
    SimulationSpec(0, "coin_sequence", 30, 5, Seq(0.5), Nil, 42),
    SimulationSpec(1, "random_walk", 20, 4, Seq(0.5), Nil, 43))

  test("writePartitionedText: one dir per model, one CSV line per trace") {
    val out = java.nio.file.Files.createTempDirectory("graft-ptext").toString
    val traces = new MCBattery(spark).simulate(specs)
    TraceSink.writePartitionedText(traces, out)
    val m0 = spark.read.text(s"$out/model_id=0")
    val m1 = spark.read.text(s"$out/model_id=1")
    assert(m0.count() == 30 && m1.count() == 20)
    assert(m0.head().getString(0).split(",").length == 5)
    assert(m1.head().getString(0).split(",").length == 4)
    // overwrite semantics (utils.py:19 "w" mode)
    TraceSink.writePartitionedText(traces, out)
    assert(spark.read.text(s"$out/model_id=0").count() == 30)
  }

  test("writeReferenceCsv edge cases: rowless spec -> empty file; shared modelId -> both paths served") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv-edge")
    val traces = new MCBattery(spark).simulate(
      Seq(SimulationSpec(0, "coin_sequence", 4, 3, Seq(0.5), Nil, 42)))
    // spec 9 has no rows in traces; specs 0a/0b share modelId 0 with
    // different output paths — both degraded gracefully in the per-spec
    // implementation and must keep doing so in the one-job form
    val outSpecs = Seq(
      SimulationSpec(0, "coin_sequence", 4, 3, Seq(0.5), Nil, 42, Some(s"$tmp/a.csv")),
      SimulationSpec(0, "coin_sequence", 4, 3, Seq(0.5), Nil, 42, Some(s"$tmp/b.csv")),
      SimulationSpec(9, "coin_sequence", 1, 1, Seq(0.5), Nil, 1, Some(s"$tmp/none.csv")))
    TraceSink.writeReferenceCsv(traces, outSpecs)
    val a = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$tmp/a.csv"))
    val b = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$tmp/b.csv"))
    assert(a.size == 4 && a == b)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(s"$tmp/none.csv")) == 0)
  }

  private def csvSpecs(dir: java.nio.file.Path, tag: String) = specs.map(s =>
    s.copy(outputPath = Some(dir.resolve(s"$tag-${s.modelId}.csv").toString)))

  private def bytes(s: SimulationSpec): Seq[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s.resolvedOutputPath)).toSeq

  test("writeReferenceCsv: unordered input takes the sorted fallback and still writes sim-ordered files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-order")
    val traces = new MCBattery(spark).simulate(specs)
    val direct = csvSpecs(dir, "direct")
    val shuffled = csvSpecs(dir, "shuffled")
    val doubled = csvSpecs(dir, "doubled")
    TraceSink.writeReferenceCsv(traces, direct)
    TraceSink.writeReferenceCsv(traces.repartition(7), shuffled)
    TraceSink.writeReferenceCsv(traces.union(traces).repartition(5), doubled)
    direct.zip(shuffled).foreach { case (d, s) => assert(bytes(s) == bytes(d), s.resolvedOutputPath) }
    direct.zip(doubled).foreach { case (d, s) =>
      val once = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(d.resolvedOutputPath))
      val twice = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s.resolvedOutputPath))
      assert(once.size == d.numberSimulations)
      val expected = (0 until once.size).flatMap(i => Seq(once.get(i), once.get(i)))
      assert(twice.toArray.toSeq == expected, s.resolvedOutputPath)
    }
  }

  test("writeReferenceCsv output does not depend on the partition count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-parts")
    val battery = new MCBattery(spark)
    val one = csvSpecs(dir, "p1")
    val many = csvSpecs(dir, "p13")
    TraceSink.writeReferenceCsv(battery.simulate(specs, Some(1)), one)
    TraceSink.writeReferenceCsv(battery.simulate(specs, Some(13)), many)
    one.zip(many).foreach { case (a, b) =>
      assert(bytes(a).nonEmpty && bytes(a) == bytes(b), b.resolvedOutputPath)
    }
  }

  test("writeReferenceCsv removes its temp dir when the write fails") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-fail")
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def sinkDirs(): Set[String] = {
      val listing = java.nio.file.Files.list(tmpRoot)
      try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("graft-sink[0-9]+")).toSet
      finally listing.close()
    }
    val before = sinkDirs()
    val broken = new MCBattery(spark).simulate(specs)
      .withColumn("trace", when(col("sim_id") === 3, raise_error(lit("boom"))).otherwise(col("trace")))
    intercept[Exception](TraceSink.writeReferenceCsv(broken, csvSpecs(dir, "broken")))
    assert((sinkDirs() -- before).isEmpty)
  }

  test("writeParquet round-trips the array column and partitions by model") {
    val out = java.nio.file.Files.createTempDirectory("graft-pparq").toString
    val traces = new MCBattery(spark).simulate(specs)
    TraceSink.writeParquet(traces, out)
    val back = spark.read.parquet(out)
    assert(back.count() == 50)
    val sizes = back.groupBy("model_id").agg(min(size(col("trace"))), max(size(col("trace"))))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(sizes == Map(0 -> (5, 5), 1 -> (4, 4)))
    // traces must be byte-identical through the round trip
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select(col("model_id"), col("sim_id"), concat_ws(",", col("trace")))
        .orderBy("model_id", "sim_id").collect().map(_.toSeq).toSeq
    assert(dump(back) == dump(traces))
  }
}
