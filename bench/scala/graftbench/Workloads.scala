package graftbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{MCBattery, RngFamily, SimulationSpec, TraceSink}

/** What an output check found: the work done (trace points for the Monte
  * Carlo batteries, result rows for a gate), a digest of the output, and
  * the reason the output is wrong, if it is.
  */
final case class Checked(points: Long, digest: String, error: Option[String])

/** One operation of a pass: a battery pass or a gate run. The benchmark
  * times `construct` (building the DataFrame, including any eager jobs),
  * the plan (`queryExecution.executedPlan`) and `execute` separately;
  * `check` runs outside the timed region.
  */
trait Op {
  def name: String
  def construct(spark: SparkSession): DataFrame
  def execute(df: DataFrame): Any
  def check(result: Any): Checked
}

/** A workload: the operations of one pass, in pass order, the input
  * warm-read its set-up repeats, and the pass time it was sized by on the
  * 4-core reference host. A run makes a fixed number of passes, `--seconds`
  * over that nominal time, so every run takes its median at the same
  * points of the JIT warm-up curve, whatever the host's speed.
  */
final case class Workload(name: String, ops: Seq[Op], prepare: SparkSession => Unit,
    warmupPasses: Int, nominalPassS: Double, stamp: Map[String, Any])

object Checks {
  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def md5(b: Array[Byte]): String = hex(MessageDigest.getInstance("MD5").digest(b))

  /** `md5sum *.parquet | md5sum` over `dir`. */
  def fingerprint(dir: Path): String = {
    val listing = Files.list(dir)
    val files = try listing.toArray.map(_.asInstanceOf[Path]) finally listing.close()
    val lines = files.filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
      .map(p => s"${md5(Files.readAllBytes(p))}  ${p.getFileName}\n")
    require(lines.nonEmpty, s"no parquet inputs in $dir")
    md5(lines.mkString.getBytes("UTF-8"))
  }

  /** Reference-CSV sink output: `numberSimulations` lines per file, each
    * of `numberPoints` H/T fields, heads fraction within 5 standard errors
    * of the bias. The digest is the MD5 of the files in spec order.
    */
  def referenceCsv(specs: Seq[SimulationSpec]): Checked = {
    val md = MessageDigest.getInstance("MD5")
    val errors = specs.flatMap { s =>
      val path = java.nio.file.Paths.get(s.resolvedOutputPath)
      if (!Files.isRegularFile(path)) Some(s"$path: missing")
      else {
        val bytes = Files.readAllBytes(path)
        md.update(bytes)
        var lines = 0L
        var fields = 0
        var heads = 0L
        var bad: Option[String] = None
        var i = 0
        while (i < bytes.length && bad.isEmpty) {
          bytes(i) match {
            case 'H' => heads += 1; fields += 1
            case 'T' => fields += 1
            case ',' =>
            case '\n' =>
              if (fields != s.numberPoints)
                bad = Some(s"line ${lines + 1} has $fields fields, want ${s.numberPoints}")
              lines += 1; fields = 0
            case c => bad = Some(s"unexpected byte $c at offset $i")
          }
          i += 1
        }
        if (bad.isEmpty && fields != 0) bad = Some(s"last line ${lines + 1} is not terminated")
        if (bad.isEmpty && lines != s.numberSimulations)
          bad = Some(s"$lines lines, want ${s.numberSimulations}")
        bad.orElse {
          val n = s.numberSimulations * s.numberPoints
          val p = s.parameters.head
          val frac = heads.toDouble / n
          val se = math.sqrt(p * (1 - p) / n)
          if (math.abs(frac - p) > 5 * se) Some(f"heads fraction $frac%.6f is not within 5 SE of $p")
          else None
        }.map(e => s"$path: $e")
      }
    }
    Checked(specs.map(s => s.numberSimulations * s.numberPoints).sum,
      hex(md.digest()), errors.headOption)
  }

  /** Order-insensitive digest of a result: row count and the exact sums of
    * two row hashes, collected by an observation on the same execution
    * that writes the result to the `noop` sink.
    */
  def observeDigest(df: DataFrame): Map[String, Any] = {
    val cols = df.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    val obs = Observation()
    df.observe(obs,
        count(lit(1)).as("rows"),
        sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h64"),
        sum(hash(cols: _*).cast("decimal(38,0)")).as("h32"))
      .write.format("noop").mode("overwrite").save()
    obs.get
  }

  def digestOf(m: Map[String, Any]): String = s"${m("rows")}:${m("h64")}:${m("h32")}"
}

/** The paper's demo batteries A and B, written one CSV file per model. */
final class DemoCsvOp(seed: Long, outDir: Path) extends Op {
  val name = "demo_ab"
  val specs = Seq(
    SimulationSpec(0, "coin_sequence", 100000, 16, Seq(0.5),
      outputPath = Some(outDir.resolve("0.txt").toString)),
    SimulationSpec(1, "coin_sequence", 60000, 32, Seq(0.7),
      outputPath = Some(outDir.resolve("1.txt").toString)))
  private var firstDigest: Option[String] = None

  def construct(spark: SparkSession): DataFrame =
    new MCBattery(spark, RngFamily.Philox, Some(seed)).simulate(specs)
  def execute(df: DataFrame): Any = TraceSink.writeReferenceCsv(df, specs)
  def check(result: Any): Checked = {
    val c = Checks.referenceCsv(specs)
    if (c.error.nonEmpty) c
    else firstDigest match {
      case None => firstDigest = Some(c.digest); c
      case Some(d) if d == c.digest => c
      case Some(d) => c.copy(error = Some(s"files differ from the first pass: ${c.digest} vs $d"))
    }
  }
}

/** One family's estimate battery, reduced in-engine to per-model means
  * (coin: heads fraction per trace; walk and gbm: the final point) and
  * checked against the analytic expectations.
  */
final class EstimateOp(family: RngFamily, seed: Long) extends Op {
  val name = s"estimate_${family.name.toLowerCase}"
  private val dt = 1.0 / 252
  val specs = Seq(
    SimulationSpec(0, "coin_sequence", 20000, 16, Seq(0.5)),
    SimulationSpec(1, "random_walk", 5000, 64, Seq(0.55)),
    SimulationSpec(2, "gbm", 2500, 64, Seq(0.05, 0.2, dt)))
  val truth = Seq(0.5, 64 * (2 * 0.55 - 1), 100 * math.exp(0.05 * 64 * dt))

  def construct(spark: SparkSession): DataFrame = {
    val traces = new MCBattery(spark, family, Some(seed)).simulate(specs)
    val x = when(col("model_id") === 0,
        size(filter(col("trace"), _ === "H")).cast("double") / lit(16.0))
      .otherwise(element_at(col("trace"), -1).cast("double"))
    traces.select(col("model_id"), x.as("x"))
      .groupBy(col("model_id"))
      .agg(count(lit(1)).as("n"), avg(col("x")).as("mean"), stddev_samp(col("x")).as("sd"))
      .orderBy(col("model_id"))
  }
  def execute(df: DataFrame): Any = df.collect()
  def check(result: Any): Checked = {
    val rows = result.asInstanceOf[Array[Row]]
    val errors = specs.zip(truth).flatMap { case (s, t) =>
      rows.find(_.getInt(0) == s.modelId) match {
        case None => Some(s"model ${s.modelId}: no estimate")
        case Some(r) =>
          val (n, mean, sd) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
          if (n != s.numberSimulations) Some(s"model ${s.modelId}: $n traces, want ${s.numberSimulations}")
          else if (math.abs(mean - t) > 5 * sd / math.sqrt(n.toDouble))
            Some(f"model ${s.modelId}: estimate $mean%.6f is not within 5 SE of $t%.6f")
          else None
      }
    }
    Checked(specs.map(s => s.numberSimulations * s.numberPoints).sum,
      rows.map(r => s"${r.getInt(0)}=${r.getDouble(2)}").mkString(","), errors.headOption)
  }
}

/** One gate written to the `noop` sink; its result digest must match the
  * table recorded for this input fingerprint and stay the same on every
  * pass.
  */
final class GateOp(val name: String, dataDir: String, expected: String) extends Op {
  private var firstDigest: Option[String] = None

  def construct(spark: SparkSession): DataFrame = SparkEntry.queries(name)(spark, dataDir)
  def execute(df: DataFrame): Any = Checks.observeDigest(df)
  def check(result: Any): Checked = {
    val m = result.asInstanceOf[Map[String, Any]]
    val d = Checks.digestOf(m)
    val rows = m("rows").asInstanceOf[Long]
    val err =
      if (d != expected) Some(s"digest $d, recorded $expected")
      else if (firstDigest.exists(_ != d)) Some(s"digest $d differs from the first pass")
      else None
    if (firstDigest.isEmpty) firstDigest = Some(d)
    Checked(rows, d, err)
  }
}

object Workloads {
  val names = Seq("mc_demo_csv", "mc_estimate", "gates_lazy", "gates_eager")

  /** The 18 gates whose time is mostly execution (Exchanges, shuffles,
    * task skew) and the 19 whose time is mostly construct-time eager jobs
    * (localCheckpoint sites, iterative rounds, training collects, the gate
    * memo), from a per-gate construct/plan/exec probe at sf0.1 on 4 cores.
    * All 37 have a DuckDB oracle; [[Record]] digests and profiles them all.
    */
  val lazyCatalog = Seq("aud_card", "aud_combined", "aud_runs", "dd_prefix_jaccard",
    "dd_containment", "emb_near_pairs_lsh", "emb_near_pairs", "ev_hazard",
    "ev_range_join", "knn_eval_pq", "knn_rrf", "mm_phash_pairs", "q35_profile",
    "q36_kmv_jaccard", "sim_gbm_logret", "tx_cdc_dedup", "tx_contamination",
    "tx_trigram_ppl")
  val eagerCatalog = Seq("aud_cuped", "dd_clusters", "dd_clusters_star", "dd_eval",
    "dd_fuzzy_clusters", "dd_keep_canonical", "dd_quarantine", "dd_simhash",
    "emb_bitext", "emb_centroid_sim", "ev_funnel3", "ev_heavy_hitters", "ev_markov3",
    "ev_rfm", "ev_survival", "mm_phash_clusters", "tx_langid_eval", "tx_tfidf_pairs",
    "tx_train_classifier")

  /** The timed subsets. A full catalog takes about 20 s a pass at sf0.01
    * on 4 cores, and a run must fit set-up, two warm-up passes and four
    * timed passes in well under a minute; two gates a workload, about 2 s a
    * pass, does. `gates_lazy` keeps two of the hottest execute-bound gates (7
    * and 9 final-plan Exchanges, the latter with a 20x task skew);
    * `gates_eager` keeps the hottest construct-bound gate (12 eager jobs)
    * and dd_quarantine (21 eager jobs), whose memoized pair table makes
    * set-up pay a memo fill.
    */
  val lazyGates = Seq("dd_prefix_jaccard", "emb_near_pairs_lsh")
  val eagerGates = Seq("tx_tfidf_pairs", "dd_quarantine")

  val families: Seq[RngFamily] = Seq(RngFamily.CounterHash, RngFamily.PCG64,
    RngFamily.Philox, RngFamily.SFC64, RngFamily.MT19937)

  /** `fingerprint<TAB>gate<TAB>digest` lines. */
  def loadDigests(file: Path): Map[String, Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(file).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(fp, gate, digest) = l.split("\t")
        (fp, gate, digest)
      }
      .groupBy(_._1).map { case (fp, xs) => fp -> xs.map(x => x._2 -> x._3).toMap }
  }

  /** The tables the timed gates read. */
  val gateTables = Seq("documents", "embeddings")

  private def warmRead(dataDir: String)(spark: SparkSession): Unit =
    gateTables.foreach(t =>
      spark.read.parquet(s"$dataDir/$t.parquet").write.format("noop").mode("overwrite").save())

  private def warmEngine(spark: SparkSession): Unit =
    spark.range(0, 1000000).selectExpr("sum(id)").collect()

  def gateWorkload(name: String, gates: Seq[String], seed: Long, bench: Path): Workload = {
    val dataDir = bench.resolve("data").resolve("sf0.01")
    val fp = Checks.fingerprint(dataDir)
    val table = loadDigests(bench.resolve("gate_digests.tsv")).getOrElse(fp,
      throw new IllegalStateException(
        s"input fingerprint $fp has no recorded gate digests in gate_digests.tsv"))
    val order = new scala.util.Random(seed).shuffle(gates)
    val ops = order.map { g =>
      new GateOp(g, dataDir.toString, table.getOrElse(g,
        throw new IllegalStateException(s"no recorded digest for gate $g at fingerprint $fp")))
    }
    Workload(name, ops, warmRead(dataDir.toString), 2, 2.0,
      Map("testdata_fingerprint" -> fp, "gate_order" -> order))
  }

  def apply(name: String, seed: Long, bench: Path, out: Path): Workload = name match {
    case "mc_demo_csv" =>
      val dir = Files.createDirectories(out.resolve("csv"))
      Workload(name, Seq(new DemoCsvOp(seed, dir)), warmEngine, 1, 0.8, Map.empty)
    case "mc_estimate" =>
      Workload(name, families.map(f => new EstimateOp(f, seed)), warmEngine, 1, 1.7, Map.empty)
    case "gates_lazy" => gateWorkload(name, lazyGates, seed, bench)
    case "gates_eager" => gateWorkload(name, eagerGates, seed, bench)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; known: ${names.mkString(", ")}")
  }
}
