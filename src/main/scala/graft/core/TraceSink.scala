package graft.core

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Trace sinks.
  *
  * The reference writes each model's battery as one local CSV file — one row
  * per trace, points as columns, truncate-on-open (`"w"` mode)
  * (`parallel_simulations/utils.py:15-23`). That exact behavior is preserved
  * by [[writeReferenceCsv]] for parity; the scale paths are
  * [[writePartitionedText]] / [[writeParquet]], which keep the write fully
  * distributed (one directory per model via `partitionBy`, no single-file
  * bottleneck — the right shape for a 100 TB run).
  */
object TraceSink {

  /** Distributed CSV-format sink: `dir/model_id=<m>/part-*.txt`, one CSV line
    * per trace. Overwrite semantics, matching `utils.py:19`.
    */
  def writePartitionedText(traces: DataFrame, dir: String): Unit =
    traces
      .select(col("model_id"), concat_ws(",", col("trace")).as("value"))
      .write.mode(SaveMode.Overwrite).partitionBy("model_id").text(dir)

  /** Columnar sink for downstream analytics (keeps the array type). */
  def writeParquet(traces: DataFrame, dir: String): Unit =
    traces.write.mode(SaveMode.Overwrite).partitionBy("model_id").parquet(dir)

  /** Reference-parity sink: exactly one local CSV file per model at each
    * spec's `resolvedOutputPath` (default `./{i}.txt`,
    * `parallel_simulations.py:176-179`), rows ordered by sim_id, overwritten
    * on rerun. A spec whose model has no rows gets an empty file; specs that
    * share a `modelId` each get the full file.
    *
    * No shuffle, no sort. ONE Spark job streams every task's rows into
    * segment files under a driver-created temp dir: a task opens a new
    * segment whenever `model_id` changes or `sim_id` decreases, and reports
    * one [[Segment]] per file. `spark.range` ids are contiguous per
    * partition and the id -> (model, sim) map of [[MCBattery]] is monotone,
    * so on battery output each model's segments, sorted by first `sim_id`,
    * never overlap, and the driver concatenates them into the destination
    * (`FileChannel.transferTo`). Only the metadata of successful tasks is
    * used — never a directory listing — and each file carries its task
    * attempt number, so a retried or speculative attempt never touches the
    * files the successful one reported.
    *
    * Input whose segments DO overlap (it was not range-ordered, e.g. after a
    * `repartition`) takes the one fallback: the same writer over
    * `orderBy(model_id, sim_id)`, whose range partitions cannot overlap.
    *
    * The temp dir must be visible to the executors and the driver at the
    * same path: the local / shared-filesystem assumption of a single-file
    * sink. Use [[writePartitionedText]] for distributed scale.
    */
  def writeReferenceCsv(traces: DataFrame, specs: Seq[SimulationSpec]): Unit = {
    if (specs.isEmpty) return
    val rows = traces
      .filter(col("model_id").isin(specs.map(_.modelId).distinct: _*))
      .select(col("model_id").cast("int"), col("sim_id").cast("long"),
        concat_ws(",", col("trace")))
    val tmp = Files.createTempDirectory("graft-sink")
    try {
      val byModel = inSimOrder(writeSegments(rows, tmp.resolve("direct")))
        .orElse(inSimOrder(writeSegments(
          rows.orderBy(col("model_id"), col("sim_id")), tmp.resolve("sorted"))))
        .getOrElse(throw new IllegalStateException(
          "trace segments still overlap after orderBy(model_id, sim_id)"))
      specs.foreach { s =>
        val dest = Paths.get(s.resolvedOutputPath)
        Option(dest.getParent).foreach(Files.createDirectories(_))
        concatenate(byModel.getOrElse(s.modelId, Nil), dest)
      }
    } finally deleteRecursively(tmp)
  }

  /** One task's run of rows of one model with non-decreasing `sim_id`. */
  private final case class Segment(model: Int, firstSim: Long, lastSim: Long, file: String)

  /** Runs `rows` (model_id INT, sim_id BIGINT, line STRING) as one job;
    * every task writes its segments into `dir` and returns their metadata.
    */
  private def writeSegments(rows: DataFrame, dir: Path): Seq[Segment] = {
    Files.createDirectories(dir)
    val dirName = dir.toString
    rows.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val attempt = TaskContext.get().attemptNumber()
      val done = ArrayBuffer.empty[Segment]
      var out: OutputStream = null
      var file = ""
      var model, index = 0
      var first, last = 0L
      def close(): Unit = if (out != null) {
        out.close()
        out = null
        done += Segment(model, first, last, file)
        index += 1
      }
      try it.foreach { r =>
        val m = r.getInt(0)
        val sim = r.getLong(1)
        if (out == null || m != model || sim < last) {
          close()
          file = Paths.get(dirName, s"part-$pid-$attempt-$index.csv").toString
          out = new BufferedOutputStream(Files.newOutputStream(Paths.get(file),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
            StandardOpenOption.WRITE), 1 << 16)
          model = m; first = sim
        }
        r.getUTF8String(2).writeTo(out)
        out.write('\n')
        last = sim
      } finally close()
      done.iterator
    }.collect().toSeq
  }

  /** Each model's segments in sim order, or None if two of them overlap. */
  private def inSimOrder(segments: Seq[Segment]): Option[Map[Int, Seq[Segment]]] = {
    val byModel = segments.groupBy(_.model).map { case (m, ss) =>
      m -> ss.sortBy(_.firstSim)
    }
    val ordered = byModel.values.forall(ss =>
      ss.lazyZip(ss.drop(1)).forall((a, b) => a.lastSim < b.firstSim))
    if (ordered) Some(byModel) else None
  }

  /** Truncates `dest` and appends the segment files to it, in order. */
  private def concatenate(segments: Seq[Segment], dest: Path): Unit = {
    val out = FileChannel.open(dest, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    try segments.foreach { s =>
      val in = FileChannel.open(Paths.get(s.file), StandardOpenOption.READ)
      try {
        val size = in.size()
        var pos = 0L
        while (pos < size) pos += in.transferTo(pos, size - pos, out)
      } finally in.close()
    } finally out.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val listing = Files.list(p)
      try listing.forEach(deleteRecursively(_))
      finally listing.close()
    }
    Files.deleteIfExists(p)
  }
}
