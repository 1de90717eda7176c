package perfbench

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession

/** Per-layer metrics from a traced run: span durations and self times
  * per layer, the Spark and filesystem census attributed to spans, and
  * the storage census. Layer names are the `graft.*` packages the spans
  * wrap (`pipeline`, `table`, `plans`, `text`, `dedup`, `similarity`),
  * plus `spark` (listeners) and `fs` (filesystem calls) below them.
  */
object Trace {

  /** metric → (span name, unit divisor to ms): median span duration. */
  private val spanMedians: Seq[(String, String, Double)] = Seq(
    ("pipeline.bronze_s", "pipeline.bronze", 1000.0),
    ("pipeline.silver_s", "pipeline.silver", 1000.0),
    ("pipeline.gold_s", "pipeline.gold", 1000.0),
    ("table.merge_ms", "table.merge", 1.0),
    ("table.append_ms", "table.append", 1.0),
    ("table.delete_dv_ms", "table.delete_dv", 1.0),
    ("table.update_dv_ms", "table.update_dv", 1.0),
    ("table.compact_ms", "table.compact", 1.0),
    ("table.vacuum_ms", "table.vacuum", 1.0),
    ("table.read_ms", "table.read", 1.0),
    ("table.time_travel_ms", "table.time_travel", 1.0),
    ("table.cdf_read_ms", "table.cdf_read", 1.0),
    ("table.history_ms", "table.history", 1.0),
    ("table.range_read_ms", "table.range_read", 1.0),
    ("plans.sql_dml_ms", "plans.sql_dml", 1.0),
    ("plans.sql_read_ms", "plans.sql_read", 1.0),
    ("text.quality_ms", "text.quality", 1.0),
    ("text.decont_check_ms", "text.decont_check", 1.0),
    ("dedup.check_ingest_ms", "dedup.check_ingest", 1.0),
    ("similarity.ingest_ms", "similarity.ingest", 1.0),
    ("similarity.retrain_ms", "similarity.retrain", 1.0),
    ("similarity.query_ms", "similarity.query", 1.0),
    ("similarity.semdedup_s", "similarity.semdedup", 1000.0))

  private val layers = Seq("client", "pipeline", "table", "plans", "text", "dedup", "similarity")

  private val storageNames = Seq("commits", "files_live", "bytes_live_mb", "meta_files")

  /** Metrics a workload supplies itself (zero where it does not apply). */
  val extraNames: Seq[String] = Seq("dedup.dup_recall", "dedup.near_dup_flag_recall",
    "dedup.false_drop", "similarity.recall_at_10")

  private val perOp: Seq[(String, Int, Double)] = Seq(
    ("spark.analysis_ms", Census.ANALYSIS_MS, 1.0),
    ("spark.optimization_ms", Census.OPTIMIZATION_MS, 1.0),
    ("spark.planning_ms", Census.PLANNING_MS, 1.0),
    ("spark.jobs", Census.JOB, 1.0),
    ("spark.stages", Census.STAGE, 1.0),
    ("spark.tasks", Census.TASK, 1.0),
    ("spark.task_run_s", Census.TASK_RUN_MS, 1000.0),
    ("spark.shuffle_write_mb", Census.SHUFFLE_WRITE, 1048576.0))

  private val fsNames = Seq("fs.list_calls", "fs.read_calls", "fs.write_calls", "fs.stat_calls")

  val layerUnits: Map[String, String] =
    spanMedians.map { case (m, _, d) => m -> (if (d == 1.0) "ms" else "s") }.toMap ++
    Map("table.commits" -> "count", "table.files_live" -> "count",
      "table.bytes_live_mb" -> "MB", "table.meta_files" -> "count",
      "dedup.dup_recall" -> "ratio", "dedup.near_dup_flag_recall" -> "ratio",
      "dedup.false_drop" -> "ratio", "similarity.recall_at_10" -> "ratio",
      "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
      "spark.planning_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.task_run_s" -> "s", "spark.shuffle_write_mb" -> "MB",
      "fs.bytes_written_per_input_byte" -> "ratio",
      "trace.op_ms" -> "ms", "trace.read_ms" -> "ms", "trace.spans" -> "count") ++
    fsNames.map(_ -> "count") ++ layers.map(l => s"self.${l}_frac" -> "ratio")

  private def durMs(s: Span): Double = (s.endNs - s.startNs) / 1e6

  /** Per-layer metrics. Spark and fs figures are per unit op (the op
    * classes behind `op_ms`), summed over everything under the op.
    */
  def perLayer(spark: SparkSession, h: Harness, unitOps: Set[String],
      e2e: Map[String, Double], storage: Map[String, Double],
      extras: Map[String, Double]): Map[String, Double] = {
    val spans = h.spans.toIndexedSeq
    val attributed = Census.attribute(spans, Census.drained(spark))
    val childMs = new Array[Double](spans.size)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += durMs(s))
    val selfMs = spans.map(s => durMs(s) - childMs(s.id))

    val byName = spans.groupBy(_.name)
    val medians = spanMedians.map { case (m, n, div) =>
      m -> byName.get(n).map(ss => Stats.median(ss.map(durMs)) / div).getOrElse(0.0)
    }

    val isUnit = (s: Span) => s.parent < 0 && unitOps.contains(s.name.stripPrefix("op."))
    val units = spans.filter(isUnit)
    val unitIds = units.map(_.opId).toSet
    val nUnits = math.max(1, units.size).toDouble
    val sums = new Array[Double](Census.NKINDS)
    spans.foreach(s => if (unitIds.contains(s.opId))
      (0 until Census.NKINDS).foreach(k => sums(k) += attributed(s.id)(k)))
    val census = perOp.map { case (m, k, div) => m -> sums(k) / div / nUnits }
    val fs = fsNames.zipWithIndex.map { case (m, i) =>
      m -> units.map(s => (s.fsEnd(i) - s.fsStart(i)).toDouble).sum / nUnits
    }
    val inputBytes = extras.getOrElse("input_bytes", 0.0)
    val bytesWritten = units.map(s => (s.fsEnd(5) - s.fsStart(5)).toDouble).sum

    val opMs = spans.filter(s => s.parent < 0 && s.name != "op.check").map(durMs).sum
    val selfShare = layers.map { l =>
      val prefix = if (l == "client") "op." else s"$l."
      s"self.${l}_frac" -> spans.filter(s => s.name.startsWith(prefix) && s.name != "op.check")
        .map(s => selfMs(s.id)).sum / math.max(1e-9, opMs)
    }

    (medians ++ census ++ fs ++ selfShare ++
      storageNames.map(n => s"table.$n" -> storage.getOrElse(n, 0.0)) ++
      extraNames.map(n => n -> extras.getOrElse(n, 0.0)) ++
      Seq(
        "fs.bytes_written_per_input_byte" -> (if (inputBytes > 0) bytesWritten / inputBytes else 0.0),
        "trace.op_ms" -> e2e("op_ms"),
        "trace.read_ms" -> e2e("read_ms"),
        "trace.spans" -> spans.size.toDouble)).toMap
  }

  /** Write every span as one JSON line: identity, parent, op, times
    * relative to the first span, self time, fs call deltas and the Spark
    * census attributed to the span itself.
    */
  def writeSpans(spark: SparkSession, path: String, h: Harness): Unit = {
    val spans = h.spans.toIndexedSeq
    if (spans.isEmpty) return
    val attributed = Census.attribute(spans, Census.drained(spark))
    val t0 = spans.head.startNs
    val childMs = new Array[Double](spans.size)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += durMs(s))
    val w = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.opId, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> (durMs(s) - childMs(s.id)),
        "fs" -> fsNames.indices.map(i => s.fsEnd(i) - s.fsStart(i)),
        "bytes_written" -> (s.fsEnd(5) - s.fsStart(5)),
        "commit_dir_creates" -> (s.fsEnd(6) - s.fsStart(6)),
        "spark" -> perOp.map { case (m, k, div) => m -> attributed(s.id)(k) / div }.toMap)))
    } finally w.close()
  }
}
