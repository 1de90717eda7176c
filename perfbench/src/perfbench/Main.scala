package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One episode of a workload: inputs generated and initial tables built
  * by [[Workload.prepare]], then driven one client op at a time.
  */
trait Episode {
  /** Run the next unit of the episode's script; false once it is done. */
  def step(h: Harness): Boolean
  /** Output checks over everything the episode has applied so far. */
  def verify(h: Harness): Unit
  /** Roots of the graft tables the episode writes. */
  def tables: Seq[String]
  /** Storage census from outside (listing and a compact rewrite of the
    * live snapshot): `space_amp` and the `table.*` counts.
    */
  def storage(): Map[String, Double]
  def cleanup(): Unit
}

trait Workload {
  /** Input properties this workload sets, recorded in the run output. */
  def inputs: Map[String, Any]
  def prepare(episode: Int): Episode
  /** Steps of the untimed warm-up episode. */
  def warmupSteps: Int
  /** Op classes whose latency is `op_ms`; per-layer census figures
    * are given per op of these classes.
    */
  def unitOps: Set[String]
  /** The workload's values of the generic end-to-end metrics. */
  def endToEnd(h: Harness): Map[String, Double]
  /** Workload-specific per-layer values (checks' recall and the like). */
  def layerExtras: Map[String, Double] = Map.empty
}

object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** Seconds from JVM start after which no op may run on. */
  val BudgetS = 150.0

  /** Heap still live after a full collection: the heap pools' usage as
    * of the collection itself, so allocation by background threads after
    * it does not count. Spark drops broadcast and shuffle state only once
    * the collector has found its handles unreachable, so the least of a
    * few spaced collections is the retained set.
    */
  def retainedHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      pools.map(_.getCollectionUsage.getUsed).sum / 1048576.0
    }.min
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val tracing = arg(args, "trace") == "1"
    val work = new java.io.File(arg(args, "work")).getAbsolutePath

    val b = graft.GraftSession.builder(Cores)
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (tracing) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    graft.plans.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    if (tracing) Census.setup(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val deadlineNs = System.nanoTime() + ((BudgetS - sessionS) * 1e9).toLong
    val w: Workload = workload match {
      case "medallion_daily" => new MedallionDaily(spark, seed, s"$work/data")
      case "table_churn" => new TableChurn(spark, seed, s"$work/data")
      case "llm_curate" => new LlmCurate(spark, seed, s"$work/data")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Warm-up: one short untimed episode, so JIT, codegen caches and
    // lazy engine set-up are done before anything is measured.
    val t0 = System.nanoTime()
    val warm = new Harness(spark, tracing = false, deadlineNs, 60000L)
    val we = w.prepare(-1)
    var n = 0
    while (n < w.warmupSteps && we.step(warm)) n += 1
    we.cleanup()
    warm.close()
    val warmupS = (System.nanoTime() - t0) / 1e9

    // Set-up proper, several times: generate one episode's inputs and
    // build its initial tables. The median is reported; the episodes are
    // the first ones the measured loop then drives.
    val ready = mutable.Queue[Episode]()
    val reps = (0 until 3).map { i =>
      val s0 = System.nanoTime()
      ready.enqueue(w.prepare(i))
      (System.nanoTime() - s0) / 1e9
    }
    val setupS = sessionS + warmupS + Stats.median(reps)

    // Measured closed loop: one client, next op after the previous one.
    // Episodes start while the window is open and always run to the end
    // of their script, so every run measures whole episodes of the same
    // op mix.
    val h = new Harness(spark, tracing, deadlineNs, 60000L)
    val windowNs = (seconds * 1e9).toLong
    val start = System.nanoTime()
    def inWindow = System.nanoTime() - start < windowNs && h.remainingNs > 0
    var episode = 0
    var storage: Map[String, Double] = Map.empty
    while (inWindow) {
      val e = if (ready.nonEmpty) ready.dequeue() else w.prepare(episode)
      if (tracing) Census.watchTables(e.tables)
      val s0 = System.nanoTime()
      while (h.remainingNs > 0 && e.step(h)) ()
      h.scriptNs += System.nanoTime() - s0
      e.verify(h)
      if (episode == 0) storage = e.storage()
      e.cleanup()
      episode += 1
    }
    ready.foreach(_.cleanup())
    val wallS = (System.nanoTime() - start) / 1e9

    val heapMb = Main.retainedHeapMb()

    val e2e = w.endToEnd(h) ++ Map(
      "setup_s" -> setupS,
      "ok_frac" -> (h.totalAttempted - h.totalFailed).toDouble / math.max(1L, h.totalAttempted),
      "space_amp" -> storage.getOrElse("space_amp", Double.NaN),
      "retained_heap_mb" -> heapMb)
    val metrics =
      if (!tracing) e2e
      else Trace.perLayer(spark, h, w.unitOps, e2e, storage, w.layerExtras)

    val detail = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> tracing, "episodes" -> episode, "window_s" -> wallS,
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS,
        "prepare_s" -> reps),
      "inputs" -> w.inputs,
      "ops" -> h.attempted.map { case (k, v) =>
        k -> Map("attempted" -> v, "failed" -> h.failed.getOrElse(k, 0L),
          "ms" -> h.samples(k).map(x => math.round(x * 10) / 10.0)) }.toMap,
      "errors" -> h.errors.toSeq,
      "storage" -> storage,
      "conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
    println(Json(Map("perfbench_run" -> detail)))
    if (tracing) args.indexOf("--trace-out") match {
      case i if i >= 0 => Trace.writeSpans(spark, args(i + 1), h)
      case _ => ()
    }

    val units = Units.of
    val result = Map(
      "correct" -> (h.totalFailed == 0 && !metrics.values.exists(_.isNaN)),
      "attempted" -> h.totalAttempted,
      "failed" -> h.totalFailed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> units.getOrElse(k, "count")) })
    h.close()
    spark.stop()
    println(Json(result))
  }
}

/** Units of every reported metric (per-layer names not listed are counts). */
object Units {
  val of: Map[String, String] = Map(
    "setup_s" -> "s", "ok_frac" -> "ratio", "op_ms" -> "ms",
    "read_ms" -> "ms", "items_per_s" -> "1/s",
    "space_amp" -> "ratio", "retained_heap_mb" -> "MB") ++
    Trace.layerUnits
}

/** Minimal JSON rendering for the run output. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
