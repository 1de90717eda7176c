package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.MedallionTable
import graft.table.MergeOps._

/** Many small operations against one partitioned, orders-shaped table
  * with the change data feed on. Keys are drawn Zipf-skewed, and the
  * partition is the key's range, so one partition runs hot. Writes
  * (append, idempotent append, DV merge/delete/update, periodic DV
  * compaction, auto-compaction and vacuum) are interleaved with reads
  * (scan, snapshot read, change feed, history), and a fixed share of
  * operations goes through SQL. A driver-side model replays the same
  * script; the checks compare the final table and every retained
  * snapshot with it.
  *
  * SQL reads (`VERSION AS OF`, `DESCRIBE HISTORY`) address the
  * partitioned table. SQL DML addresses an unpartitioned twin with the
  * same rows: SQL MERGE/UPDATE/DELETE rewrite a table without its
  * partition columns, after which partitioned API appends to it are not
  * read back, so the two write surfaces cannot share one partitioned
  * table.
  */
final class TableChurn(spark: SparkSession, seed: Long, root: String) extends Workload {
  val KeySpace = 20000
  val Parts = 8
  val InitialRows = 4000
  val BatchRows = 20
  val ZipfS = 1.1

  /** One episode's op classes, in order: a fixed interleaving with the
    * maintenance ops at fixed positions, so every run's prefix has the
    * same mix. The seed draws the keys and values.
    */
  private val schedule: IndexedSeq[String] = IndexedSeq(
    "append", "read", "merge_dv", "update_dv", "delete_dv", "history", "append_idempotent",
    "sql_merge", "read", "update_dv", "optimize", "cdf_read", "merge_dv", "sql_update",
    "read_version", "append", "auto_compact", "sql_version_read", "delete_dv", "sql_delete",
    "append_idempotent", "sql_history", "compact_dv", "vacuum")
  private val reads = Set("read", "read_version", "cdf_read", "history", "sql_version_read", "sql_history")
  val commitOps: Set[String] = schedule.filterNot(reads).toSet

  def inputs: Map[String, Any] = Map(
    "key_space" -> KeySpace, "partitions" -> Parts, "initial_rows" -> InitialRows,
    "ops_per_episode" -> schedule.size, "rows_per_write" -> BatchRows,
    "key_skew" -> s"zipf s=$ZipfS over key rank; partition = key range",
    "op_script" -> schedule,
    "sql_share" -> schedule.count(_.startsWith("sql_")).toDouble / schedule.size,
    "idempotent_replay_frac" -> 0.2)

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_comment", StringType),
    StructField("o_part", IntegerType)))

  /** Model row: everything but the key and the derived partition. */
  private final case class Rec(cust: Long, status: String, price: Double, day: Int, comment: String)

  private val keyZipf = new Gen.Zipf(KeySpace, ZipfS)
  private def part(k: Long): Int = (k * Parts / KeySpace).toInt

  private def toRow(k: Long, r: Rec): Row =
    Row(k, r.cust, r.status, r.price, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.day)),
      r.comment, part(k))

  private def frame(rows: Iterable[(Long, Rec)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (k, r) => toRow(k, r) }.toSeq, 1),
      schema)

  private def fromRow(x: Row): (Long, Rec) =
    x.getAs[Long]("o_orderkey") -> Rec(x.getAs[Long]("o_custkey"), x.getAs[String]("o_orderstatus"),
      x.getAs[Double]("o_totalprice"), x.getAs[java.sql.Date]("o_orderdate").toLocalDate.toEpochDay.toInt,
      x.getAs[String]("o_comment"))

  private def collectModel(df: DataFrame): Map[Long, Rec] =
    df.select(schema.fieldNames.map(col).toIndexedSeq: _*).collect().map(fromRow).toMap

  final class Ep(ep: Int) extends Episode {
    private val dir = s"$root/ep$ep"
    private val path = s"$dir/orders"
    private val name = s"churn_e${if (ep < 0) "w" else ep.toString}"
    private val r = Gen.rng(seed, ep, 2)
    private val t = MedallionTable(spark, path, Seq("o_part"), retainVersions = 3)
    private var model: Map[Long, Rec] = Map.empty
    private val sqlPath = s"$dir/orders_sql"
    private val sqlName = s"${name}_sql"
    private var sqlModel: Map[Long, Rec] = Map.empty
    /** Model state after each commit ordinal. */
    private val atOrdinal = mutable.Map[Long, Map[Long, Rec]]()
    /** First ordinal the change feed covers. */
    private var feedFrom = 0L
    private var opIndex = 0
    private var appVersion = 0L
    private val pending = mutable.ArrayBuffer[(String, () => Boolean)]()

    private def rec(): Rec = Rec(1 + r.nextInt(15000), Seq("O", "F", "P").apply(r.nextInt(3)),
      Gen.money(900 + r.nextDouble() * 400000), 9131 + r.nextInt(2400), Gen.sentence(r, 3))
    private def key(): Long = keyZipf.sample(r).toLong
    private def keys(n: Int, present: Boolean, in: Map[Long, Rec] = model): Seq[Long] = {
      val out = mutable.LinkedHashSet[Long]()
      var tries = 0
      while (out.size < n && tries < n * 50) {
        val k = key(); tries += 1
        if (in.contains(k) == present) out += k
      }
      out.toSeq
    }
    private def inList(ks: Seq[Long]): String = ks.mkString("(", ", ", ")")
    private def keyIn(ks: Seq[Long]) = col("o_orderkey").isin(ks: _*)

    private def committed(): Unit = atOrdinal(t.commitVersion) = model

    // initial table: InitialRows keys spread over the key space, feed on
    locally {
      val init = (0 until InitialRows).map(i => (i.toLong * (KeySpace / InitialRows), rec()))
      t.overwrite(frame(init).repartition(col("o_part")))
      model = init.toMap
      t.enableChangeDataFeed()
      committed()
      feedFrom = t.commitVersion + 1
      MedallionTable(spark, sqlPath).overwrite(frame(init))
      sqlModel = init.toMap
      Seq(name -> path, sqlName -> sqlPath).foreach { case (n, p) =>
        spark.sql(s"DROP TABLE IF EXISTS $n")
        spark.sql(s"CREATE TABLE $n USING graft LOCATION '$p'")
      }
    }

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def step(h: Harness): Boolean = {
      if (opIndex >= schedule.size) return false
      val cls = schedule(opIndex)
      opIndex += 1
      cls match {
        case "append" =>
          val rows = keys(BatchRows, present = false).map(k => k -> rec())
          h.op(cls)(h.span("table.append")(t.append(frame(rows))))
            .foreach { _ => model ++= rows; committed() }
        case "append_idempotent" =>
          val replay = appVersion > 0 && r.nextInt(5) == 0
          val v = if (replay) appVersion else appVersion + 1
          val rows = keys(BatchRows, present = false).map(k => k -> rec())
          h.op(cls)(h.span("table.append")(t.appendIdempotent(frame(rows), "churn-app", v)))
            .foreach { applied =>
              pending += ((s"appendIdempotent v$v applied=$applied", () => applied != replay))
              if (applied) { model ++= rows; appVersion = v; committed() }
            }
        case "merge_dv" =>
          val rows = (keys(BatchRows / 2, present = true) ++ keys(BatchRows / 2, present = false))
            .map(k => k -> rec())
          val set = Map[String, (ColRef, ColRef) => Column]("o_totalprice" -> ((_, s) => s("o_totalprice")))
          val ins = schema.fieldNames.map(c => c -> ((_: ColRef, s: ColRef) => s(c))).toMap
          h.op(cls)(h.span("table.merge")(t.mergeVectored(frame(rows), Seq("o_orderkey" -> "o_orderkey"),
            Seq(WhenMatchedUpdate(None, set)), Seq(WhenNotMatchedInsert(None, ins)))))
            .foreach { _ =>
              rows.foreach { case (k, x) =>
                model += k -> model.get(k).map(_.copy(price = x.price)).getOrElse(x)
              }
              committed()
            }
        case "delete_dv" =>
          val ks = keys(5, present = true)
          h.op(cls)(h.span("table.delete_dv")(t.deleteVectored(keyIn(ks))))
            .foreach { _ => model --= ks; committed() }
        case "update_dv" =>
          val ks = keys(10, present = true)
          h.op(cls)(h.span("table.update_dv")(t.updateVectored(keyIn(ks),
            Map("o_totalprice" -> (col("o_totalprice") + lit(1.0))))))
            .foreach { _ =>
              ks.foreach(k => model += k -> model(k).copy(price = model(k).price + 1.0))
              committed()
            }
        case "sql_merge" =>
          val rows = (keys(BatchRows / 4, present = true, sqlModel) ++
            keys(BatchRows / 4, present = false, sqlModel)).map(k => k -> rec())
          h.op(cls) {
            frame(rows).createOrReplaceTempView(s"${name}_src")
            h.span("plans.sql_dml")(spark.sql(
              s"""MERGE INTO $sqlName t USING ${name}_src s ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
          }.foreach { _ =>
            rows.foreach { case (k, x) =>
              sqlModel += k -> sqlModel.get(k).map(_.copy(price = x.price)).getOrElse(x)
            }
          }
        case "sql_update" =>
          val ks = keys(5, present = true, sqlModel)
          h.op(cls)(h.span("plans.sql_dml")(spark.sql(
            s"UPDATE $sqlName SET o_totalprice = o_totalprice + 1.0 WHERE o_orderkey IN ${inList(ks)}")))
            .foreach { _ =>
              ks.foreach(k => sqlModel += k -> sqlModel(k).copy(price = sqlModel(k).price + 1.0))
            }
        case "sql_delete" =>
          val ks = keys(3, present = true, sqlModel)
          h.op(cls)(h.span("plans.sql_dml")(spark.sql(
            s"DELETE FROM $sqlName WHERE o_orderkey IN ${inList(ks)}")))
            .foreach(_ => sqlModel --= ks)
        case "compact_dv" =>
          h.op(cls)(h.span("table.compact")(t.compactDv())).foreach(_ => committed())
        case "optimize" =>
          h.op(cls)(h.span("table.compact")(t.compact(nFiles = 2))).foreach(_ => committed())
        case "auto_compact" =>
          h.op(cls)(h.span("table.compact")(t.autoCompact(maxFiles = 4))).foreach(_ => committed())
        case "vacuum" =>
          h.op(cls)(h.span("table.vacuum")(t.vacuum())).foreach(_ => committed())
        case "read" =>
          h.op(cls)(h.span("table.read")(noop(t.read)))
        case "read_version" =>
          h.op(cls) {
            t.listVersions().lastOption.foreach(v => h.span("table.time_travel")(noop(t.readVersion(v))))
          }
        case "cdf_read" =>
          val from = math.max(feedFrom, t.commitVersion - 4)
          h.op(cls)(h.span("table.cdf_read")(noop(t.readChangeFeed(from))))
        case "history" =>
          h.op(cls) {
            val hist = h.span("table.history")(t.history())
            pending += (("history ordinals strictly increasing", () =>
              hist.map(_._1).reverse.sliding(2).forall(p => p.size < 2 || p(0) < p(1))))
          }
        case "sql_version_read" =>
          val at = t.reconstructibleOrdinals
          val n = at(r.nextInt(at.size))
          h.op(cls) {
            val got = h.span("plans.sql_read")(
              spark.sql(s"SELECT COUNT(*) FROM $name VERSION AS OF $n").head().getLong(0))
            val want = atOrdinal.get(n).map(_.size.toLong)
            pending += ((s"VERSION AS OF $n row count", () => want.contains(got)))
          }
        case "sql_history" =>
          h.op(cls)(h.span("plans.sql_read")(spark.sql(s"DESCRIBE HISTORY $name").collect()))
      }
      true
    }

    def verify(h: Harness): Unit = {
      pending.foreach { case (what, f) => h.check(what)(f()) }
      pending.clear()
      h.check(s"final table ≡ model (episode $ep)")(collectModel(t.read) == model)
      h.check(s"SQL twin ≡ its model (episode $ep)")(
        collectModel(MedallionTable(spark, sqlPath).read) == sqlModel)
      t.snapshotOrdinals.toSeq.sorted.foreach { case (v, ord) =>
        h.check(s"readVersion($v) ≡ model at commit $ord")(
          atOrdinal.get(ord).contains(collectModel(t.readVersion(v))))
      }
      h.check("history() ordinals strictly increasing")(
        t.history().map(_._1).reverse.sliding(2).forall(p => p.size < 2 || p(0) < p(1)))
    }

    def tables: Seq[String] = Seq(path, sqlPath)
    def storage(): Map[String, Double] = Storage.census(spark, tables, s"$dir/compact")

    def cleanup(): Unit = {
      Seq(name, sqlName).foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
      Storage.rmrf(dir)
    }
  }

  def prepare(episode: Int): Episode = new Ep(episode)
  def warmupSteps: Int = 6
  def unitOps: Set[String] = commitOps

  def endToEnd(h: Harness): Map[String, Double] = {
    Map(
      "op_ms" -> Stats.mixMs(h, commitOps),
      "read_ms" -> Stats.mixMs(h, reads),
      "items_per_s" -> (commitOps ++ reads).toSeq.map(h.attempted.getOrElse(_, 0L)).sum /
        (h.scriptNs / 1e9))
  }
}
