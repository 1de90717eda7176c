package perfbench

import java.io.{File, PrintWriter}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.Pipeline
import graft.table.MedallionTable

/** The reference's own job: seeded daily landings shaped like TPC-H
  * orders, lineitem and nation, each written as raw CSV/JSON and run
  * bronze → silver → gold, then read by a fixed set of gold consumers.
  *
  * A landing holds new orders with their lines, late lines for orders of
  * earlier landings (so the gold rollup of an earlier key changes), and
  * exact replays of earlier orders and lines (which silver's dedup must
  * absorb). The check recomputes the gold rollup from the generated
  * landings and compares it by hash.
  */
final class MedallionDaily(spark: SparkSession, seed: Long, root: String) extends Workload {
  val Days = 1              // timed landings per episode, after day 0
  // A timed landing is one batch key's share of sf0.1, the scale the
  // reference job runs at: 150,000 orders and about 600,000 lines over
  // four `data_block_id`s. Day 0, loaded at set-up, is a quarter of that,
  // so that three set-ups fit a run's time; the warm-up episode loads a
  // quarter of day 0 and lands nothing.
  val NewOrders = 37500     // new orders per timed landing (1-7 lines each, 4 on average)
  val SetupOrders = NewOrders / 4
  val LateFrac = 0.10       // earlier orders receiving one late line, per new order
  val ReplayFrac = 0.05     // earlier orders replayed exactly (with their lines)

  def inputs: Map[String, Any] = Map(
    "days_per_episode" -> Days, "setup_days" -> 1, "setup_orders" -> SetupOrders,
    "new_orders_per_day" -> NewOrders,
    "lines_per_order" -> "1..7 uniform", "late_update_frac" -> LateFrac,
    "replay_frac" -> ReplayFrac, "key_skew" -> "none (sequential keys)",
    "block_key" -> "o_orderkey % 4")

  private final case class Order(key: Long, cust: Long, status: String, price: Double,
      date: String, prio: String, clerk: String, comment: String) {
    def csv: String = s"$key,$cust,$status,${"%.2f".format(price)},$date,$prio,$clerk,0,$comment"
  }
  private final case class Line(okey: Long, lnum: Int, part: Long, qty: Int,
      ext: Double, disc: Double, ship: String, comment: String) {
    def csv: String = s"$okey,$part,${part % 1000},$lnum,$qty,${"%.2f".format(ext)}," +
      s"${"%.2f".format(disc)},0.04,N,O,$ship,$ship,$ship,NONE,TRUCK,$comment"
  }
  private val OrderHeader = "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate," +
    "o_orderpriority,o_clerk,o_shippriority,o_comment"
  private val LineHeader = "l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity," +
    "l_extendedprice,l_discount,l_tax,l_returnflag,l_linestatus,l_shipdate,l_commitdate," +
    "l_receiptdate,l_shipinstruct,l_shipmode,l_comment"

  private var landedRows = 0L
  private var landedBytes = 0L

  final class Ep(ep: Int) extends Episode {
    private val dir = s"$root/ep$ep"
    private val work = s"$dir/work"
    private val r = Gen.rng(seed, ep, 1)
    // generator state: every order and its lines as generated so far
    private val genOrders = mutable.LinkedHashMap[Long, Order]()
    private val genLines = mutable.LinkedHashMap[Long, mutable.ArrayBuffer[Line]]()
    private var nextKey = 1L
    private final case class Landing(raw: String, orders: Seq[Order], lines: Seq[Line], bytes: Long)
    private val landings = mutable.ArrayBuffer[Landing]()
    // model state: distinct lines of the landings applied so far
    private val model = mutable.LinkedHashMap[(Long, Int), Line]()
    private var day = 0
    private val pending = mutable.ArrayBuffer[(String, () => Boolean)]()
    private def gold = MedallionTable(spark, s"$work/gold/wide_orders")

    private def newOrder(day: Int): Order = {
      val k = nextKey; nextKey += 1
      Order(k, 1 + r.nextInt(15000), Seq("O", "F", "P").apply(r.nextInt(3)),
        Gen.money(900 + r.nextDouble() * 400000), Gen.date(r, day * 30, 30),
        s"${1 + r.nextInt(5)}-PRIO", f"Clerk#${r.nextInt(1000)}%09d", Gen.sentence(r, 4))
    }
    private def newLine(o: Long, lnum: Int, day: Int): Line = {
      val qty = 1 + r.nextInt(50)
      Line(o, lnum, 1 + r.nextInt(20000), qty, Gen.money(qty * (900 + r.nextDouble() * 1100)),
        r.nextInt(11) / 100.0, Gen.date(r, day * 30, 60), Gen.sentence(r, 3))
    }

    /** Generate landing `d` and write it as raw files. */
    private def land(d: Int): Unit = {
      val n = if (d > 0) NewOrders else if (ep >= 0) SetupOrders else SetupOrders / 4
      val earlier = genOrders.keys.toArray
      val os = mutable.ArrayBuffer[Order](); val ls = mutable.ArrayBuffer[Line]()
      def addLine(l: Line): Unit = { genLines.getOrElseUpdate(l.okey, mutable.ArrayBuffer()) += l; ls += l }
      (0 until n).foreach { _ =>
        val o = newOrder(d); os += o; genOrders(o.key) = o
        (1 to 1 + r.nextInt(7)).foreach(l => addLine(newLine(o.key, l, d)))
      }
      if (earlier.nonEmpty) {
        (0 until (n * LateFrac).toInt).foreach { _ =>
          val k = earlier(r.nextInt(earlier.length))
          addLine(newLine(k, genLines(k).size + 1, d))
        }
        (0 until (n * ReplayFrac).toInt).foreach { _ =>
          val k = earlier(r.nextInt(earlier.length))
          os += genOrders(k)
          ls ++= genLines(k).filter(_.lnum == 1)
        }
      }
      val raw = s"$dir/raw/d$d"
      val bytes = writeCsv(s"$raw/orders", OrderHeader, os.map(_.csv)) +
        writeCsv(s"$raw/lineitem", LineHeader, ls.map(_.csv)) +
        writeNation(s"$raw/nation")
      landings += Landing(raw, os.toSeq, ls.toSeq, bytes)
    }

    private def writeCsv(d: String, header: String, rows: Iterable[String]): Long = {
      new File(d).mkdirs()
      val f = new File(d, "part-00000.csv")
      val w = new PrintWriter(f, "UTF-8")
      try { w.println(header); rows.foreach(w.println) } finally w.close()
      f.length()
    }

    private def writeNation(d: String): Long = {
      new File(d).mkdirs()
      val f = new File(d, "part-00000.json")
      val w = new PrintWriter(f, "UTF-8")
      try (0 until 25).foreach { i =>
        w.println(s"""{"n_nationkey":$i,"n_name":"NATION$i","n_regionkey":${i % 5},"n_comment":"nation $i"}""")
      } finally w.close()
      f.length()
    }

    private def runPipeline(h: Harness, raw: String): Unit = {
      h.span("pipeline.bronze")(Pipeline.Bronze.run(spark, raw, work))
      h.span("pipeline.silver")(Pipeline.Silver.run(spark, work))
      h.span("pipeline.gold")(Pipeline.Gold.run(spark, work))
    }

    private def apply(l: Landing): Unit = l.lines.foreach(x => model((x.okey, x.lnum)) = x)

    // initial tables: day 0 through the whole pipeline
    land(0)
    runPipeline(new Harness(spark, false, Long.MaxValue, 60000L), landings.head.raw)
    apply(landings.head)
    if (ep >= 0) (1 to Days).foreach(land)

    /** Expected gold rollup: key → (sum_qty, revenue, line_cnt). */
    private def expected(): Map[Long, (Long, Double, Long)] =
      model.values.groupBy(_.okey).map { case (k, ls) =>
        val rev = ls.iterator.map { l =>
          BigDecimal(l.ext * (1 - l.disc) * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.sum / 100.0
        k -> ((ls.iterator.map(_.qty.toLong).sum, rev, ls.size.toLong))
      }

    def step(h: Harness): Boolean = {
      day += 1
      if (day > Days) return false
      val l = landings(day)
      val before = gold.commitVersion
      val ok = h.op("batch")(runPipeline(h, l.raw)).isDefined
      apply(l)
      if (ok && ep >= 0) { landedRows += l.orders.size + l.lines.size; landedBytes += l.bytes }
      // expectations as of this landing
      val exp = expected()
      val byBlock = exp.toSeq.groupBy(_._1 % 4).map { case (b, kv) => b -> kv.map(_._2._2).sum }
      val probe = exp.keys.toSeq.sorted.apply(r.nextInt(exp.size))
      // each consumer read ten times: single reads of a few hundred ms
      // are too noisy to compare across runs
      (0 until 10).foreach { _ =>
        h.op("gold_rollup") {
          val got = h.span("table.read")(gold.read.groupBy("data_block_id")
            .agg(sum("revenue")).collect())
            .map(x => x.getAs[Number](0).longValue() -> x.getDouble(1)).toMap
          pending += (("rollup by data_block_id", () => got.keySet == byBlock.keySet &&
            got.forall { case (b, v) => math.abs(v - byBlock(b)) <= 1e-6 * math.max(1.0, math.abs(v)) }))
        }
        h.op("gold_lookup") {
          val got = h.span("table.range_read")(gold.readRange("o_orderkey", probe, probe)
            .select(col("o_orderkey").cast("long"), col("sum_qty").cast("long"), col("line_cnt")).collect())
          val want = exp(probe)
          pending += ((s"point lookup $probe", () => got.length == 1 &&
            got(0).getLong(1) == want._1 && got(0).getLong(2) == want._3))
        }
        h.op("gold_history") {
          val hist = h.span("table.history")(gold.history())
          pending += (("gold history has this landing's commit", () =>
            hist.headOption.exists(_._1 > before)))
        }
      }
      true
    }

    def verify(h: Harness): Unit = {
      pending.foreach { case (what, f) => h.check(what)(f()) }
      pending.clear()
      h.check(s"gold ≡ recomputed rollup (episode $ep)") {
        val exp = expected()
        val got = gold.read.select(col("o_orderkey").cast("long"), col("sum_qty").cast("long"),
          col("revenue").cast("double"), col("line_cnt").cast("long")).collect()
          .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2), x.getLong(3)))).toMap
        Storage.digest(got) == Storage.digest(exp)
      }
    }

    def tables: Seq[String] = Seq("bronze/orders", "bronze/lineitem", "bronze/nation",
      "silver/orders", "silver/lineitem", "silver/stations", "gold/wide_orders").map(t => s"$work/$t")

    def storage(): Map[String, Double] = {
      Storage.census(spark, tables, s"$dir/compact") ++ Map(
        "input_bytes" -> landings.slice(1, day).map(_.bytes).sum.toDouble)
    }

    def cleanup(): Unit = Storage.rmrf(dir)
  }

  def prepare(episode: Int): Episode = new Ep(episode)
  def warmupSteps: Int = 0
  def unitOps: Set[String] = Set("batch")

  def endToEnd(h: Harness): Map[String, Double] = {
    val batches = h.samples("batch")
    Map(
      "op_ms" -> Stats.median(batches),
      "read_ms" -> Stats.mixMs(h, Seq("gold_rollup", "gold_lookup", "gold_history")),
      "items_per_s" -> landedRows / (batches.sum / 1000.0))
  }

  override def layerExtras: Map[String, Double] = Map("input_bytes" -> landedBytes.toDouble)
}
