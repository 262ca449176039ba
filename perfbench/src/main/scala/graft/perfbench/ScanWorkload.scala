package graft.perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** `scan`: a static SCBF copy of a lineitem-shaped table (600 000 rows,
 * 11 columns, `l_shipdate` as utf8), rows spread round-robin over the
 * files so no file can be skipped. The client reads it four ways —
 * full width, 1-of-N int, 1-of-N utf8, a 3-column group-by — into the
 * noop sink, and exports a slice now and then (the only writes, into a
 * separate directory, so the table stays static). Every answer is
 * checked against values computed once at set-up from the generator's
 * rows, never through SCBF: a timed scan's row count, and the column
 * checksums on the untimed passes (the warm-up, and a full-width scan
 * after the window), so hashing stays out of the timed reads. */
final class ScanWorkload(spark: SparkSession, args: Args) extends Workload {
  val nominalPassS = 3.8
  private val rows = if (args.small) 6000L else 600000L
  private val files = if (args.small) 2 else 8
  private val dir = args.work.resolve("scan")
  private val table = dir.resolve("lineitem.scbf").toString
  private val exportDir = dir.resolve("export").toString

  private val IntCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  private val DoubleCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val Utf8Cols = Seq("l_returnflag", "l_linestatus", "l_shipdate")
  private val AllCols = IntCols ++ DoubleCols ++ Utf8Cols
  /** Group-by value columns and their exact aggregates. */
  private val GroupAggs = Seq("l_quantity" -> "sum", "l_discount" -> "max", "l_tax" -> "max")
  private val ExportSlices = 8

  private val GroupKeys = for (f <- Seq("A", "N", "R"); st <- Seq("F", "O")) yield (f, st)

  /** Seeded lineitem rows: every value is a hash of (row, seed, column),
   * so a seed always gives the same table. */
  private def generate(): DataFrame = {
    val seed = Bench.DataSeed
    def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
    def mod(salt: Int, n: Int): Column = pmod(h(salt), lit(n.toLong))
    // one range partition per file; every column is a hash of the row,
    // so every file spans every column's domain and nothing prunes
    spark.range(0, rows, 1, files).select(
      (mod(0, 150000) + 1).cast("int").as("l_orderkey"),
      (mod(1, 20000) + 1).cast("int").as("l_partkey"),
      (mod(2, 1000) + 1).cast("int").as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (mod(3, 50) + 1).cast("double").as("l_quantity"),
      ((mod(4, 9000000) + 90000) / 100.0).as("l_extendedprice"),
      (mod(5, 11) / 100.0).as("l_discount"),
      (mod(6, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (mod(7, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (mod(8, 2) + 1).cast("int")).as("l_linestatus"),
      date_format(date_add(lit("1992-01-02").cast("date"), mod(9, 2526).cast("int")), "yyyy-MM-dd")
        .as("l_shipdate"))
  }

  /** Row count and one order-independent checksum per column. */
  private def checksums(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("n") +: cols.map(c => sum(xxhash64(col(c)).bitwiseAND(lit(0xFFFFFFFFL))).as(c))

  private var expected: Map[String, Long] = Map.empty
  private var expectedGroups: Map[String, Set[String]] = Map.empty
  private var expectedSlices: Map[Int, Long] = Map.empty
  private var rawBytes = 0L
  private var liveCount = 0

  private def groupQuery(df: DataFrame, value: String, agg: String): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), expr(s"$agg($value)").as("v"))

  private def groupRows(df: DataFrame): Set[String] =
    df.collect().map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}").toSet

  private def slice(df: DataFrame, k: Int): DataFrame =
    df.where(pmod(col("l_orderkey"), lit(ExportSlices)) === k)

  def setup(): Unit = {
    Fs.deleteTree(dir)
    // the expected answers come from the generator itself, never
    // through SCBF: aggregates observed over the seeded rows on their
    // way into the writer
    def inGroup(f: String, st: String) = s"l_returnflag = '$f' AND l_linestatus = '$st'"
    val aggs = checksums(AllCols) ++
      Utf8Cols.map(c => sum(length(col(c)).cast("long")).as(s"len_$c")) ++
      GroupKeys.flatMap { case (f, st) =>
        count_if(expr(inGroup(f, st))).as(s"g_${f}_${st}_n") +:
          GroupAggs.map { case (v, a) => expr(s"$a(IF(${inGroup(f, st)}, $v, NULL))").as(s"g_${f}_${st}_$v") }
      } ++
      (0 until ExportSlices).map(k => count_if(pmod(col("l_orderkey"), lit(ExportSlices)) === k).as(s"slice_$k"))
    val obs = Observation("expected")
    Log.step("generate into scbf") {
      generate().observe(obs, aggs.head, aggs.tail: _*)
        .write.format("scbf").mode("append").save(table)
    }
    val m = obs.get
    def long(k: String) = m(k).asInstanceOf[Long]
    expected = ("n" +: AllCols).map(c => c -> long(c)).toMap
    rawBytes = rows * (4L * IntCols.size + 8L * DoubleCols.size + 4L * Utf8Cols.size) +
      Utf8Cols.map(c => long(s"len_$c")).sum
    expectedGroups = GroupAggs.map { case (v, _) =>
      v -> GroupKeys.filter { case (f, st) => long(s"g_${f}_${st}_n") > 0 }.map { case (f, st) =>
        s"$f|$st|${m(s"g_${f}_${st}_n")}|${m(s"g_${f}_${st}_$v")}"
      }.toSet
    }.toMap
    expectedSlices = (0 until ExportSlices).map(k => k -> long(s"slice_$k")).toMap
    liveCount = Fs.dataFiles(java.nio.file.Paths.get(table)).size
    // warm-up: one pass, untimed
    Log.step("warm-up") { pass(-1).foreach(_.runChecked()) }
  }

  /** The source's table load: driver-side planning work of the op. */
  private def scbf: DataFrame =
    Tracer.call("load", Tracer.Plan)(spark.read.format("scbf").load(table))

  private var obsSeq = 0
  /** A projection into the noop sink. A `checked` one also sums every
   * value's hash, on the untimed passes only. */
  private def project(opName: String, cols: Seq[String], checked: Boolean,
      wrong: Boolean = false): Op =
    Op(opName, "read", Tracer.Scan, variant = if (cols.size == 1) cols.head else "") { () =>
      obsSeq += 1
      val obs = Observation(s"scan$obsSeq")
      val aggs = if (checked) checksums(cols) else Seq(count(lit(1)).as("n"))
      () => {
        scbf.select(cols.map(col): _*).observe(obs, aggs.head, aggs.tail: _*)
          .write.format("noop").mode("overwrite").save()
        Done(expected("n"), 0L, () => {
          val m = obs.get
          Check.equal(s"$opName rows", m("n"), expected("n") + (if (wrong) 1 else 0))
          if (checked) cols.foreach(c => Check.equal(s"$opName checksum $c", m(c), expected(c)))
        })
      }
    }

  private def group(value: String, agg: String): Op =
    Op("group_by", "read", Tracer.Scan, agg = true, variant = s"$agg($value)") { () => () =>
      val got = groupRows(groupQuery(scbf, value, agg))
      Done(got.size.toLong, 0L, () => Check.equal(s"group_by $agg($value)", got, expectedGroups(value)))
    }

  private def export(k: Int): Op =
    Op("export", "write", Tracer.Commit) { () => () =>
      val cols = Seq("l_orderkey", "l_extendedprice", "l_shipdate")
      val out = slice(scbf, k).select(cols.map(col): _*).write.format("scbf").mode("overwrite")
      Tracer.call("write", Tracer.Commit)(out.save(exportDir))
      val n = expectedSlices(k)
      Done(n, n * (4L + 8L + 4L + 10L), () =>
        Check.equal(s"export slice $k rows",
          spark.read.format("scbf").load(exportDir).count(), n))
    }

  /** One pass: two full-width scans, every int and every utf8 column
   * alone once, a group-by per aggregate and two exports, in seeded
   * order. The
   * set-up's warm-up pass (n = -1) checks every scan's column checksums. */
  def pass(n: Int): Seq[Op] = {
    val rnd = new Random(args.seed * 1000003L + n)
    val checked = n == -1
    val ops =
      Seq.fill(2)(project("full_scan", AllCols, checked)) ++
        IntCols.map(c => project("int_column", Seq(c), checked)) ++
        Utf8Cols.map(c => project("utf8_column", Seq(c), checked)) ++
        GroupAggs.map { case (v, a) => group(v, a) } ++
        Seq.fill(2)(export(rnd.nextInt(ExportSlices)))
    val shuffled = rnd.shuffle(ops)
    // a deliberately wrong expected answer, for the benchmark's own test
    if (args.wrongAnswer && n == 0) project("full_scan", AllCols, checked, wrong = true) +: shuffled
    else shuffled
  }

  /** After the window: one full-width scan with every column checksum. */
  override def finish(): (Int, Seq[String]) = {
    val op = project("full_scan", AllCols, checked = true)
    try { op.runChecked(); (1, Nil) }
    catch { case e: Throwable => (1, Seq(s"${op.name} (checked): ${e.getMessage}")) }
  }

  def storedBytes: Long = Fs.treeBytes(java.nio.file.Paths.get(table))
  def userBytes: Long = rawBytes
  def scbfFiles: Seq[Path] = Fs.dataFiles(java.nio.file.Paths.get(table))
  def liveFiles: Int = liveCount
  override def writeDirs: Seq[Path] = Seq(java.nio.file.Paths.get(exportDir))
}
