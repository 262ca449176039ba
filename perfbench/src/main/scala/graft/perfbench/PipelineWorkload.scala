package graft.perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Ops

/** `pipeline`: seven of the `d*`, `t*` and `m*` queries of
 * `SparkEntry.queries` ([[PipelineWorkload.Queries]]) over generated
 * documents, embeddings and events tables at sf0.01 sizes (parquet;
 * these queries never touch SCBF), in `Bench`'s order — the pair-graph
 * owners first, the rest in seeded order — with `Ops.stagedClear()` at
 * the start of each pass and every result going to the noop sink. The
 * owners materialize the staged pair graphs the others read, so they
 * count as the workload's writes. One untimed pass before the window
 * dumps every result for the DuckDB oracle check run.py makes
 * (oracle.py). */
final class PipelineWorkload(spark: SparkSession, args: Args) extends Workload {
  import PipelineWorkload._
  val nominalPassS = 5.5
  private val root = args.work.resolve("pipeline")
  private val data = root.resolve("data")
  private val check = root.resolve("check")
  private val (docs, vectors, events) =
    if (args.small) (500L, 500L, 1000L) else (Docs, Vectors, Events)

  private val names = Queries.filter(SparkEntry.queries.contains)
  private val owners = Owners.filter(names.contains)

  private val seed = Bench.DataSeed
  private def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
  private def mod(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
  private def unit(salt: Int): Column = mod(salt, 1000000L).cast("double") / 1e6

  /** Documents-shaped rows: 10-100 words of a 30-word vocabulary; one
   * in twenty is another document's text plus " dup" (planted near
   * duplicates). */
  private def documents(): DataFrame = {
    val vocab = array(MutateWorkload.Vocab.map(lit): _*)
    def words(id: Column, salt: Int) = array_join(transform(
      sequence(lit(1), (pmod(xxhash64(id, lit(seed), lit(salt)), lit(91L)) + 10).cast("int")),
      i => element_at(vocab, (pmod(xxhash64(id, i, lit(seed), lit(salt + 1)), lit(30L)) + 1)
        .cast("int"))), " ")
    val base = mod(3, docs)
    val text = when(mod(2, 20L) === 0, concat(words(base, 10), lit(" dup")))
      .otherwise(words(col("id"), 10))
    spark.range(0, docs, 1, 1).select(
      col("id").as("doc_id"),
      text.as("text"),
      element_at(array(Seq("en", "en", "zh", "es", "fr", "de", "en", "zh", "es", "fr", "de", "en",
        "en").map(lit): _*), (mod(4, 13L) + 1).cast("int")).as("lang"),
      concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit vectors of dimension 64 around ten label centroids. */
  private def embeddings(): DataFrame = {
    val label = mod(5, 10L).cast("int")
    val raw = transform(sequence(lit(0), lit(Dim - 1)), i =>
      (pmod(xxhash64(label, i, lit(seed)), lit(1000L)).cast("double") / 1000 - 0.5) +
        (pmod(xxhash64(col("id"), i, lit(seed)), lit(1000L)).cast("double") / 1000 - 0.5) * 0.8)
    spark.range(0, vectors, 1, 1)
      .select(col("id").as("vec_id"), raw.as("v"), label.as("label"))
      .select(col("vec_id"),
        transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"),
        col("label"))
  }

  /** Events over January 2024 in event_id order. */
  private def eventsTable(): DataFrame = {
    val step = 30L * 86400L * 1000000L / events
    spark.range(0, events, 1, 1).select(
      col("id").as("event_id"),
      // session time zone is UTC, so the cast keeps the wall clock
      timestamp_micros(lit(StartMicros) + col("id") * step + mod(6, step))
        .cast("timestamp_ntz").as("ts"),
      mod(7, math.max(15L, events / 67)).as("user_id"),
      element_at(array(Seq("view", "click", "purchase", "signup", "error").map(lit): _*),
        (mod(8, 5L) + 1).cast("int")).as("event_type"),
      round(-log(unit(9) * 0.999 + 0.001) * 50, 2).as("value"),
      concat(lit("{\"k\": "), mod(10, 100L).cast("string"), lit("}")).as("props"))
  }

  /** The query's construction: the operators' own driver code, which
   * may also run the jobs that stage a pair graph. */
  private def query(q: String, dir: String): DataFrame =
    Tracer.call("build", Tracer.Operators)(SparkEntry.queries(q)(spark, dir))

  def setup(): Unit = {
    Fs.deleteTree(root)
    Log.step("generate tables") {
      documents().write.parquet(data.resolve("documents.parquet").toString)
      embeddings().write.parquet(data.resolve("embeddings.parquet").toString)
      eventsTable().write.parquet(data.resolve("events.parquet").toString)
    }
    // the untimed check pass doubles as the warm-up: every query once,
    // each result dumped for the oracle, as graft.Verify does
    Log.step("check pass") {
      Ops.stagedClear()
      (owners ++ names.filterNot(owners.contains)).foreach { q =>
        try query(q, data.toString).coalesce(1).write.mode("overwrite")
          .parquet(check.resolve(q).toString)
        catch { case e: Throwable => System.err.println(s"[perfbench] check pass: $q failed: $e") }
      }
      val json = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
        .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
      Files.writeString(root.resolve("oracle_sql.json"), json)
    }
  }

  private var lastBuilds = 0L
  private val buildsPerPass = scala.collection.mutable.ArrayBuffer.empty[Long]

  /** One pass: owners first, the rest in seeded order; the staged pair
   * graphs are cleared here, as the pass starts. */
  def pass(n: Int): Seq[Op] = {
    val rest = new Random(args.seed * 1000003L + n).shuffle(names.filterNot(owners.contains))
    Ops.stagedClear()
    lastBuilds = Ops.stagedBuildCount
    (owners ++ rest).zipWithIndex.map { case (q, i) =>
      Op(q, if (owners.contains(q)) "write" else "read", Tracer.Operators) { () => () =>
        query(q, data.toString).write.format("noop").mode("overwrite").save()
        val last = i == names.size - 1
        if (last) buildsPerPass += Ops.stagedBuildCount - lastBuilds
        Done(0L, 0L, () => ())
      }
    }
  }

  def storedBytes: Long = Fs.treeBytes(data)

  /** Raw bytes of the generated tables' rows, by column type. */
  def userBytes: Long = {
    def strBytes(t: String, cols: Seq[String]) = spark.read.parquet(data.resolve(t).toString)
      .select(cols.map(c => sum(length(col(c)).cast("long") + 4)): _*).head().toSeq
      .map(_.asInstanceOf[Long]).sum
    docs * 16 + strBytes("documents.parquet", Seq("text", "lang", "source")) +
      vectors * (8 + 4 + 4 + 4 * Dim) +
      events * 32 + strBytes("events.parquet", Seq("event_type", "props"))
  }

  /** The pipeline has no SCBF data of its own; the codec probe reads an
   * SCBF copy of the documents table, written on first use. */
  def liveFiles: Int = 0

  def scbfFiles: Seq[Path] = {
    val copy = root.resolve("documents.scbf")
    if (!Files.exists(copy))
      spark.read.parquet(data.resolve("documents.parquet").toString)
        .select(col("doc_id").cast("int"), col("text"), col("lang"), col("source"),
          col("n_chars").cast("int"))
        .coalesce(1).write.format("scbf").mode("append").save(copy.toString)
    Fs.dataFiles(copy)
  }

  override def extraMetrics(traced: Seq[Tracer.OpRecord]): Seq[(String, Double, String)] = {
    val byName = traced.filter(_.ok).groupBy(_.name).map { case (k, v) =>
      k -> Stats.quantile(v.map(_.ms), 0.5) }
    val passes = math.max(1, traced.map(_.pass).distinct.size)
    def family(p: String) = traced.filter(o => o.ok && o.name.startsWith(p))
      .map(_.ms).sum / 1e3 / passes
    names.map(q => (s"operators.query.${q}_ms", byName.getOrElse(q, 0.0), "ms")) ++ Seq(
      ("operators.dedup_s", family("d"), "s"),
      ("operators.text_s", family("t"), "s"),
      ("operators.multimodal_s", family("m"), "s"),
      ("operators.staged_builds", Stats.quantile(buildsPerPass.map(_.toDouble), 0.5), "count"))
  }
}

object PipelineWorkload {
  /** The query set: the MinHash and SimHash pair graphs with queries
   * that read them (d3 reads d10's staged signatures; d18 reads both
   * graphs), winnowing, sessionizing and image hashing. All 45
   * `d*`/`t*`/`m*` queries take about 30 s a pass warm and 60 s cold on
   * a 4-core box, more than a benchmark run may take; these seven take
   * about 5.5 s warm. */
  val Queries = Seq("d2_minhash_lsh", "d10_simhash_neardup", "d3_simhash",
    "d18_pair_agreement", "t4_fingerprint", "t5_sessionize", "m6_image_phash")
  /** Bench's pair-graph owners: each runs before the queries that read
   * the staged graph it builds. */
  val Owners = Seq("d2_minhash_lsh", "d10_simhash_neardup", "d8_embed_neardup",
    "d5_ann_bruteforce", "d6_ann_lsh", "d11_ann_ivf")
  val Docs = 500L
  val Vectors = 500L
  val Events = 10000L
  val Dim = 64
  /** 2024-01-01T00:00:00Z in microseconds. */
  val StartMicros = 1704067200000000L
}
