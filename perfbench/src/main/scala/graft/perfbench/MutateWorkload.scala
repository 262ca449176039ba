package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `mutate`: a catalog table `USING scbf PARTITIONED BY (source)`
 * seeded with 5 000 documents-shaped rows, under a closed loop of
 * appends, DELETE, UPDATE, MERGE INTO and a periodic OPTIMIZE ... CLUSTER
 * BY (doc_id), with reads interleaved: an IN point probe, a doc_id
 * range, a partition predicate, COUNT/MIN/MAX, ORDER BY ... LIMIT and a
 * change-feed read of the last append. The benchmark keeps a model of the table
 * that applies the same seeded ops; every read must equal it. Choosing an
 * op's parameters, building its input rows and computing the model's
 * answer are untimed. */
final class MutateWorkload(spark: SparkSession, args: Args) extends Workload {
  import MutateWorkload._
  val nominalPassS = 6.2
  private val seedDocs = if (args.small) 500 else 5000
  private val sources = 20
  private val dir = args.work.resolve("mutate").resolve("docs")
  private val table = "perfbench_docs"
  /** Ops, predicates and appended rows follow `--seed`; the seeded
   * table follows the fixed data seed. */
  private val rnd = new Random(args.seed)

  /** The model: doc_id -> (source, n_chars, text). */
  private val model = mutable.HashMap.empty[Int, Doc]
  private var nextId = 0
  /** The newest commit's timestamp (epoch ms), from the table's history. */
  private var commitTs = -1L
  /** The commit window (before, after] of the last write, in epoch ms,
   * when it was an append. */
  private var lastAppend: Option[(Long, Long, Seq[(Int, Doc)])] = None

  private def newDoc(r: Random, source: Int): Doc = {
    val words = 10 + r.nextInt(50)
    val text = Seq.fill(words)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    Doc(s"src$source", text.length, text)
  }

  private def view(name: String, rows: Seq[(Int, Doc)]): Unit =
    spark.createDataFrame(rows.map { case (id, d) => Row(id, d.source, d.nChars, d.text) }.asJava,
      Schema).createOrReplaceTempView(name)

  private def newestCommitTs(): Long =
    spark.sql(s"DESCRIBE HISTORY $table COMMITS LIMIT 1").head().getTimestamp(1).getTime

  /** A statement of a write op: its call is the op's commit-layer span. */
  private def dml(what: String, sql: String): Unit =
    Tracer.call(what, Tracer.Commit)(spark.sql(sql))

  def setup(): Unit = {
    Fs.deleteTree(dir)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table (doc_id INT, source STRING, n_chars INT, text STRING) " +
      s"USING scbf PARTITIONED BY (source) LOCATION '$dir'")
    val dataRnd = new Random(Bench.DataSeed)
    val docs = (0 until seedDocs).map(i => i -> newDoc(dataRnd, i % sources))
    nextId = seedDocs
    Log.step("seed table") {
      view("pb_seed", docs)
      spark.sql(s"INSERT INTO $table SELECT /*+ COALESCE(1) */ * FROM pb_seed")
    }
    model ++= docs
    commitTs = newestCommitTs()
    // warm-up: one pass, untimed
    Log.step("warm-up") { pass(-1).foreach(_.runChecked()) }
  }

  // ---- writes --------------------------------------------------------

  /** A write op: `prepare` picks its parameters and builds its input
   * rows, untimed, and returns the user bytes the write adds or changes,
   * the timed statement, and the model update, which runs untimed once
   * the statement succeeded. */
  private def write(opName: String)(prepare: => (Long, () => Unit, () => Unit)): Op =
    Op(opName, "write", Tracer.Commit) { () =>
      val (userBytes, statement, apply) = prepare
      () => { statement(); Done(0L, userBytes, apply) }
    }

  private def append(): Op = write("append") {
    val srcs = Seq.fill(3)(rnd.nextInt(sources))
    val batch = (0 until AppendRows).map(i => (nextId + i) -> newDoc(rnd, srcs(i % srcs.size)))
    nextId += AppendRows
    view("pb_append", batch)
    (batch.map(b => rawBytes(b._2)).sum,
      () => dml("INSERT", s"INSERT INTO $table SELECT /*+ COALESCE(1) */ * FROM pb_append"),
      () => {
        val before = commitTs
        model ++= batch
        commitTs = newestCommitTs()
        lastAppend = Some((before, commitTs, batch))
      })
  }

  private def idRange(width: Int): (Int, Int) = {
    val a = rnd.nextInt(math.max(1, nextId - width))
    (a, a + width - 1)
  }

  private def liveIn(src: String): IndexedSeq[Int] =
    model.iterator.collect { case (i, d) if d.source == src => i }.toIndexedSeq.sorted

  /** A seeded source partition and a doc_id band starting at one of its
   * live documents: row-level writes stay inside one partition, as an
   * ingest table's corrections usually do. */
  private def band(): (String, Int, Int) = {
    val src = s"src${rnd.nextInt(sources)}"
    val ids = liveIn(src)
    val a = if (ids.isEmpty) 0 else ids(rnd.nextInt(ids.size))
    (src, a, a + BandWidth - 1)
  }

  private def inBand(src: String, a: Int, b: Int): Seq[(Int, Doc)] =
    (a to b).flatMap(i => model.get(i).filter(_.source == src).map(i -> _))

  private def delete(): Op = write("delete") {
    val (src, a, b) = band()
    (0L,
      () => dml("DELETE", s"DELETE FROM $table WHERE source = '$src' AND doc_id BETWEEN $a AND $b"),
      () => {
        inBand(src, a, b).foreach { case (i, _) => model.remove(i) }
        afterWrite()
      })
  }

  private def update(): Op = write("update") {
    val (src, a, b) = band()
    val hit = inBand(src, a, b)
    (hit.map(h => rawBytes(h._2)).sum,
      () => dml("UPDATE", s"UPDATE $table SET n_chars = n_chars + 7 " +
        s"WHERE source = '$src' AND doc_id BETWEEN $a AND $b"),
      () => {
        hit.foreach { case (i, d) => model(i) = d.copy(nChars = d.nChars + 7) }
        afterWrite()
      })
  }

  private def merge(): Op = write("merge") {
    val srcNo = rnd.nextInt(sources)
    val src = s"src$srcNo"
    val live = liveIn(src)
    val matched = Seq.fill(MergeRows / 2)(live(rnd.nextInt(live.size))).distinct
      .map(i => i -> newDoc(rnd, srcNo))
    val inserted = (0 until MergeRows / 2).map(i => (nextId + i) -> newDoc(rnd, srcNo))
    nextId += MergeRows / 2
    view("pb_merge", matched ++ inserted)
    ((matched ++ inserted).map(b => rawBytes(b._2)).sum,
      () => dml("MERGE", s"""MERGE INTO $table t USING pb_merge s
        ON t.source = '$src' AND t.doc_id = s.doc_id
        WHEN MATCHED THEN UPDATE SET t.n_chars = s.n_chars, t.text = s.text
        WHEN NOT MATCHED THEN INSERT (doc_id, source, n_chars, text)
          VALUES (s.doc_id, s.source, s.n_chars, s.text)"""),
      () => {
        model ++= matched ++ inserted
        afterWrite()
      })
  }

  private def optimize(): Op = write("optimize") {
    (0L, () => dml("OPTIMIZE", s"OPTIMIZE $table CLUSTER BY (doc_id)"), () => afterWrite())
  }

  private def afterWrite(): Unit = {
    commitTs = newestCommitTs()
    lastAppend = None
  }

  // ---- reads ---------------------------------------------------------

  /** A read op: `prepare` picks its parameters, untimed, and returns the
   * timed query and the check of its answer against the model, which
   * runs untimed after it. */
  private def read[A](opName: String, agg: Boolean = false)(
      prepare: => (() => A, A => Long, A => Unit)): Op =
    Op(opName, "read", Tracer.Scan, agg = agg) { () =>
      val (query, rows, check) = prepare
      () => {
        val got = query()
        Done(rows(got), 0L, () => check(got))
      }
    }

  private def rowsOf(sql: String): Seq[Row] = spark.sql(sql).collect().toSeq

  private def point(): Op = read[Set[(Int, Doc)]]("point_in") {
    val live = model.keys.toIndexedSeq
    val ids = (Seq.fill(3)(live(rnd.nextInt(live.size))) ++ Seq.fill(2)(rnd.nextInt(nextId))).distinct
    (() => rowsOf(s"SELECT doc_id, source, n_chars, text FROM $table WHERE doc_id IN (${ids.mkString(", ")})")
      .map(r => r.getInt(0) -> Doc(r.getString(1), r.getInt(2), r.getString(3))).toSet,
      _.size.toLong,
      got => Check.equal(s"point_in $ids", got, ids.flatMap(i => model.get(i).map(i -> _)).toSet))
  }

  private def range(): Op = read[(Long, Long, Long)]("doc_id_range", agg = true) {
    val (a, b) = idRange(200)
    (() => {
      val r = rowsOf(s"SELECT count(*), coalesce(sum(n_chars), 0), coalesce(sum(length(text)), 0) " +
        s"FROM $table WHERE doc_id BETWEEN $a AND $b").head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }, _ => 1L, got => {
      val docs = (a to b).flatMap(model.get)
      Check.equal(s"doc_id_range [$a, $b]", got,
        (docs.size.toLong, docs.map(_.nChars.toLong).sum, docs.map(_.text.length.toLong).sum))
    })
  }

  private def partition(): Op = read[(Long, Long)]("partition", agg = true) {
    val src = s"src${rnd.nextInt(sources)}"
    (() => {
      val r = rowsOf(s"SELECT count(*), coalesce(sum(n_chars), 0) FROM $table WHERE source = '$src'").head
      (r.getLong(0), r.getLong(1))
    }, _ => 1L, got => {
      val docs = model.values.filter(_.source == src)
      Check.equal(s"partition $src", got, (docs.size.toLong, docs.map(_.nChars.toLong).sum))
    })
  }

  private def countMinMax(wrong: Boolean = false): Op = read[(Long, Int, Int)]("count_min_max", agg = true) {
    (() => {
      val r = rowsOf(s"SELECT count(*), min(doc_id), max(doc_id) FROM $table").head
      (r.getLong(0), r.getInt(1), r.getInt(2))
    }, _ => 1L, got => Check.equal("count_min_max", got,
      (model.size.toLong + (if (wrong) 1 else 0), model.keys.min, model.keys.max)))
  }

  private def topN(): Op = read[Seq[(Int, Int)]]("top_n") {
    (() => rowsOf(s"SELECT doc_id, n_chars FROM $table ORDER BY n_chars DESC, doc_id ASC LIMIT 10")
      .map(r => (r.getInt(0), r.getInt(1))),
      _.size.toLong,
      got => Check.equal("top_n", got, model.toSeq.map { case (i, d) => (i, d.nChars) }
        .sortBy { case (i, n) => (-n, i) }.take(10)))
  }

  /** The change feed of the last append's commit, bounded on the time
   * axis: the log's compaction folds old commits into snapshots, after
   * which the source refuses their version ordinals as feed bounds (by
   * design), while commit timestamps stay durable through folds. */
  private def feed(): Op = read[Set[(Int, Int, String)]]("changes_feed") {
    val (before, after, batch) = lastAppend.getOrElse(throw new Mismatch("no append to read back"))
    (() => Tracer.call("load", Tracer.Plan) {
      spark.read.format("scbf")
        .option("changesSince", before).option("changesUntil", after)
        .load(dir.toString)
    }.select("doc_id", "n_chars", "text").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet,
      _.size.toLong,
      got => Check.equal(s"changes_feed ($before, $after]", got,
        batch.map { case (i, d) => (i, d.nChars, d.text) }.toSet))
  }

  /** One pass: two appends, each followed by a feed read of its commit;
   * two each of DELETE, UPDATE and MERGE, and of every other read kind;
   * all in seeded order, and OPTIMIZE last. Each row-level write's cost
   * follows how many files have piled up since the last OPTIMIZE, so
   * two of each per pass give its median over a run two positions in
   * the pass each time. */
  def pass(n: Int): Seq[Op] = {
    val order = new Random(args.seed * 1000003L + n)
    val units: Seq[Seq[Op]] =
      Seq(Seq(append(), feed()), Seq(append(), feed())) ++
        Seq(delete(), delete(), update(), update(), merge(), merge(),
          point(), point(), range(), range(), partition(), partition(),
          countMinMax(), countMinMax(), topN(), topN()).map(Seq(_))
    val ops = order.shuffle(units).flatten :+ optimize()
    // a deliberately wrong expected answer, for the benchmark's own test
    if (args.wrongAnswer && n == 0) countMinMax(wrong = true) +: ops else ops
  }

  override def finish(): (Int, Seq[String]) = {
    val got = rowsOf(s"SELECT doc_id, source, n_chars, text FROM $table")
      .map(r => r.getInt(0) -> Doc(r.getString(1), r.getInt(2), r.getString(3))).toMap
    if (got == model.toMap) (1, Nil)
    else (1, Seq(s"final table: ${got.size} rows differ from the model's ${model.size}"))
  }

  def storedBytes: Long = Fs.treeBytes(dir)
  def userBytes: Long = model.values.map(rawBytes).sum
  def scbfFiles: Seq[Path] = Fs.dataFiles(dir)
  override def writeDirs: Seq[Path] = Seq(dir)
  def liveFiles: Int = Fs.dataFiles(dir).size
}

object MutateWorkload {
  final case class Doc(source: String, nChars: Int, text: String)

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** The 30 words the generated texts are made of. */
  val Vocab: IndexedSeq[String] = ("the a fast slow big small spark data table column row key " +
    "value query scan join filter group sort merge hash part line order customer vector " +
    "window stream batch agg").split(" ").toIndexedSeq

  val AppendRows = 60
  val MergeRows = 30
  val BandWidth = 400

  /** Raw encoded bytes of a row: int32 doc_id and n_chars, utf8
   * source and text (4-byte offset plus the bytes). */
  def rawBytes(d: Doc): Long =
    4L + 4L + 4L + d.source.length + 4L + d.text.getBytes("UTF-8").length
}
