package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * DISTRIBUTED history relation — batch read option `history=entries`
 * (path spelling: `spark.read.format("scbf").option("history",
 * "entries").load(dir)`): one row per discovery-log ENTRY, parsed
 * EXECUTOR-side with one input partition per delta file. The
 * scale-out answer to the one shape `DESCRIBE HISTORY` cannot serve
 * bounded: the unbounded per-file view is a driver command (one Row
 * per file ever announced — ~8 s and a million driver rows at 10⁶
 * entries, HistoryScale), fine for inspection but wrong for ANALYTICS
 * over a huge log. This relation keeps the driver at O(deltas)
 * metadata (the listing it already pays) and ships the parsing to the
 * cluster, so `GROUP BY action`, retention studies, or audit joins
 * over a 10⁸-entry log run as ordinary distributed SQL with Spark's
 * own filters/aggregates on top.
 *
 * RAW entries by contract: compaction folds re-announce history
 * verbatim, so a name can appear in several deltas (same stamp —
 * copies are verbatim). The per-file view is one aggregation away —
 * first announcement per name:
 * {{{
 *   SELECT file, min(ts) AS ts, min_by(action, ts) AS action, …
 *   FROM history GROUP BY file
 * }}}
 * — and the spec pins that this dedup reproduces `DESCRIBE HISTORY`
 * exactly. Columns: `commit` (delta name), `is_fold`, `file`, `len`,
 * `ts`, `action` (append|rewrite|remove), `rewrite_of`
 * (comma-joined victims, NULL for none), `rows_changed`.
 *
 * Deliberately narrow: BATCH only (a stream over history is the
 * discovery stream itself), PATH spelling only (a catalog table's
 * relation output is its data schema — `load(dir)` infers the history
 * schema when the option is set), and best-effort per delta like
 * every other history READER (a torn line degrades to fewer rows —
 * the change feed is the fail-closed surface; this is inspection).
 */
object ScbfHistoryRead {

  val OptionKey = "history"
  val OptionValue = "entries"

  val schema: StructType = StructType(Seq(
    StructField("commit", StringType, nullable = false),
    StructField("is_fold", BooleanType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("len", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("rewrite_of", StringType, nullable = true),
    StructField("rows_changed", BooleanType, nullable = false)))

  def requested(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Boolean =
    Option(options.get(OptionKey)).exists { v =>
      if (!v.equalsIgnoreCase(OptionValue))
        throw new graft.scbf.ScbfFormatException(
          s"history read option: only '$OptionValue' is supported, got '$v'")
      true
    }

  /** Folds larger than this split into byte-range partitions; var as
   * a test seam (specs shrink it to exercise splits without 10⁷-line
   * fixtures). 8 MB ≈ 150k entries per task — scan-task-sized. */
  private[graft] var splitBytes: Long = 8L << 20
}

/** One delta file = one input partition — except FOLD snapshots over
 * [[ScbfHistoryRead.splitBytes]], which split into newline-aligned
 * byte ranges (the TextInputFormat discipline: a split with
 * `start > 0` discards its first, possibly partial line — the
 * previous split reads through it — then serves every line STARTING
 * at or before `end`). A fold holds ~the whole log, so without
 * splits the pre-shuffle pass over a 10⁸-entry history serializes in
 * one task (the round-12 documented residual). `end = Long.MaxValue`
 * = to EOF (plain deltas, and the unsplit fallback). */
case class ScbfHistoryPartition(root: String, delta: String,
    start: Long = 0L, end: Long = Long.MaxValue) extends InputPartition

class ScbfHistoryScan(root: Path, conf: Configuration)
  extends Scan with Batch {

  override def readSchema(): StructType = ScbfHistoryRead.schema

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new graft.scbf.ScbfFormatException(
      "history=entries is batch-only — to consume changes as a stream, " +
        "readStream the TABLE itself (the discovery log IS its source).")

  override def description(): String = s"SCBF history entries, $root"

  override def planInputPartitions(): Array[InputPartition] = {
    if (!ScbfDiscovery.exists(root, conf)) {
      // same clone special-case as DESCRIBE HISTORY: a fresh branch has
      // no chain of its own — the generic no-log error would
      // misdiagnose a connector-created clone as a foreign directory.
      // A branch WITH local appends has a log and serves it, exactly
      // like the command.
      if (ScbfClone.isClone(root, conf))
        throw new graft.scbf.ScbfFormatException(
          s"history read on $root: a SHALLOW CLONE starts with no history " +
            "of its own — the ref list IS the branch point. Read the " +
            "SOURCE table's history; the clone's own log begins with its " +
            "first append.")
      throw new graft.scbf.ScbfFormatException(
        s"history read on $root: the table has no discovery log — history " +
          "is recorded by connector writes; a foreign/reference-tool " +
          "directory has none.")
    }
    val fs = root.getFileSystem(conf)
    ScbfDiscovery.commitChain(root, conf).flatMap { n =>
      val len =
        try if (ScbfDiscovery.isFold(n))
          fs.getFileStatus(new Path(ScbfDiscovery.dir(root), n)).getLen
        else 0L
        catch { case scala.util.control.NonFatal(_) => 0L }
      if (len <= ScbfHistoryRead.splitBytes)
        Seq(ScbfHistoryPartition(root.toString, n))
      else {
        // splitting moves the header check off the executors (a
        // non-zero split cannot see line 1) — ONE tiny driver read;
        // an alien header degrades to the old single-partition path,
        // which serves no rows, best-effort like every history reader
        val headerOk =
          try {
            val in = fs.open(new Path(ScbfDiscovery.dir(root), n))
            try {
              val t = new org.apache.hadoop.io.Text()
              new org.apache.hadoop.util.LineReader(in).readLine(t)
              ScbfDiscovery.isHeaderLine(t.toString)
            } finally in.close()
          } catch { case scala.util.control.NonFatal(_) => false }
        if (!headerOk) Seq(ScbfHistoryPartition(root.toString, n))
        else {
          val step = ScbfHistoryRead.splitBytes
          val bounds = 0L until len by step
          bounds.map(s => ScbfHistoryPartition(root.toString, n, s,
            if (s + step >= len) Long.MaxValue else s + step))
        }
      }
    }.map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      private val taskConf = ScbfUtil.broadcastConf(conf)
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val hp = p.asInstanceOf[ScbfHistoryPartition]
        new PartitionReader[InternalRow] {
          // STREAMED, one line resident at a time: a fold snapshot
          // holds ~the whole log, so buffering a delta's rows before
          // serving the first one would put 10⁸ entries in one task's
          // heap — exactly the driver pathology this relation exists
          // to avoid. Best-effort per delta like every history READER
          // (a torn line degrades to fewer rows; the change feed is
          // the fail-closed surface). Large folds arrive as BYTE-RANGE
          // splits (round 13): a split with start > 0 discards its
          // first, possibly partial line (the previous split reads
          // through it — the planner validated the header) and serves
          // every line STARTING at or before `end` — the
          // TextInputFormat discipline, so the pre-shuffle pass over a
          // 10⁸-entry fold parallelizes like any data scan.
          private val rootP = new Path(hp.root)
          private val isFold = ScbfDiscovery.isFold(hp.delta)
          private val deltaName = UTF8String.fromString(hp.delta)
          private var in: org.apache.hadoop.fs.FSDataInputStream = _
          private var lr: org.apache.hadoop.util.LineReader = _
          private val text = new org.apache.hadoop.io.Text()
          private var pos = 0L // byte offset of the next unread line's start
          private var opened = false
          private var done = false
          private var cur: InternalRow = _
          private def open(): Unit = {
            opened = true
            try {
              val f = new Path(ScbfDiscovery.dir(rootP), hp.delta)
              val stream = f.getFileSystem(taskConf.value.value).open(f)
              if (hp.start == 0L) {
                val r = new org.apache.hadoop.util.LineReader(stream)
                val n = r.readLine(text)
                if (n > 0 && ScbfDiscovery.isHeaderLine(text.toString)) {
                  in = stream; lr = r; pos = n.toLong
                } else { stream.close(); done = true } // alien header → no rows
              } else {
                stream.seek(hp.start)
                val r = new org.apache.hadoop.util.LineReader(stream)
                val n = r.readLine(text) // align: discard the cut line
                if (n == 0) { stream.close(); done = true }
                else { in = stream; lr = r; pos = hp.start + n }
              }
            } catch { case scala.util.control.NonFatal(_) => done = true }
          }
          override def next(): Boolean = {
            if (!opened) open()
            if (done) return false
            try {
              while (pos <= hp.end) {
                val n = lr.readLine(text)
                if (n == 0) { done = true; return false }
                pos += n
                val l = text.toString
                if (l.nonEmpty) ScbfDiscovery.parseEntryLine(l) match {
                  case Some(e) =>
                    cur = new GenericInternalRow(Array[Any](
                      deltaName,
                      isFold,
                      UTF8String.fromString(e.name),
                      e.len,
                      e.ts * 1000L, // TimestampType is micros
                      UTF8String.fromString(ScbfDiscovery.actionOf(e)),
                      if (e.rewriteOf.isEmpty) null
                      else UTF8String.fromString(e.rewriteOf.mkString(",")),
                      e.rowsChanged))
                    return true
                  case None => () // torn line — skip, best-effort
                }
              }
              done = true; false
            } catch {
              case scala.util.control.NonFatal(_) => done = true; false
            }
          }
          override def get(): InternalRow = cur
          override def close(): Unit =
            if (in != null) try in.close() catch {
              case scala.util.control.NonFatal(_) => ()
            }
        }
      }
    }
}

class ScbfHistoryScanBuilder(root: Path, conf: Configuration)
  extends ScanBuilder {
  override def build(): Scan = new ScbfHistoryScan(root, conf)
}
