package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

import graft.scbf.ScbfFormatException

/**
 * Hive-style directory partitioning for SCBF tables: `PARTITIONED BY
 * (col)` maps each partition value to a `col=value/` subdirectory of
 * the table root, and a filter on a partition column prunes whole
 * subdirectories BEFORE any of their metadata (manifest, sidecars,
 * blooms) is read — the directory-granularity layer above the
 * per-file stats skipping, and the prescribed layout for 100 TB
 * tables (10⁵ files in ONE directory makes both the reconcile listing
 * and the per-directory manifest monolithic; sharding by partition
 * bounds each directory's listing and manifest by its partition's
 * share).
 *
 * Design choices:
 *  - Partition columns are STORED IN THE DATA FILES TOO (not elided
 *    Hive-style): every subdirectory is then a complete, standalone
 *    SCBF directory — readable by the reference tooling, streamable,
 *    OPTIMIZE-able — and the format stays frozen. The redundancy is a
 *    few bytes per row of a constant (zlib flattens it).
 *  - Only identity transforms: `PARTITIONED BY (source)`, not
 *    bucket/days/etc — matching the three-type format (no timestamps
 *    to truncate) and keeping values bijective with directory names.
 *  - Read-side pruning needs no declared partitioning at all: any
 *    `k=v` path component under the table root whose `k` names a
 *    table column is evaluated against the pushed filters by
 *    synthesizing a point-interval stats entry and reusing
 *    [[ScbfStats.mayMatch]] — one prune semantics, not two.
 */
object ScbfPartitions {

  /** Identity-transform column names, validated against the schema.
   * One trailing `bucket(n, intCol)` transform is allowed (extracted by
   * [[bucketSpec]]); anything else (days, hours, truncate, …) is
   * rejected loudly at DDL/write time rather than silently ignored. */
  def partitionCols(transforms: Array[Transform], schema: StructType): Seq[String] = {
    val cols = transforms.toSeq.filterNot(isBucket).map { t =>
      if (t.name != "identity" || t.references.length != 1 ||
          t.references.head.fieldNames.length != 1)
        throw new ScbfFormatException(
          s"SCBF supports identity partition transforms (PARTITIONED BY (col)) " +
            s"plus one bucket(n, intCol), got: $t")
      t.references.head.fieldNames.head
    }
    cols.foreach(c =>
      if (!schema.fieldNames.contains(c)) throw new ScbfFormatException(
        s"partition column '$c' is not in the table schema ${schema.fieldNames.mkString("(", ", ", ")")}"))
    require(cols.distinct == cols, s"duplicate partition columns: $cols")
    cols
  }

  private def isBucket(t: Transform): Boolean = t.name == "bucket"

  /** The `bucket(n, col)` transform, if declared: (column, numBuckets).
   * At most ONE, on a single INT column (the 3-type format's natural
   * high-cardinality key shape — doc ids), declared LAST (its
   * directory level is innermost, under the identity cells). Rows
   * route to a `<col>_bucket=<b>/` directory where
   * `b = floorMod(value, n)` — the same function [[bucketId]] and the
   * catalog's V2 `bucket` function compute, which is what lets two
   * co-bucketed tables join storage-partitioned with zero exchanges.
   * The synthetic `<col>_bucket` path component is NOT a schema
   * column, so the cell-based pruning/read layers ignore it
   * (conservative keep) and every partition directory stays a
   * complete standalone SCBF table. */
  def bucketSpec(transforms: Array[Transform], schema: StructType): Option[(String, Int)] = {
    val buckets = transforms.toSeq.filter(isBucket)
    if (buckets.isEmpty) return None
    require(buckets.size == 1,
      s"SCBF supports at most one bucket transform, got: $buckets")
    require(isBucket(transforms.last),
      s"the bucket transform must be declared LAST in PARTITIONED BY " +
        s"(its directory level is innermost), got: ${transforms.toSeq}")
    val t = buckets.head
    // Transform shape: bucket(n, col) — one literal arg + one reference
    val col = t.references.headOption
      .filter(_.fieldNames.length == 1).map(_.fieldNames.head)
      .getOrElse(throw new ScbfFormatException(
        s"cannot read bucket transform column from $t"))
    val n = t.arguments.collectFirst {
      case lit: org.apache.spark.sql.connector.expressions.Literal[_]
          if lit.value.isInstanceOf[Number] => lit.value.asInstanceOf[Number].intValue()
    }.getOrElse(throw new ScbfFormatException(
      s"cannot read bucket count from transform $t"))
    require(n > 0, s"bucket count must be positive, got $n")
    schema.fields.find(_.name == col) match {
      case Some(f) if f.dataType == IntegerType => ()
      case Some(f) => throw new ScbfFormatException(
        s"bucket column '$col' must be INT, got ${f.dataType.simpleString} — " +
          "bucket the key column, not a measure")
      case None => throw new ScbfFormatException(
        s"bucket column '$col' is not in the table schema " +
          schema.fieldNames.mkString("(", ", ", ")"))
    }
    Some((col, n))
  }

  /** The bucket id of one value — floorMod keeps negatives in range.
   * MUST stay in lockstep with [[graft.sources.GraftBucketFunction]]
   * (the catalog's V2 function Spark resolves the transform against):
   * the write-side routing and the join-planning key are the same
   * function or storage-partitioned joins would silently co-locate
   * WRONG buckets. */
  def bucketId(value: Int, n: Int): Int = java.lang.Math.floorMod(value, n)

  /** The `<col>_bucket=<b>` path component. */
  def bucketDirName(col: String, b: Int): String = s"${col}_bucket=$b"

  /** `col=value` path component for one partition cell. */
  def dirName(col: String, value: String): String = s"$col=${escape(value)}"

  /** Chars outside the portable set are %XX-escaped per UTF-8 byte (the
   * Hive convention), so any string value round-trips through a path
   * component — including '/', '=', '%' and whitespace. */
  def escape(v: String): String = {
    val sb = new StringBuilder
    v.getBytes(UTF_8).foreach { b =>
      val c = b.toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9') || c == '.' || c == '-' || c == '_')
        sb.append(c)
      else sb.append(f"%%${b & 0xFF}%02X")
    }
    // a dot-leading component would be invisible to the listing
    if (sb.nonEmpty && sb.charAt(0) == '.') s"%2E${sb.substring(1)}" else sb.toString
  }

  /** Tolerant of foreign directory naming: a `%` not followed by two
   * hex digits stays literal, and unescaped non-ASCII characters pass
   * through unmangled (escaped byte runs decode as UTF-8). */
  def unescape(s: String): String = {
    def hex(c: Char) = (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')
    val sb = new StringBuilder
    val bytes = new java.io.ByteArrayOutputStream()
    def flush(): Unit = if (bytes.size > 0) {
      sb.append(new String(bytes.toByteArray, UTF_8)); bytes.reset()
    }
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length &&
          hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { flush(); sb.append(s.charAt(i)); i += 1 }
    }
    flush()
    sb.toString
  }

  /** Qualified table-root prefixes for relative-path extraction (glob
   * roots simply never prefix-match — no pruning, never a wrong one). */
  def qualifiedRoots(tablePaths: Seq[String], conf: Configuration): Seq[String] =
    tablePaths.flatMap { p =>
      try {
        val hp = new Path(p)
        Seq(hp.getFileSystem(conf).makeQualified(hp).toString)
      } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    }

  /** The `k=v` cells on `file`'s path below the first matching root,
   * keyed to schema columns only and IN PATH ORDER (outermost directory
   * first — the physical partition-column order, which storage-
   * partitioned join keys must follow). Empty for unpartitioned
   * layouts. */
  def orderedCells(file: Path, schema: StructType, roots: Seq[String]): Seq[(String, String)] = {
    val fp = file.toString
    roots.collectFirst { case r if fp.startsWith(r + "/") => fp.substring(r.length + 1) }
      .map { rel =>
        rel.split('/').dropRight(1).toSeq.flatMap { comp =>
          val i = comp.indexOf('=')
          if (i <= 0) None
          else {
            val k = comp.substring(0, i)
            if (schema.fieldNames.contains(k)) Some(k -> unescape(comp.substring(i + 1)))
            else None
          }
        }
      }.getOrElse(Seq.empty)
  }

  /** [[orderedCells]] as a map, for callers that only look values up. */
  def partValues(file: Path, schema: StructType, roots: Seq[String]): Map[String, String] =
    orderedCells(file, schema, roots).toMap

  /** ALL `k=v` path components below the root — including synthetic
   * (non-schema) cells like the bucket transform's `<col>_bucket=<id>`,
   * which [[orderedCells]] deliberately filters out. */
  def rawCells(file: Path, roots: Seq[String]): Map[String, String] = {
    val fp = file.toString
    roots.collectFirst { case r if fp.startsWith(r + "/") => fp.substring(r.length + 1) }
      .map { rel =>
        rel.split('/').dropRight(1).toSeq.flatMap { comp =>
          val i = comp.indexOf('=')
          if (i <= 0) None
          else Some(comp.substring(0, i) -> unescape(comp.substring(i + 1)))
        }.toMap
      }.getOrElse(Map.empty)
  }

  /** The typed value a partition cell encodes — the exact inversion of
   * the writer's cell formatting (ScbfWrite.cellString), shared by the
   * SPJ split keys and the grouped aggregate pushdown so those two
   * layers can never disagree on cell semantics. `-0.0` normalizes to
   * `0.0`, matching Spark's NormalizeFloatingNumbers view of group and
   * join keys (the writer routes both zeros to one directory; a legacy
   * `-0.0` directory parses to the normalized key, so its rows land in
   * the same group/split key as `0.0` rows — exactly what a scan +
   * aggregate computes). NaN declines: grouping on it would hinge on
   * NaN identity. None = no typed reading, callers must fall back. */
  def parseCell(dt: DataType, v: String): Option[Any] = dt match {
    case IntegerType => v.toIntOption
    case DoubleType =>
      v.toDoubleOption.filterNot(_.isNaN).map(d => if (d == 0.0) 0.0 else d)
    case StringType =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(v))
    case _ => None
  }

  /** Exact truth of `f` with respect to the `_file_path` metadata
   * column for a file at `path` — Some(v) when the outcome is fully
   * decided by the path alone (the column is a per-file constant),
   * None when any part references another column or an ordering shape
   * (undecidable here; the stats layers own data columns). Kleene
   * three-valued through And/Or/Not, so a mixed conjunction still
   * decides on its decided leg: And(false, unknown) = false, Or with
   * one Some(true) = true. Shared by scan pruning (drop a file iff
   * provably false) and the DELETE fast path (whole-file proof iff
   * provably true) — `WHERE _file_path = '…'` plans one file and
   * deletes it without a read. */
  def filePathTruth(f: Filter, path: String): Option[Boolean] = {
    import org.apache.spark.sql.sources._
    val C = ScbfDataSource.FilePathCol
    def s(v: Any): String = String.valueOf(v)
    f match {
      case EqualTo(C, null)                 => None // SQL: `= NULL` is NULL
      case EqualTo(C, v)                    => Some(path == s(v))
      case EqualNullSafe(C, v) if v != null => Some(path == s(v))
      case EqualNullSafe(C, _)              => Some(false) // never null
      case In(C, vs) =>
        // three-valued like SQL's IN: a null element can never MATCH,
        // but it makes a non-match UNKNOWN (not false) — otherwise
        // Not(In(path, [..., null])) would flip to a provably-true the
        // DELETE fast path acts on, deleting files SQL would keep
        if (vs.exists(v => v != null && path == s(v))) Some(true)
        else if (!vs.contains(null)) Some(false)
        else None
      case StringStartsWith(C, p)           => Some(path.startsWith(p))
      case StringEndsWith(C, p)             => Some(path.endsWith(p))
      case StringContains(C, p)             => Some(path.contains(p))
      case IsNull(C)                        => Some(false)
      case IsNotNull(C)                     => Some(true)
      case AlwaysTrue()                     => Some(true)
      case AlwaysFalse()                    => Some(false)
      case And(l, r) =>
        (filePathTruth(l, path), filePathTruth(r, path)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true))            => Some(true)
          case _                                   => None
        }
      case Or(l, r) =>
        (filePathTruth(l, path), filePathTruth(r, path)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false))        => Some(false)
          case _                                 => None
        }
      case Not(x) => filePathTruth(x, path).map(!_)
      case _      => None
    }
  }

  /** EXACT decision from partition-path cells, where [[prune]] is only
   * conservative: Some(matches) when EVERY column the filters
   * reference has a parseable cell on this file's path — the cells
   * are point values, so may-match IS must-match for the equality/
   * point-interval shapes static partition overwrite uses. None when
   * any referenced column lacks a cell (stray file, foreign layout,
   * unparseable value): the caller must decide another way or fail
   * loudly — an overwrite scope may never guess. */
  def decideByCells(file: Path, schema: StructType, filters: Seq[Filter],
      roots: Seq[String]): Option[Boolean] = {
    val usable = filters.filter(ScbfStats.usable)
    if (usable.isEmpty) return None
    val cells = partValues(file, schema, roots)
    val st = synth(cells, schema)
    val decided = usable.flatMap(_.references).distinct.forall(c =>
      st.cols.contains(c) || st.strCols.contains(c))
    if (!decided) None else Some(ScbfStats.mayMatch(usable, st))
  }

  /** Point-interval stats for the partition cells — evaluated by the
   * SAME [[ScbfStats.mayMatch]] the file-skipping layer uses, so
   * partition pruning and stats pruning can never disagree on filter
   * semantics. A cell that doesn't parse to its schema type (foreign
   * directory naming) is omitted — conservatively kept. */
  private def synth(values: Map[String, String], schema: StructType): ScbfStats.FileStats = {
    val cols = Map.newBuilder[String, ScbfStats.ColRange]
    val strs = Map.newBuilder[String, ScbfStats.StrRange]
    values.foreach { case (k, v) =>
      schema.fields.find(_.name == k).foreach { f =>
        f.dataType match {
          case IntegerType => v.toIntOption.foreach(i =>
            cols += k -> ScbfStats.ColRange(i.toDouble, i.toDouble))
          case DoubleType => v.toDoubleOption.filterNot(_.isNaN).foreach(d =>
            cols += k -> ScbfStats.ColRange(d, d))
          case StringType =>
            // the k=v cell IS the value for every row — exact by layout
            val b = v.getBytes(UTF_8)
            strs += k -> ScbfStats.StrRange(b, Some(b),
              exactMin = true, exactMax = true)
          case _ => ()
        }
      }
    }
    ScbfStats.FileStats(1L, cols.result(), strs.result())
  }

  /** Test seam: every directory [[walk]] listed, in listing order.
   * Specs and the pinned queries clear() it before the operation whose
   * listing scope they pin. Capped so a long-lived driver that never
   * clears it stops recording instead of growing without limit; the
   * count beside the queue keeps the cap check O(1) (a queue's size()
   * walks it), and clear() resets both. */
  private val listedCount = new java.util.concurrent.atomic.AtomicInteger(0)
  val listedDirs: java.util.concurrent.ConcurrentLinkedQueue[String] =
    new java.util.concurrent.ConcurrentLinkedQueue[String] {
      override def clear(): Unit = { super.clear(); listedCount.set(0) }
    }
  private[sources] val ListedDirsCap = 100000

  private[sources] def recordListing(p: Path): Unit =
    if (listedCount.get < ListedDirsCap && listedCount.incrementAndGet() <= ListedDirsCap)
      listedDirs.add(p.toString)

  /** The one hidden-name rule: a `_` or `.` prefix marks temps,
   * sidecars, logs and foreign files, never table data. */
  def isHidden(name: String): Boolean = name.startsWith(".") || name.startsWith("_")

  /** One directory [[walk]] visited, with its own listing sorted by name. */
  final case class Listed(dir: Path, children: Seq[FileStatus]) {
    def dataFiles: Seq[FileStatus] = children.filter(isData)
    def holdsData: Boolean = children.exists(isData)
  }

  private def isData(c: FileStatus): Boolean = c.isFile && ScbfDataSource.isDataFile(c.getPath)

  /**
   * The table tree, directory first: every table listing (scan
   * planning, path loads, schema inference, DELETE/UPDATE discovery,
   * OPTIMIZE, VACUUM, the overwrite temp sweep) is a projection of
   * this walk. A lazy pre-order iterator: each directory is listed
   * (ONE `listStatus`, recorded in [[listedDirs]]) only when the
   * iterator reaches it, so an early exit lists nothing further.
   *  - It descends only into non-hidden ([[isHidden]]) `k=v` child
   *    directories for which `keep` holds; anything else below the
   *    root is not part of the table.
   *  - `keep` is [[cellPrune]] for a filtered walk: partition NAMES
   *    are pruned before their contents are listed, conservatively
   *    (an unparseable cell, a foreign column or no usable filter
   *    keeps the subtree).
   *  - A directory that vanished after its parent was listed (a
   *    racing DROP PARTITION or rewrite) yields an empty listing.
   *  - Each listing is sorted by name, and children follow their
   *    parent in that order.
   */
  def walk(root: Path, conf: Configuration, keep: Path => Boolean): Iterator[Listed] = {
    val fs = root.getFileSystem(conf)
    // the listing of `d` waits until the iterator reaches it
    def visit(d: Path): Iterator[Listed] = Iterator.single(()).flatMap { _ =>
      recordListing(d)
      val children =
        try fs.listStatus(d).toSeq.sortBy(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      Iterator.single(Listed(d, children)) ++ children.iterator.filter { c =>
        val n = c.getPath.getName
        c.isDirectory && !isHidden(n) && n.indexOf('=') > 0 && keep(c.getPath)
      }.flatMap(c => visit(c.getPath))
    }
    visit(fs.makeQualified(root))
  }

  /** [[walk]] over every `k=v` directory. */
  def walk(root: Path, conf: Configuration): Iterator[Listed] = walk(root, conf, _ => true)

  /** The partition-cell prune for [[walk]]: keeps a directory unless
   * its cumulative `k=v` cells PROVE no row can pass the filters —
   * [[prune]]'s point-interval arithmetic at directory granularity. */
  def cellPrune(schema: StructType, filters: Seq[Filter],
      qroots: Seq[String]): Path => Boolean = {
    val usable = filters.filter(ScbfStats.usable)
    if (usable.isEmpty) _ => true
    else { dir =>
      // partValues drops the last path component: probe with a leaf
      val cells = partValues(new Path(dir, "f"), schema, qroots)
      cells.isEmpty || ScbfStats.mayMatch(usable, synth(cells, schema))
    }
  }

  /** Drop files whose partition-path values PROVE no row can pass the
   * filters. Pure path arithmetic — zero IO, which is what lets it run
   * BEFORE any manifest of a pruned directory is ever opened. */
  def prune(files: Seq[FileStatus], schema: StructType, filters: Seq[Filter],
      roots: Seq[String]): Seq[FileStatus] = {
    if (filters.isEmpty || roots.isEmpty) return files
    val usable = filters.filter(ScbfStats.usable)
    if (usable.isEmpty) return files
    // one evaluation per distinct parent directory, not per file
    val byDir = mutable.Map.empty[Path, Boolean]
    files.filter { f =>
      byDir.getOrElseUpdate(f.getPath.getParent, {
        val pv = partValues(f.getPath, schema, roots)
        pv.isEmpty || ScbfStats.mayMatch(usable, synth(pv, schema))
      })
    }
  }

  /** [[prune]] over bare paths — the clone ref list's shape: refs must
   * be pruned by their SOURCE-rooted cells BEFORE being stat'ed (the
   * whole point is never paying a HEAD for a pruned partition's refs,
   * exactly as the source's walk never lists a pruned directory).
   * Same per-parent memoized point-interval arithmetic, same
   * conservative keeps. */
  def prunePaths(paths: Seq[Path], schema: StructType, filters: Seq[Filter],
      roots: Seq[String]): Seq[Path] = {
    if (filters.isEmpty || roots.isEmpty) return paths
    val usable = filters.filter(ScbfStats.usable)
    if (usable.isEmpty) return paths
    val byDir = mutable.Map.empty[Path, Boolean]
    paths.filter { p =>
      byDir.getOrElseUpdate(p.getParent, {
        val pv = partValues(p, schema, roots)
        pv.isEmpty || ScbfStats.mayMatch(usable, synth(pv, schema))
      })
    }
  }
}
