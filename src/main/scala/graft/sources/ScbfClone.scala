package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

import graft.scbf.ScbfFormatException

/**
 * Zero-copy SHALLOW CLONE — the experimentation-branch primitive for a
 * 100 TB corpus: a new table whose data is a LIST OF REFERENCES to the
 * source's files (live now, or the `TIMESTAMP/VERSION AS OF` rendering)
 * instead of a CTAS copy. Creating one is metadata cost: one sidecar
 * write, zero data files opened or copied.
 *
 * Layout: the clone directory holds a dot-prefixed `.scbf.clone` ref
 * file (invisible to data listings and reference tooling, like every
 * other sidecar):
 * {{{
 *   clone\t1
 *   source\t<absolute source root>
 *   ref\t<absolute file path>\t<expected length>
 *   ...
 * }}}
 *
 * Semantics, deliberately narrow and loud:
 *  - READS resolve refs ∪ the clone directory's own files. Every ref
 *    is length-guarded: a referenced file a later source
 *    DELETE/UPDATE/OPTIMIZE/RESTORE physically removed (or rewrote)
 *    fails the read with the dangling-reference contract, never a
 *    silent partial table. Stats skipping, bloom pruning and manifest
 *    lookups ride the SOURCE directories' sidecars unchanged, and
 *    `_file_path` lineage points at the real (source) bytes.
 *  - APPENDS (INSERT INTO / streaming sink) land as ordinary files in
 *    the clone directory — the source is never touched.
 *  - Everything that would REWRITE shared bytes refuses on a clone:
 *    INSERT OVERWRITE, DELETE/UPDATE/MERGE, OPTIMIZE/ZORDER, RESTORE,
 *    ALTER COLUMN rewrites. The cure is always named: materialize
 *    with CTAS first.
 *  - VACUUM on the source only sweeps temps/orphans (never live data),
 *    so it cannot dangle a clone; the mutating ops above can, and the
 *    length-guard turns that into a loud read-time refusal.
 *  - A clone of a partitioned source is PARTITION-GRADE: the refs'
 *    absolute paths carry the source's `k=v` cells, so the branch
 *    keeps directory pruning ([[resolvePruned]] — refs outside the
 *    predicate's partitions are never even stat'ed), SPJ key
 *    inference, runtime (DPP) pruning and the partition-rollup
 *    aggregate fast path, all riding the SOURCE directories' layout
 *    and sidecars. The branch's OWN appends are partition-grouped
 *    too (identity layouts): the clone's catalog entry records the
 *    source's partitioning, so INSERTs route into `k=v`
 *    subdirectories of the clone root and pruning/rollup/SPJ survive
 *    an appended-to branch. A BUCKET-transform source's branch is
 *    first-class too when the clone TARGET is a graft-catalog name
 *    (round 13): the target's entry carries the source's transforms
 *    verbatim, so appends route into `<col>_bucket=<id>/` and the
 *    branch's relation resolves the bucket function through its own
 *    catalog — co-bucketed branch joins keep zero exchanges. A
 *    SESSION-catalog target of a bucketed source still keeps flat
 *    appends (the session catalog has no `bucket` function, so a
 *    reported bucket transform could never resolve — the documented
 *    trade, cured by the graft-catalog target spelling). What a branch does NOT
 *    have is partition MANAGEMENT (ADD/DROP/TRUNCATE PARTITION, SHOW
 *    PARTITIONS): its partitions live in the source; managing the
 *    local tree alone would half-drop (refs survive) or under-report
 *    (ref-only partitions missing) — refused loudly, manage the
 *    source or materialize first.
 *  - Cloning a clone works: resolution flattens through the ref list
 *    (the new clone references the same underlying absolute paths).
 */
object ScbfClone {

  val RefFile = ".scbf.clone"

  private val Header = "clone\t1"

  /** Ref-file stat calls ([[resolvePruned]]) — the
   * partition-grade pin: a partition-predicate read of a clone must
   * stat only the selected partitions' refs, not the whole list. */
  val refStats = new java.util.concurrent.atomic.AtomicLong(0)

  def refPath(dir: Path): Path = new Path(dir, RefFile)

  def isClone(dir: Path, conf: Configuration): Boolean =
    try refPath(dir).getFileSystem(conf).exists(refPath(dir))
    catch { case NonFatal(_) => false }

  /** Loud guard for every rewrite surface a clone must refuse. Fails
   * CLOSED: an exists() probe that ERRORS refuses too — this guard is
   * the only thing keeping OPTIMIZE/DELETE/OVERWRITE/RESTORE/ALTER off
   * a branch, and treating a transient filesystem error as "not a
   * clone" would let a rewrite resolve the refs to source files and
   * silently corrupt the branch (duplicated rows beside the surviving
   * ref list). Read paths keep best-effort [[isClone]]; the REWRITE
   * surface must not. */
  def refuseIfClone(dir: Path, conf: Configuration, op: String): Unit = {
    val clone =
      try refPath(dir).getFileSystem(conf).exists(refPath(dir))
      catch {
        case NonFatal(e) =>
          throw new ScbfFormatException(
            s"$op on $dir: could not verify whether the table is a SHALLOW " +
              s"CLONE (${e.getClass.getSimpleName}: ${e.getMessage}). " +
              "Refusing to proceed — this operation rewrites data files, and " +
              "running it against an unverified clone would corrupt the " +
              "branch. Fix the filesystem error and re-run.")
      }
    if (clone)
      throw new ScbfFormatException(
        s"$op on $dir: the table is a SHALLOW CLONE — its data files are " +
          "references into the source table, and this operation would " +
          "rewrite or delete shared bytes. Appends and reads are the " +
          "clone contract; for anything else, materialize first: " +
          "CREATE TABLE m USING scbf AS SELECT * FROM <clone>.")
  }

  /** Everything the ref file records: the source root, the source's
   * TABLE NAME as spelled at create time (for SHOW CREATE TABLE's
   * round-trip rendering — best-effort: the name may since have been
   * dropped or repointed; the PATHS are the truth), and the refs. */
  final case class CloneMeta(source: Path, sourceName: Option[String],
      refs: Seq[(Path, Long)])

  /** Publish the ref file (temp + atomic rename, the sidecar
   * discipline). `files` are the source files the clone references —
   * their ABSOLUTE paths and lengths at clone time. Unknown line kinds
   * are ignored by [[read]] (sidecar evolution rule), so adding
   * `sourcename` was compatible in both directions. */
  def write(dir: Path, conf: Configuration, sourceRoot: Path,
      files: Seq[FileStatus], sourceName: Option[String] = None): Unit = {
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val body = (Seq(Header, s"source\t$sourceRoot") ++
      sourceName.map(n => s"sourcename\t$n").toSeq ++
      files.map(f => s"ref\t${f.getPath}\t${f.getLen}")).mkString("\n")
    val tmp = new Path(dir, s"$RefFile.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, refPath(dir))) {
      fs.delete(tmp, false)
      throw new ScbfFormatException(s"could not publish clone ref file at $dir")
    }
  }

  /** The ref list. None when the directory is not a clone. A
   * present-but-corrupt ref file REFUSES (unlike best-effort stats:
   * refs ARE the data — a quietly half-read list would be a silently
   * partial table). */
  def read(dir: Path, conf: Configuration): Option[CloneMeta] = {
    val p = refPath(dir)
    val fs = p.getFileSystem(conf)
    if (!(try fs.exists(p) catch { case NonFatal(_) => false })) return None
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    val lines = new String(buf, UTF_8).split("\n").toSeq.filter(_.nonEmpty)
    if (!lines.headOption.contains(Header))
      throw new ScbfFormatException(
        s"clone ref file at $dir is unreadable — the clone cannot be " +
          "resolved (refs are the table's data, a partial list would be a " +
          "silently partial table). Re-create the clone.")
    val src = lines.collectFirst { case l if l.startsWith("source\t") =>
      new Path(l.stripPrefix("source\t")) }
      .getOrElse(throw new ScbfFormatException(
        s"clone ref file at $dir has no source line — re-create the clone."))
    val srcName = lines.collectFirst { case l if l.startsWith("sourcename\t") =>
      l.stripPrefix("sourcename\t") }
    val refs = lines.filter(_.startsWith("ref\t")).map { l =>
      l.split("\t", 3) match {
        case Array(_, path, ln) => (new Path(path), ln.toLong)
        case _ => throw new ScbfFormatException(
          s"clone ref file at $dir has a torn ref line — re-create the clone.")
      }
    }
    Some(CloneMeta(src, srcName, refs))
  }

  /** ONLY the source root — a streamed read of the ref file's first
   * two lines, so the scan's partition-root extension (the thing that
   * makes ref paths' `k=v` cells visible to the prune/SPJ/rollup
   * layers) never slurps a 10⁵-line ref list just to learn one path.
   * None (never a throw) for a non-clone or unreadable directory: this
   * feeds best-effort OPTIMIZATION layers; the resolve path keeps the
   * loud contract. */
  def sourceRoot(dir: Path, conf: Configuration): Option[Path] =
    try {
      val p = refPath(dir)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getFileSystem(conf).open(p), UTF_8))
      try {
        if (in.readLine() != Header) None
        else Option(in.readLine()).filter(_.startsWith("source\t"))
          .map(l => new Path(l.stripPrefix("source\t")))
      } finally in.close()
    } catch { case NonFatal(_) => None }

  /** The scan-planning roots: the table paths themselves plus, for any
   * that is a SHALLOW CLONE, its recorded source root. With the source
   * root present, every ref's `k=v` cells parse exactly as they do on
   * the source — which is what keeps directory pruning, SPJ keys,
   * runtime (DPP) pruning and the partition-rollup pushdown first-class
   * on a branch. One streamed 2-line probe per table path per scan
   * (driver-side, once — the plan already pays a listing per root). */
  def rootsWithSources(tablePaths: Seq[String], conf: Configuration): Seq[String] = {
    val own = ScbfPartitions.qualifiedRoots(tablePaths, conf)
    own ++ tablePaths.flatMap { p =>
      sourceRoot(new Path(p), conf).flatMap { s =>
        try Some(s.getFileSystem(conf).makeQualified(s).toString)
        catch { case NonFatal(_) => None }
      }
    }.distinct
  }

  /** ONE referenced file's status — schema inference needs a single
   * header, so a 10⁵-ref clone must not stat every ref for it. A
   * dangling first ref refuses with the same contract as [[resolvePruned]]
   * (schema inference is just the earliest reader to trip over it). */
  def firstRef(dir: Path, conf: Configuration): Option[FileStatus] =
    read(dir, conf).flatMap { meta =>
      meta.refs.headOption.map { case (p, _) =>
        try meta.source.getFileSystem(conf).getFileStatus(p)
        catch {
          case _: java.io.FileNotFoundException =>
            throw new ScbfFormatException(
              s"shallow clone at $dir: referenced file $p no longer exists. " +
                s"A mutating operation on the source (${meta.source}) rewrote or " +
                "removed bytes the clone references; re-create the clone " +
                "from the current source, or keep a materialized CTAS copy.")
        }
      }
    }

  /** Resolve the refs to live FileStatuses — pooled stats (a clone can
   * reference 10⁵+ files; object-store HEADs must overlap), each
   * length-guarded: missing or resized files refuse with the
   * dangling-reference contract. Partition-pruned — the branch-side
   * rendering of directory pruning: ref paths carry the SOURCE's `k=v`
   * cells, so a partition predicate drops whole source directories'
   * refs by pure path arithmetic BEFORE any of them is stat'ed. A
   * partition-scoped read of a 10⁵-ref clone stats (and length-guards)
   * only the selected partitions' refs — [[refStats]] is the pin.
   * Exactly [[ScbfPartitions.prune]]'s conservative semantics: an
   * unparseable cell or no usable filter keeps the ref (no filters
   * resolves every ref); every filter stays residual downstream, so
   * correctness never depends on the prune. The dangling-ref guard
   * narrows with the scope by design — a read that never plans a
   * pruned partition cannot (and need not) vouch for its refs, same as
   * the source's own pruned scan never touching a pruned directory's
   * files. */
  def resolvePruned(dir: Path, conf: Configuration,
      schema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[FileStatus] =
    read(dir, conf) match {
      case None => Seq.empty
      case Some(meta) =>
        val roots =
          try Seq(meta.source.getFileSystem(conf)
            .makeQualified(meta.source).toString)
          catch { case NonFatal(_) => Seq.empty }
        val keptPaths = ScbfPartitions.prunePaths(
          meta.refs.map(_._1), schema, filters, roots).toSet
        statRefs(dir, conf, meta, meta.refs.filter(r => keptPaths.contains(r._1)))
    }

  private def statRefs(dir: Path, conf: Configuration, meta: CloneMeta,
      refs: Seq[(Path, Long)]): Seq[FileStatus] = {
    val fs = meta.source.getFileSystem(conf)
    val futures = refs.map { case (p, expect) =>
      refStats.incrementAndGet()
      (p, expect, ScbfStats.ioPool.submit(
        new java.util.concurrent.Callable[FileStatus] {
          override def call(): FileStatus = fs.getFileStatus(p)
        }))
    }
    futures.map { case (p, expect, f) =>
      def dangling(why: String): Nothing = throw new ScbfFormatException(
        s"shallow clone at $dir: referenced file $p $why. A mutating " +
          s"operation on the source (${meta.source}) — DELETE/UPDATE/OPTIMIZE/" +
          "RESTORE — rewrote or removed bytes the clone references; " +
          "shallow clones share bytes by design (zero-copy) and cannot " +
          "survive source rewrites. Re-create the clone from the " +
          "current source, or keep a materialized CTAS copy for " +
          "long-horizon branches.")
      val st =
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException
              if e.getCause.isInstanceOf[java.io.FileNotFoundException] =>
            dangling("no longer exists")
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      if (st.getLen != expect)
        dangling(s"changed length (${st.getLen} != recorded $expect)")
      st
    }
  }
}
