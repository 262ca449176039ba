package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/**
 * Directory maintenance for SCBF tables — the OPTIMIZE/compaction step
 * a 100 TB deployment runs between ingest and query.
 *
 * `cluster` rewrites a directory range-partitioned on the given
 * columns: a streaming ingest's many small epoch files (or an
 * unclustered batch write) become `numFiles` files with DISJOINT value
 * ranges on the cluster columns — the layout under which every
 * stats-driven optimization in this connector actually bites:
 * predicate file-skipping (q35/q36), runtime join pruning (q38), limit
 * prefixes, and top-k pruning (q39) all degrade to full scans when
 * every file spans the whole value range, and all prune to O(1) files
 * when ranges are disjoint.
 *
 * Safety is inherited from the connector's own write path, not
 * reimplemented: the overwrite captures the old files at job start and
 * deletes them only at job COMMIT (a failed rewrite leaves the old
 * table intact — ScbfBatchWrite's scaladoc), new files stage as
 * invisible dot-temps, and the job-commit manifest merge starts fresh
 * so no stale stats survive the rewrite. The read and the write are
 * separated by the range shuffle, so the input is fully consumed
 * before any publication happens. Concurrent READERS are safe at every
 * point (they see old files, or old+new during the commit window —
 * never partial files).
 *
 * Concurrent WRITERS: the rewrite reads an explicit SNAPSHOT listing
 * and passes the same names as the overwrite's `replaceFileNames`
 * scope, so the commit deletes exactly the files whose rows the
 * rewrite consumed. A file a concurrent append publishes after the
 * snapshot is neither read nor deleted — it survives untouched (the
 * next maintenance pass folds it in), where a listing-at-commit shape
 * would have DESTROYED it (deleted without its rows being in the
 * rewrite's input). Temps are likewise left alone on the snapshot
 * path; only a full (snapshot-free) overwrite sweeps them.
 */
object ScbfMaintenance extends org.apache.spark.internal.Logging {

  /** Test seam: invoked between the snapshot listing and the rewrite —
   * the window a concurrent append lands in. */
  private[sources] var raceHook: () => Unit = () => ()

  /**
   * The one snapshot rewrite behind [[cluster]], [[compact]] and
   * [[zorder]]: refuse on a clone; take the rewrite snapshot of the
   * directory's own files on the table root's log (`cdcRoot` for a
   * partition, the directory itself otherwise — a partitioned table
   * has one log, at its root) ([[ScbfRewrite.snapshot]]: the OCC
   * position BEFORE the listing, passed to the overwrite as
   * `occSnapTs` so the
   * conflict check runs at the COMMIT INSTANT — a concurrent DELETE
   * landing anywhere in the rewrite job aborts the rewrite instead of
   * having its removed rows resurrected; the listing rewrite-
   * transparent, healing what the log records as pending — OPTIMIZE is
   * the natural healer); then read exactly that snapshot, `shape` it
   * and overwrite exactly its files (`replaceFileNames`). Files of
   * `k=v` subdirectories are never part of it: a table-level sweep
   * rewrites each of those directories on its own, and folding them
   * into this one would duplicate or flatten the table.
   *
   * One skip rule for every kind: a snapshot of ONE file at a target
   * of ONE file is left alone — no job, no commit, no announcement
   * (Delta's bin-packing leaves a single-file bin alone the same way).
   * The rewrite could not change its data: [[cluster]] and [[zorder]]
   * range-partition ACROSS output files but never sort within one, so
   * the one output would hold the same rows as the one input, with
   * stats describing the same values, under a new name only. The file
   * keeps its name, bytes and sidecars; readers, pruning, streams and
   * the change feed see exactly the state the rewrite would have left.
   * Only the manifest's insert-only directory sketches (`dirndv`,
   * `dirhist`, `dirtopk`: size estimates, never answers or pruning)
   * keep the over-estimate earlier copy-on-write drops left, which a
   * rewrite's fresh manifest would have shed, until the directory next
   * changes ([[ScbfStats.mergeManifest]]).
   * The OCC snapshot and the heal still run first, so a skipped
   * directory heals like any other. [[compact]] adds its own
   * equal-count, balanced-sizes skip through `plan`.
   *
   * `plan` sees the snapshot and returns the shaping step, or None when
   * there is nothing worth rewriting. Returns the names folded into the
   * rewrite, empty when skipped. The overwrite's commit checks OCC on
   * the root's log and marks exactly this set as replaced there, under
   * root-relative names.
   */
  private def rewriteSnapshot(spark: SparkSession, dir: String, what: String,
      numFiles: Int, maxBufferedBytes: Option[Long], filePrefix: Option[String],
      cdcRoot: Option[String])(
      plan: Seq[org.apache.hadoop.fs.FileStatus] =>
        Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame])
      : Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    ScbfClone.refuseIfClone(p, conf, s"OPTIMIZE ($what)")
    val q = p.getFileSystem(conf).makeQualified(p)
    val root = q.getFileSystem(conf).makeQualified(new org.apache.hadoop.fs.Path(cdcRoot.getOrElse(dir)))
    val snap = ScbfRewrite.snapshot(s"maintenance rewrite on $dir", root, conf,
      () => ScbfRewrite.ownFiles(q, conf), probeFs = false, heal = true)
    val snapshot = snap.files
    // a freshly-created (or fully-truncated) directory has nothing to
    // rewrite — loading zero paths would crash with an unrelated error;
    // one file at a one-file target is already the rewrite's output
    if (snapshot.isEmpty || (snapshot.size == 1 && numFiles == 1)) return Seq.empty
    val shape = plan(snapshot).getOrElse(return Seq.empty)
    raceHook()
    val writer = shape(spark.read.format("scbf")
      .load(snapshot.map(_.getPath.toString): _*))
      .write.format("scbf").mode("overwrite")
      .option("replaceFileNames", snapshot.map(_.getPath.getName).mkString(","))
    maxBufferedBytes.foreach(b => writer.option("maxBufferedBytes", b))
    filePrefix.foreach(p => writer.option("filePrefix", p))
    cdcRoot.foreach(r => writer.option("cdcRoot", r))
    snap.position.foreach(t => writer.option("occSnapTs", t))
    writer.save(dir)
    snapshot.map(_.getPath.getName)
  }

  /** Range-partition the files of `dir` itself on `clusterCols` into
   * `numFiles` files with disjoint value ranges (no sort within a
   * file), so a directory already at one file with a one-file target
   * is skipped ([[rewriteSnapshot]]). Returns the names folded in.
   *
   * Per-partition maintenance rewrites pass the table root as
   * `cdcRoot`: the partition rewrite snapshots, checks and announces on
   * the root's log (the table's one log), and tags itself and retains
   * its victims under the root's CDC area ([[ScbfCdc]]). */
  def cluster(
      spark: SparkSession,
      dir: String,
      clusterCols: Seq[String],
      numFiles: Int,
      maxBufferedBytes: Option[Long] = None,
      filePrefix: Option[String] = None,
      cdcRoot: Option[String] = None): Seq[String] = {
    require(clusterCols.nonEmpty, "cluster requires at least one column")
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    rewriteSnapshot(spark, dir, "cluster", numFiles, maxBufferedBytes, filePrefix,
      cdcRoot)(_ => Some(_.repartitionByRange(numFiles, clusterCols.map(col): _*)))
  }

  /** Plain bin-packing compaction — `OPTIMIZE tbl [FILES n]` without a
   * BY clause: fold the directory's current files into `numFiles`
   * without imposing an order (Delta's un-ZORDERed OPTIMIZE). The
   * 100 TB small-file remedy when no clustering column is worth a
   * sort: same snapshot scoping, replace-only announcement (pure
   * compaction, no C:1 — streams stay silent) and commit discipline
   * as [[cluster]]. SHUFFLE-FREE in the normal (fold-down) direction:
   * the scan plans one partition per file, so `coalesce` packs several
   * files per task without moving a row — at 100 TB that is the whole
   * point of bin-packing over clustering. Only the rare grow-the-
   * file-count direction pays a repartition shuffle (coalesce cannot
   * split partitions). */
  def compact(
      spark: SparkSession,
      dir: String,
      numFiles: Int,
      maxBufferedBytes: Option[Long] = None,
      filePrefix: Option[String] = None,
      cdcRoot: Option[String] = None): Seq[String] = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    rewriteSnapshot(spark, dir, "compact", numFiles, maxBufferedBytes, filePrefix,
      cdcRoot) { snapshot =>
      // idempotence: already AT the target file count with a
      // plausibly-packed layout — re-running `OPTIMIZE tbl` must not pay
      // a full rewrite and churn the discovery log for a layout it
      // cannot improve. Count equality alone is NOT enough: one huge
      // file plus tiny ones has the target count but none of the
      // balance a pack exists to give, so the skip additionally requires
      // max ≤ 2× mean size (the one-huge-of-n case maxes out at n× mean,
      // so the band must sit well below small n; a rewrite's own
      // row-round-robin output lands within a few % of mean, so the
      // skip-after-pack contract holds and re-runs converge instead of
      // churning). An equal-count rebalance must REPARTITION:
      // coalesce(n) over n per-file input partitions is the identity and
      // would rewrite the skew verbatim. Growing the count (numFiles >
      // current) stays an explicit rewrite: the caller asked for more
      // parallelism.
      val lens = snapshot.map(_.getLen)
      val balanced = lens.max <= 2L * (lens.sum / lens.size)
      if (numFiles == snapshot.size && balanced) None
      else Some(df =>
        if (numFiles < snapshot.size) df.coalesce(numFiles)
        else df.repartition(numFiles))
    }
  }

  /** Table-level [[compact]] — every partition swept, each committing
   * on the root's log; same contract as [[clusterTable]]. */
  def compactTable(
      spark: SparkSession,
      dir: String,
      numFilesPerPartition: Int,
      maxBufferedBytes: Option[Long] = None,
      parallelism: Int = 1): Seq[String] =
    sweepPartitions(spark, dir, numFilesPerPartition, parallelism) { (part, prefix) =>
      compact(spark, part, numFilesPerPartition, maxBufferedBytes,
        Some(prefix), cdcRoot = Some(dir))
    }.map(_._1)

  /**
   * Z-order clustering rewrite — the multi-dimensional OPTIMIZE
   * (Delta's `ZORDER BY`): [[cluster]] range-partitions
   * HIERARCHICALLY, so only predicates on the FIRST cluster column
   * prune (a file holds one narrow slab of col1 but every value of
   * col2); interleaving the bits of equi-depth bucket ranks instead
   * gives every listed dimension locality — a point/range predicate
   * on ANY one of them prunes to ~N^((d-1)/d) of the files rather
   * than all of them.
   *
   * Mechanics (all Catalyst built-ins, no UDF in the rewrite plan):
   * one `approxQuantile` pass computes 2^bits equi-depth cutpoints per
   * column (equi-depth, not equi-width: skew cannot collapse the
   * buckets); each row's bucket is "count of cutpoints ≤ v" via the
   * `aggregate` HOF over the broadcast cutpoint literal (codegen'd,
   * O(2^bits) per row); buckets bit-interleave into the z-value; the
   * rewrite range-partitions on z and drops it before writing. Safety
   * is the same inherited overwrite path as [[cluster]].
   *
   * Numeric columns only (quantiles are numeric); `bits` per column
   * defaults to 8 (256 buckets — plenty against file counts, which are
   * ~10⁴ per directory even at 100 TB). Like [[cluster]], no sort
   * within a file: a one-file directory at a one-file target is
   * skipped before the quantile job ([[rewriteSnapshot]]).
   */
  def zorder(
      spark: SparkSession,
      dir: String,
      zCols: Seq[String],
      numFiles: Int,
      bits: Int = 8,
      maxBufferedBytes: Option[Long] = None,
      filePrefix: Option[String] = None,
      cdcRoot: Option[String] = None): Seq[String] = {
    require(zCols.size >= 2, "zorder needs >= 2 columns (use cluster for 1)")
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    require(bits >= 1 && bits <= 16, s"bits per column must be in [1,16], got $bits")
    import org.apache.spark.sql.functions._
    rewriteSnapshot(spark, dir, "zorder", numFiles, maxBufferedBytes, filePrefix,
      cdcRoot) { _ => Some { df =>
      zCols.foreach { c =>
        val dt = df.schema(c).dataType
        require(dt == org.apache.spark.sql.types.IntegerType ||
          dt == org.apache.spark.sql.types.DoubleType,
          s"zorder column '$c' must be numeric (int32/float64), got $dt")
      }
      require(!df.columns.exists(c => c == "__z" || c.startsWith("__zb_")),
        "zorder uses helper columns __z/__zb_N; rename conflicting table columns first")
      val nBuckets = 1 << bits
      // pass 1: equi-depth cutpoints (bounded driver data: 2^bits doubles
      // per column). relativeError trades one extra scan's precision for
      // speed; bucket skew only costs pruning sharpness, never rows.
      val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
      // ONE multi-column quantile job — d columns share a single table
      // scan (the single-column overload would cost d full scans)
      val cutArrays =
        df.stat.approxQuantile(zCols.toArray, probs, 0.001)
      val cuts: Map[String, Array[Double]] =
        zCols.zip(cutArrays).toMap
      // bucket rank: count of cutpoints <= v, via the aggregate HOF over
      // the cutpoint array literal — codegen'd, no UDF
      def bucket(c: String): org.apache.spark.sql.Column =
        aggregate(
          lit(cuts(c)),
          lit(0),
          (acc, cut) => acc + when(col(c).cast("double") >= cut, 1).otherwise(0))
      val withBuckets = zCols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
        d.withColumn(s"__zb_$i", bucket(c))
      }
      // interleave: bit b of column i lands at position b*d + i
      val zCol = (for {
        i <- zCols.indices
        b <- 0 until bits
      } yield shiftleft(
        shiftright(col(s"__zb_$i"), b).bitwiseAND(lit(1)).cast("long"),
        b * zCols.size + i))
        .reduce(_.bitwiseOR(_))
      withBuckets
        .withColumn("__z", zCol)
        .repartitionByRange(numFiles, col("__z"))
        .drop((zCols.indices.map(i => s"__zb_$i") :+ "__z"): _*)
    } }
  }

  /**
   * Table-level OPTIMIZE: run [[cluster]] in EVERY directory of a
   * (possibly hive-partitioned) table that holds data files with one
   * call — the shape an operator maintains a 100 TB table with. Each
   * directory's rewrite takes the directory's own files only, so a
   * stray data file at a partitioned table's root is clustered at the
   * root and the partitions below it are left to their own rewrites.
   * Each rewrite keeps the properties the single-directory form already
   * has (snapshot-scoped against concurrent appends, old files deleted
   * only at commit, fresh per-directory manifest), and partitions fail
   * independently: serially, a partition that throws stops the sweep
   * with everything before it fully maintained and everything after it
   * untouched; in parallel, every started partition attempt runs to
   * completion before the first failure surfaces (nothing is left
   * running in the background). Either way re-running is always safe,
   * and cheap where nothing changed: a partition already at one file
   * with a one-file target is skipped without a job or a commit, and,
   * when the sweep's walk listed it at one file, without reading the
   * table's log ([[rewriteSnapshot]] skips the rest); any other
   * partition re-clusters.
   *
   * One log per table: each partition's rewrite snapshots, checks OCC
   * and announces its outputs on the ROOT log under root-relative
   * names, so it sees every other writer of the table (INSERT, DELETE,
   * SQL UPDATE/MERGE) and a caught-up root stream admits the outputs
   * seen-without-delivery exactly like a root-level OPTIMIZE. A
   * skipped partition published nothing and announces nothing.
   *
   * `parallelism` runs that many partition rewrites as CONCURRENT
   * Spark jobs from driver threads — partitions are disjoint
   * directories (independent snapshots and manifests; each root-log
   * append is its own ordinal-CAS delta), so the only shared resource
   * is cluster capacity. A per-partition rewrite of a small
   * partition is dominated by fixed job overhead; a sweep of 10³
   * partitions serializing that overhead would make table maintenance
   * O(partitions) wall-clock for no reason. Returns the partition
   * directories maintained.
   */
  def clusterTable(
      spark: SparkSession,
      dir: String,
      clusterCols: Seq[String],
      numFilesPerPartition: Int,
      maxBufferedBytes: Option[Long] = None,
      parallelism: Int = 1): Seq[String] =
    sweepPartitions(spark, dir, numFilesPerPartition, parallelism) { (part, prefix) =>
      cluster(spark, part, clusterCols, numFilesPerPartition,
        maxBufferedBytes, Some(prefix), cdcRoot = Some(dir))
    }.map(_._1)

  /** Table-level [[zorder]] — the multi-dimensional [[clusterTable]];
   * same per-partition sweep on the root's log. */
  def zorderTable(
      spark: SparkSession,
      dir: String,
      zCols: Seq[String],
      numFilesPerPartition: Int,
      bits: Int = 8,
      maxBufferedBytes: Option[Long] = None,
      parallelism: Int = 1): Seq[String] =
    sweepPartitions(spark, dir, numFilesPerPartition, parallelism) { (part, prefix) =>
      zorder(spark, part, zCols, numFilesPerPartition, bits,
        maxBufferedBytes, Some(prefix), cdcRoot = Some(dir))
    }.map(_._1)

  /** `OPTIMIZE` as SQL runs it ([[graft.plans.GraftOptimizeCommand]]):
   * ZORDER BY z-orders, CLUSTER BY clusters, no BY clause compacts; a
   * partitioned table sweeps every partition. Returns the number of
   * original files folded in, summed over partitions — a skipped
   * directory folds none. */
  private[graft] def optimize(spark: SparkSession, dir: String, partitioned: Boolean,
      zorderBy: Boolean, cols: Seq[String], files: Int, parallelism: Int): Int = {
    def one(d: String, prefix: Option[String], root: Option[String]) =
      if (zorderBy) zorder(spark, d, cols, files, filePrefix = prefix, cdcRoot = root)
      else if (cols.isEmpty) compact(spark, d, files, None, prefix, root)
      else cluster(spark, d, cols, files, None, prefix, root)
    if (!partitioned) one(dir, None, None).size
    else sweepPartitions(spark, dir, files, parallelism)((part, prefix) =>
      one(part, Some(prefix), Some(dir))).map(_._2).sum
  }

  /** Each partition directory of `dir` with the number of files its
   * rewrite folded in. */
  private def sweepPartitions(spark: SparkSession, dir: String, numFiles: Int,
      parallelism: Int)(rewrite: (String, String) => Seq[String]): Seq[(String, Int)] = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    // a clone's data are refs into the SOURCE's directories: a sweep
    // of its own tree would miss them, so it refuses like the
    // single-directory rewrite does
    ScbfClone.refuseIfClone(root, conf, "OPTIMIZE (table)")
    // the directories holding data: the root of an unpartitioned
    // table, one leaf per partition value combination otherwise. An
    // unpruned walk of the whole tree, counted as the full-table
    // listing it is
    ScbfDataSource.listings.incrementAndGet()
    val parts = ScbfPartitions.walk(root, conf).filter(_.holdsData).toSeq
    // a directory the walk listed at one file, with a one-file target,
    // is skipped without a snapshot of the table's log: its live view
    // can only be that file or nothing, both skipped by rewriteSnapshot
    val oneFile = if (numFiles != 1) Set.empty[org.apache.hadoop.fs.Path]
      else parts.filter(_.dataFiles.size == 1).map(_.dir).toSet
    forEachDir(parts.map(_.dir), parallelism)(part => part.toString ->
      (if (oneFile(part)) 0
       else rewrite(part.toString, s"opt-${java.util.UUID.randomUUID().toString.take(8)}-").size))
  }

  /** Run `f` over independent directories with up to `parallelism`
   * concurrent driver threads (each typically launching Spark jobs).
   * EVERY started attempt runs to completion BEFORE the first failure
   * surfaces (unwrapped): propagating early would return control to
   * the caller while queued and in-flight work keeps running in the
   * background — an immediate retry (the documented recovery for
   * sweeps and table-level DELETE/UPDATE) would then race it, exactly
   * the single-rewriter hazard. Each per-directory op is atomic
   * (commit-or-leave-intact), so once this HAS returned, re-running
   * is always safe. Returns `f`'s results in `dirs` order. */
  private[sources] def forEachDir[T](
      dirs: Seq[org.apache.hadoop.fs.Path],
      parallelism: Int)(f: org.apache.hadoop.fs.Path => T): Seq[T] = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    if (parallelism == 1 || dirs.size <= 1) dirs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, dirs.size))
      try {
        val futures = dirs.map(d => pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = f(d)
        }))
        val results = futures.map(fu => scala.util.Try(fu.get()))
        val failures = results.collect { case scala.util.Failure(e) =>
          e match {
            case ee: java.util.concurrent.ExecutionException
              if ee.getCause != null => ee.getCause
            case other => other
          }
        }
        // surface EVERY partition's failure, not just the first: a
        // parallel sweep failing in several partitions must not hide
        // all but one cause — the rest attach as suppressed
        failures.headOption.foreach { first =>
          failures.drop(1).foreach(first.addSuppressed)
          throw first
        }
        results.map(_.get)
      } finally pool.shutdown()
    }
  }

  /**
   * Janitorial sweep of a table directory — the VACUUM step for a
   * long-running ingest: crashed task attempts leave invisible
   * dot-temps (a hard executor kill never runs abort()), and
   * out-of-band data-file deletion leaves orphan stats/bloom sidecars.
   * Neither affects correctness (temps are invisible to scans, orphan
   * sidecars are keyed by missing data names and length-guarded), but
   * at ingest rates they accumulate listing weight forever.
   *
   * On a CDC-ENABLED table ([[ScbfCdc]]) the sweep additionally
   * reclaims retention areas older than `cdcRetainMs` — and THAT is a
   * correctness trade, not litter: CDC windows and `TIMESTAMP AS OF`
   * points needing a swept tag refuse loudly afterwards (never wrong
   * rows), exactly Delta's VACUUM-vs-time-travel contract. Retention
   * gets its OWN horizon (default 7 days, Delta's
   * `delta.deletedFileRetentionDuration` shape) because the litter
   * horizon is sized for crashed-attempt temps (hours), while the CDC
   * horizon is the operator's audit promise — a routine default-args
   * vacuum must not destroy week-wide CDC windows. An explicit
   * `RETAIN n HOURS` in SQL overrides BOTH (one stated horizon is one
   * promise); size it beyond the widest CDC window any consumer
   * replays (`sweepCdc=false` opts a run out). Swept tags are logged.
   *
   * Only files older than `olderThanMs` are touched — the horizon
   * protects in-flight work: a LIVE task's staged temps are younger
   * than any sane horizon, and a streaming epoch that crashed between
   * staging and commit stages FRESH temps on replay (temp names embed a
   * per-attempt random attemptUuid — ScbfWrite), converging via the
   * epoch committer's content-identity check; the dead attempt's aged
   * temps are pure litter and always safe to sweep. Same single-writer
   * contract and
   * retention trade as Delta's VACUUM; default horizon 24 h.
   *
   * Returns (temps deleted, orphan sidecars deleted).
   */
  def vacuum(
      spark: SparkSession,
      dir: String,
      olderThanMs: Long = 24L * 3600 * 1000,
      sweepCdc: Boolean = true,
      cdcRetainMs: Long = 7L * 24 * 3600 * 1000): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return (0, 0)
    val all = fs.listStatus(p).filter(_.isFile)
    val live = all.map(_.getPath.getName)
      .filter(n => n.endsWith(graft.scbf.Scbf.FileExtension) && !n.startsWith("."))
      .toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    var temps = 0
    var orphans = 0
    all.foreach { st =>
      val n = st.getPath.getName
      if (st.getModificationTime < cutoff) {
        // a bloom/stats TEMP (.f.scbf.bloom.<uuid>.tmp) matches isTemp
        // too and sweeps as a temp
        if (ScbfWrite.isTemp(n)) { fs.delete(st.getPath, false); temps += 1 }
        else {
          val dataName =
            if (n.startsWith(".") && n.endsWith(".stats")) Some(n.drop(1).dropRight(6))
            else if (n.startsWith(".") && n.endsWith(".bloom")) Some(n.drop(1).dropRight(6))
            else None
          dataName.filterNot(live.contains).foreach { _ =>
            fs.delete(st.getPath, false); orphans += 1
          }
        }
      }
    }
    // CDC retention reclaim (ScbfCdc): tag areas older than the same
    // horizon sweep with the janitor — `VACUUM tbl RETAIN n HOURS` is
    // the SQL spelling of the retention trade, exactly as in Delta
    // (CDC windows and AS OF points needing swept tags refuse loudly
    // afterwards; the horizon is the operator's audit promise — see
    // scaladoc). Logged so a sweep that will make windows refuse is
    // visible in the run that did it.
    if (sweepCdc) {
      val swept = ScbfCdc.vacuum(p, conf, cdcRetainMs)
      if (swept > 0) logWarning(s"vacuum($dir): reclaimed $swept CDC " +
        s"retention area(s) older than ${cdcRetainMs} ms — CDC windows " +
        "and AS OF points needing them will refuse from now on")
    }
    (temps, orphans)
  }

  /** Table-level [[vacuum]]: the janitorial sweep over EVERY table
   * directory (the partitioned root's own litter and a crashed
   * write's temp-only partition directory both need sweeping, so
   * this walks every directory of [[ScbfPartitions.walk]], not just
   * data-holding ones). Directories sweep CONCURRENTLY up to
   * `parallelism` driver threads — per-directory vacuums are pure
   * independent filesystem metadata work (list + targeted deletes; no
   * Spark jobs), so on an object store the sweep's wall-clock is
   * latency-bound and serializing it is O(dirs) round-trips for no
   * reason. An explicit
   * `olderThanMs` (SQL `RETAIN n HOURS`) overrides both the litter
   * and the CDC-retention defaults, exactly as the per-directory
   * call does. Returns (temps removed, orphan sidecars removed). */
  def vacuumTable(
      spark: SparkSession,
      rootDir: String,
      olderThanMs: Option[Long] = None,
      parallelism: Int = 1): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val dirs = ScbfPartitions.walk(root, conf).map(_.dir).toSeq
    val temps = new java.util.concurrent.atomic.AtomicInteger(0)
    val orphans = new java.util.concurrent.atomic.AtomicInteger(0)
    forEachDir(dirs, parallelism) { d =>
      val (t, o) = olderThanMs match {
        case Some(ms) => vacuum(spark, d.toString, ms, cdcRetainMs = ms)
        case None     => vacuum(spark, d.toString)
      }
      temps.addAndGet(t); orphans.addAndGet(o); ()
    }
    (temps.get, orphans.get)
  }

  /** CLI: `cluster <dir> <numFiles> <col> [col ...]` or
   * `vacuum <dir> [horizonHours]` — the maintenance entry points
   * alongside the reference-shaped CSV CLI (CsvScbfApps). */
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("cluster", dir, n, cols @ _*) if cols.nonEmpty =>
      val spark = SparkSession.builder().getOrCreate()
      cluster(spark, dir, cols, n.toInt)
    case Seq("zorder", dir, n, cols @ _*) if cols.size >= 2 =>
      val spark = SparkSession.builder().getOrCreate()
      zorder(spark, dir, cols, n.toInt)
    case Seq("vacuum", dir) =>
      val spark = SparkSession.builder().getOrCreate()
      val (t, o) = vacuum(spark, dir)
      println(s"vacuum: removed $t temps, $o orphan sidecars")
    case Seq("vacuum", dir, hours) =>
      val spark = SparkSession.builder().getOrCreate()
      val (t, o) = vacuum(spark, dir, hours.toLong * 3600 * 1000)
      println(s"vacuum: removed $t temps, $o orphan sidecars")
    case _ =>
      System.err.println(
        "usage: ScbfMaintenance cluster <dir> <numFiles> <col> [col ...] | " +
          "zorder <dir> <numFiles> <col> <col> [col ...] | " +
          "vacuum <dir> [horizonHours]")
      sys.exit(2)
  }
}
