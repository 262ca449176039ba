package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, lit, not, when}
import org.apache.spark.sql.sources._

/**
 * `DELETE FROM <scbf table> WHERE <cond>` — the takedown path a
 * training-data store actually needs (PII removal, right-to-be-
 * forgotten, licence retractions), wired through DSv2
 * [[org.apache.spark.sql.connector.catalog.SupportsDelete]] on
 * [[ScbfTable]].
 *
 * Execution is a STATS-SCOPED rewrite: files whose stats/blooms PROVE
 * no row can match (the same conjunctive check the scan prunes with)
 * are left byte-identical on disk — at 100 TB a targeted delete
 * touches the files holding the victims, not the table. Affected
 * files are read back (distributed), their surviving rows re-written
 * through the connector's own append path (task-commit publish,
 * manifest merge, bloom/stats sidecars — all inherited), and the
 * originals (plus their sidecars) are deleted last.
 *
 * The commit steps — rewrite-transparent listing and heal, OCC check
 * and post-publish recheck with rollback, victim removal — are the
 * shared copy-on-write commit path
 * ([[ScbfRewrite]]), with its failure contract: a crash before the
 * replacement commits leaves the delete un-happened; a crash after it
 * leaves original and replacement coexisting until the next rewrite's
 * listing hides and heals the original.
 *
 * The no-op fast path matters operationally: probing `DELETE WHERE
 * doc_id = k` over a clustered/bloom'd directory where nothing
 * matches rewrites NOTHING (pure metadata reads).
 *
 * Concurrency: concurrent APPENDS fold in through the bounded re-list
 * rounds of [[rewriteRounds]]; concurrent REWRITERS are arbitrated by
 * the shared OCC ([[ScbfRewrite.Occ]]).
 */
object ScbfDelete {

  /** Translate a pushed source Filter to a Column predicate; None when
   * any node is untranslatable (canDeleteWhere then declines and Spark
   * surfaces a clean error instead of a wrong delete). */
  def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, p)   => Some(col(a).startsWith(p))
    case StringEndsWith(a, p)     => Some(col(a).endsWith(p))
    case StringContains(a, p)     => Some(col(a).contains(p))
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case And(l, r) => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a && b
    case Or(l, r)  => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
    case Not(c)    => filterToColumn(c).map(not)
    case _         => None
  }

  def canDelete(filters: Array[Filter]): Boolean =
    filters.forall(f => filterToColumn(f).isDefined)

  /**
   * `DELETE FROM <partitioned scbf table> WHERE <cond>` — the
   * takedown path at its REAL layout: a 100 TB corpus is
   * hive-partitioned, and this routes the same stats-scoped rewrite
   * [[deleteWhere]] runs on a flat directory through every directory
   * the predicate can touch.
   *
   * Correctness is carried by ONE mechanism: the FULL condition is
   * enforced by every per-directory rewrite — partition columns are
   * STORED IN THE DATA FILES (ScbfPartitions' design choice), so
   * partition predicates evaluate exactly there like any other
   * column, and their per-file point-range stats make non-matching
   * files a pure metadata no-op. Directory-level partition pruning is
   * then a pure OPTIMIZATION (a `source = 'x'` takedown lists only
   * that partition): its conservative keeps — stray root-level files,
   * foreign `k=v` directories, unparseable cells — can cost a listing
   * but can never over-delete. Each per-directory pass lists LEAF
   * files only, so a stray file at the table root scopes a root pass
   * to the root's own files instead of recursing into every
   * partition.
   *
   * Every per-directory round snapshots, checks OCC and announces on
   * the table ROOT's discovery log — the table's one log, which SQL
   * UPDATE/MERGE and OPTIMIZE check too — under root-relative names,
   * so conflicting writers see each other and a root stream gets the
   * same onChangeCommit semantics as for a flat-directory DELETE.
   * `parallelism` drives
   * that many per-directory rewrites as concurrent Spark jobs (same
   * contract as [[ScbfMaintenance.clusterTable]]: every started
   * attempt completes before the first failure surfaces).
   */
  def deleteWhereTable(
      spark: SparkSession,
      rootDir: String,
      conf: org.apache.hadoop.conf.Configuration,
      tableSchema: org.apache.spark.sql.types.StructType,
      filters: Array[Filter],
      parallelism: Int = 1): Unit =
    tableRewrite(spark, rootDir, conf, tableSchema, filters, parallelism)((part, qroot) =>
      deleteWhere(spark, part, conf, filters, leafOnly = true, cdcRoot = Some(qroot)))

  /** Table-level [[updateWhere]] — same routing as
   * [[deleteWhereTable]]. SET targets must be data columns: updating
   * a partition column would move rows across directories (a
   * different operation — delete+insert — refused loudly). */
  def updateWhereTable(
      spark: SparkSession,
      rootDir: String,
      conf: org.apache.hadoop.conf.Configuration,
      tableSchema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String],
      filters: Array[Filter],
      set: Map[String, Column],
      parallelism: Int = 1): Unit = {
    val bad = set.keySet.intersect(partitionCols.toSet)
    require(bad.isEmpty,
      s"cannot UPDATE partition column(s) ${bad.mkString(", ")}: rows would " +
        "change directories — DELETE and re-INSERT instead")
    tableRewrite(spark, rootDir, conf, tableSchema, filters, parallelism)((part, qroot) =>
      updateWhere(spark, part, conf, filters, set, leafOnly = true, cdcRoot = Some(qroot)))
  }

  /** The directory sweep behind [[deleteWhereTable]] and
   * [[updateWhereTable]]: `perPartition` rewrites one in-scope data
   * directory, committing on the log of the (qualified) table root it
   * is given. */
  private def tableRewrite(
      spark: SparkSession,
      rootDir: String,
      conf: org.apache.hadoop.conf.Configuration,
      tableSchema: org.apache.spark.sql.types.StructType,
      filters: Array[Filter],
      parallelism: Int)(
      perPartition: (String, Path) => Unit): Unit = {
    require(canDelete(filters),
      s"untranslatable condition: ${filters.mkString(", ")}")
    val root = new Path(rootDir)
    val qroot = root.getFileSystem(conf).makeQualified(root)
    // qualified roots: prune prefix-matches against the listing's
    // qualified paths, so an unqualified caller path would silently
    // no-op the optimization (correctness unaffected — conservative)
    val qroots = ScbfPartitions.qualifiedRoots(Seq(rootDir), conf)
    // Bounded re-list rounds at the DIRECTORY level, mirroring
    // rewriteRounds' file-level guard: a concurrent INSERT can CREATE
    // a partition directory after the initial listing, and a one-shot
    // snapshot would silently exempt its rows from the condition.
    // Already-processed directories are NOT revisited — appends to
    // them after their pass land "after" this operation (the same
    // point-in-time semantics a flat-directory rewrite settles on
    // when its own re-list round comes up clean), and revisiting
    // would double-apply UPDATE's SET expressions.
    var done = Set.empty[Path]
    var round = 0
    while (true) {
      round += 1
      // directory-first discovery (ScbfPartitions.walk): prune
      // partition NAMES before listing their contents, so a scoped
      // takedown's listing bill is the in-scope subtree plus one root
      // listing — never a full-table leaf LIST per round. Pure
      // optimization (see scaladoc): over-keeping a directory only
      // costs its listing — the rewrite condition enforces exactness
      val parents = ScbfPartitions.walk(root, conf,
        ScbfPartitions.cellPrune(tableSchema, filters.toSeq, qroots))
        .filter(_.holdsData).map(_.dir).filterNot(done).toSeq
      if (parents.isEmpty) return
      if (round > MaxRewriteRounds) throw new graft.scbf.ScbfFormatException(
        s"partitioned rewrite on $rootDir: concurrent ingest kept creating " +
          s"in-scope partition directories through $MaxRewriteRounds re-list " +
          "rounds; giving up loudly. Directories processed so far are fully " +
          "rewritten and consistent — re-run once the ingest settles.")
      done ++= parents
      ScbfMaintenance.forEachDir(parents, parallelism)(part => perPartition(part.toString, qroot))
    }
  }

  /**
   * UPDATE ... SET ... WHERE as the same stats-scoped rewrite as
   * [[deleteWhere]]: files that provably hold no matching row stay
   * byte-identical; affected files rewrite with `set` applied to the
   * rows matching `cond` and every other row passed through
   * unchanged. `set` values are arbitrary Column expressions over the
   * row (so `SET n = n + 1` works); assigned columns must keep their
   * SCBF type (the write fails fast otherwise). Same append-then-
   * remove failure contract as delete.
   *
   * SQL `UPDATE` exists too since round 9 — Spark's
   * SupportsRowLevelOperations path ([[ScbfRowLevelOp]], q50) runs the
   * same group-based copy-on-write with snapshot scoping. This API
   * twin differs in two deliberate ways: it re-lists in bounded rounds
   * (concurrent appends fold in instead of landing "after"), and it
   * refuses partition-column SETs where the SQL path moves rows.
   */
  def updateWhere(
      spark: SparkSession,
      dir: String,
      conf: org.apache.hadoop.conf.Configuration,
      filters: Array[Filter],
      set: Map[String, Column],
      leafOnly: Boolean = false,
      cdcRoot: Option[Path] = None): Unit = {
    require(set.nonEmpty, "updateWhere needs at least one SET assignment")
    rewriteRounds(spark, dir, conf, filters, "UPDATE", leafOnly, cdcRoot) { (src, cond) =>
      set.keys.foreach(c => require(src.columns.contains(c),
        s"SET column '$c' does not exist in the table"))
      // ONE projection, not a withColumn chain: SQL UPDATE evaluates every
      // SET right-hand side against the OLD row (SET a = b, b = a swaps),
      // and a sequential chain would leak earlier assignments into later
      // expressions. Each assigned column casts back to its exact SCBF
      // type so `SET n = n + 1` cannot silently widen the schema.
      src.select(src.columns.map { c =>
        set.get(c) match {
          case Some(v) =>
            when(cond, v.cast(src.schema(c).dataType)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
    }
  }

  /** Delete all rows matching the CONJUNCTION of `filters` from the
   * single-directory table at `dir`. See object scaladoc. */
  def deleteWhere(
      spark: SparkSession,
      dir: String,
      conf: org.apache.hadoop.conf.Configuration,
      filters: Array[Filter],
      leafOnly: Boolean = false,
      cdcRoot: Option[Path] = None): Unit =
    rewriteRounds(spark, dir, conf, filters, "DELETE", leafOnly, cdcRoot) { (src, cond) =>
      // survivors under SQL three-valued logic: a row is deleted only when
      // cond is TRUE; NULL-condition rows must SURVIVE, and a bare
      // `filter(!cond)` would drop them (NOT NULL = NULL filters out).
      // Moot while the SCBF schema is nullable=false, but correct for any
      // future nullable column support.
      src.filter(not(org.apache.spark.sql.functions.coalesce(cond, lit(false))))
    }

  /** Bounded re-list rounds before a rewrite gives up on a directory
   * under sustained concurrent appends. */
  private val MaxRewriteRounds = 4

  /** Test seam for the concurrent-append race: invoked after a round's
   * scope is computed and before its rewrite runs — exactly the window
   * a concurrent append lands in. Specs inject an append here. */
  private[sources] var raceHook: () => Unit = () => ()

  /** Test seam for the OCC post-publish window: invoked after a
   * round's replacement has published (entries announced) and before
   * the post-publish conflict recheck — the window a blind racer's
   * commit lands in. Specs inject a conflicting commit here. */
  private[sources] var postPublishHook: () => Unit = () => ()

  /** Test seam for the OCC pre-publish window: invoked after the
   * pre-commit conflict check passes and before the round's
   * replacement publishes — a racer committing HERE serializes at a
   * LOWER ordinal than this round's commit, making this round the
   * arbitration loser at its recheck. */
  private[sources] var prePublishHook: () => Unit = () => ()

  /**
   * The shared rewrite engine for DELETE/UPDATE with the
   * CONCURRENT-APPEND GUARD: each round (1) lists the directory,
   * (2) stats-scopes the not-yet-accounted files, (3) rewrites the
   * affected ones through the connector's own append path (marked with
   * a round-unique `filePrefix` so this job's output is
   * distinguishable), and (4) removes the originals — then RE-LISTS.
   * A file a concurrent append published while the round ran shows up
   * in the next round's listing and is folded in (its matching rows
   * rewritten too) instead of silently surviving, which is what the
   * single listing-at-start shape did. Rounds are bounded: a directory
   * under a sustained in-scope append storm fails LOUDLY after
   * [[MaxRewriteRounds]] (work already done is complete and
   * consistent — the error says to re-run), never spins. The no-op
   * fast path is preserved: a provably-unmatched predicate returns
   * after one metadata-only round.
   */
  private def rewriteRounds(
      spark: SparkSession,
      dir: String,
      conf: org.apache.hadoop.conf.Configuration,
      filters: Array[Filter],
      op: String,
      // restrict each round's scope to files DIRECTLY in `dir`: a
      // table-level rewrite visits the root and each partition as
      // separate passes, and the root pass must not recurse into the
      // subdirectories another pass owns (double-applied UPDATEs,
      // survivors folded out of their partitions)
      leafOnly: Boolean = false,
      // table root the CDC area and the table's discovery log live
      // under — per-partition table-level passes pass the ROOT; a flat
      // call uses its own directory
      cdcRoot: Option[Path] = None)(
      rewrite: (org.apache.spark.sql.DataFrame, Column) => org.apache.spark.sql.DataFrame): Unit = {
    require(canDelete(filters),
      s"untranslatable ${op.toLowerCase} condition: ${filters.mkString(", ")}")
    val cond = filters.flatMap(filterToColumn).reduceOption(_ && _)
      .getOrElse(lit(true)) // empty WHERE = the whole table
    val where = s"$op on $dir"
    // names already processed or proven out of scope, plus this job's
    // own replacement prefixes (survivor files must never re-enter)
    var accounted = Set.empty[String]
    var ourPrefixes = Set.empty[String]
    val dfs = new Path(dir).getFileSystem(conf)
    val qdir = dfs.makeQualified(new Path(dir))
    // the table root: every round snapshots, checks OCC and announces
    // on its log, which names files relative to it (`k=v/<name>` for a
    // partition's), and CDC captures under it (ScbfCdc)
    val qcdc = dfs.makeQualified(cdcRoot.getOrElse(qdir))
    def rel(f: org.apache.hadoop.fs.FileStatus): String =
      ScbfCdc.relName(dfs, qcdc, f.getPath)
    val logPrefix = Some(ScbfCdc.relName(dfs, qcdc, qdir)).filter(_.nonEmpty).fold("")(_ + "/")
    // CDC capture (ScbfCdc): probe once per call; each round is its
    // own commit and gets its own tag. The API paths materialize EXACT
    // change rows — the condition (and for UPDATE, the rewrite
    // projection) is in hand, so no value-diffing is needed.
    val cdcOn = ScbfCdc.enabled(qcdc, conf)
    def cdcRowSets(src: org.apache.spark.sql.DataFrame)
        : Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val matched = src.filter(
        org.apache.spark.sql.functions.coalesce(cond, lit(false)))
      if (op == "DELETE") Seq("delete" -> matched)
      // update_post: the rewrite projection over the matched rows —
      // cond holds on every one of them, so the when(cond, …) arms
      // pick the assigned values
      else Seq("update_pre" -> matched, "update_post" -> rewrite(matched, cond))
    }
    // leafOnly lists the directory's own files, never recursing into
    // k=v subtrees another table-level pass owns (a stray root file on
    // a 10⁵-file table must not cost full-table listings per round)
    val listCandidates: () => Seq[org.apache.hadoop.fs.FileStatus] =
      if (leafOnly) () => ScbfRewrite.ownFiles(qdir, conf)
      else () => ScbfDataSource.resolveFiles(Seq(dir), conf)
    // files no earlier round listed, ours excluded
    def unseen(fs: Seq[org.apache.hadoop.fs.FileStatus]) = fs.filterNot(f =>
      accounted.contains(f.getPath.getName) || ourPrefixes.exists(f.getPath.getName.startsWith))
    var round = 0
    while (true) {
      round += 1
      // a later round first lists the directory alone: when no file
      // arrived since the last round's listing, nothing new is in scope
      // and the table's log need not be read
      if (round > 1 && unseen(listCandidates()).isEmpty) return
      // Each round plans from a fresh snapshot (ScbfRewrite.snapshot) of
      // the root's log: its OCC position BEFORE its listing, so anything
      // stamped after it committed concurrently with the round. Recorded
      // victims are dead bytes, excluded from the round's whole universe
      // (the empty-table guard's included) and healed once stale;
      // listCandidates is unpruned, so it is its own universe. The
      // root's replay cursor makes a later round's snapshot cost only
      // the deltas published since the last replay.
      val snap = ScbfRewrite.snapshot(where, qcdc, conf, listCandidates,
        probeFs = false, heal = true)
      val occ = new ScbfRewrite.Occ(where, qcdc, conf, snap.position)
      val listed = snap.files
      val candidates = unseen(listed)
      accounted ++= candidates.map(_.getPath.getName)
      val pruner = new ScbfStats.Pruner(conf, filters.toSeq)
      val affected = pruner.keepAll(candidates)(_.getPath, _.getLen)
      raceHook()
      if (affected.isEmpty) return // nothing new in scope: done
      if (round > MaxRewriteRounds) throw new graft.scbf.ScbfFormatException(
        s"$op on $dir: concurrent appends kept publishing in-scope files " +
          s"through $MaxRewriteRounds re-list rounds; giving up loudly. " +
          "Files processed so far are fully rewritten and consistent — " +
          "re-run once the append traffic settles.")
      val prefix = s"rw-${java.util.UUID.randomUUID().toString.take(8)}-"
      ourPrefixes += prefix
      // DELETE whole-file fast path: a file whose TRUSTED stats prove
      // every row matches the condition (ScbfStats.mustMatchAll —
      // point-range partition cells under `source = 'x'`, fully-
      // contained ranges under a band, rows==0 litter) is deleted
      // outright, never read or rewritten. At 100 TB this turns a
      // partition takedown from a partition-sized read+write into
      // O(files) metadata deletes. Strictly evidence-gated: no stats
      // or no proof → the exact rewrite below, and only DELETE can
      // take it (an UPDATE must evaluate SET on every matching row).
      // Failure contract unchanged in kind: removals are per-file and
      // re-runnable (a crash mid-removal leaves the remaining victims
      // still provably-matching for the re-run).
      val rewriteSet0 =
        if (op == "DELETE")
          affected.filterNot(f =>
            filters.isEmpty || pruner.provablyAllMatch(f.getPath, f.getLen))
        else affected
      // empty-table contract: if the fast path would remove EVERY live
      // file of this directory and publish nothing, the directory
      // would stop being a readable SCBF table (schema lives in file
      // headers). Pull the smallest victim back through the exact
      // rewrite so a (possibly 0-row) replacement file survives.
      val rewriteSet =
        if (rewriteSet0.isEmpty && affected.nonEmpty &&
            affected.size == listed.size)
          Seq(affected.minBy(_.getLen))
        else rewriteSet0
      val affectedNames = affected.map(rel).toSet
      val removalId = prefix.stripSuffix("-")
      val removalName = s"$logPrefix$removalId${ScbfDiscovery.RemovalSuffix}"
      // this operation's log entries, of any round: replacements and
      // REMOVAL entries, all named after a round's prefix
      def selfName(n: String): Boolean =
        ourPrefixes.exists(p => n.startsWith(logPrefix + p.stripSuffix("-")))
      occ.checkBeforePublish(affectedNames, selfName)
      prePublishHook()
      val tag = if (cdcOn) Some(ScbfCdc.newTag(op.toLowerCase(java.util.Locale.ROOT))) else None
      // CDC capture, BEFORE the replacement commits (a crash before
      // the commit aborts cleanly; the stray un-announced tag dir is
      // inert and vacuumable): materialize the round's change rows
      // from the originals, and list the whole-dropped victims (their
      // delete rows serve straight from the retained bytes). The ONE
      // source scan is shared: persisted across the change-row jobs
      // and the replacement rewrite, so CDC adds ~one pass over the
      // round's scope, not two or three.
      val srcOpt =
        if (rewriteSet.isEmpty) None
        else {
          val s = spark.read.format("scbf")
            .load(rewriteSet.map(_.getPath.toString): _*)
          Some(if (tag.isDefined) s.persist() else s)
        }
      // ONE try/finally spans the CDC change-row jobs AND the
      // replacement write: a throw anywhere after the persist (the
      // materialization included) must unpersist the cached source
      // scan, not leak it for the session
      try {
      tag.foreach { t =>
        srcOpt.foreach { src0 =>
          cdcRowSets(src0).foreach { case (ct, df) =>
            df.write.format("scbf").mode("append")
              .save(ScbfCdc.rowsDir(qcdc, t, ct).toString)
          }
        }
        val rewriteNames = rewriteSet.map(_.getPath.getName).toSet
        val whole = affected.filterNot(f => rewriteNames(f.getPath.getName))
        if (whole.nonEmpty) // DELETE-only by construction (fast path)
          ScbfCdc.recordWhole(dfs, qcdc, t, whole.map(rel))
      }
      if (srcOpt.isDefined) {
        // the connector's own append path (task-commit publish,
        // sidecars, manifest merge — a failure aborts with originals
        // untouched), announcing the replacements on the root's log as
        // rewrites of ALL affected names, tagged row-changing (C:1) so
        // a caught-up log-path stream applies its onChangeCommit policy
        val w = rewrite(srcOpt.get, cond).write.format("scbf").mode("append")
          .option("filePrefix", prefix)
          .option("rewriteOfNames", affected.map(_.getPath.getName).mkString(","))
          .option("cdcRoot", qcdc.toString)
        tag.foreach(t => w.option("cdcTag", t))
        w.save(dir)
      } else if (ScbfDiscovery.exists(qcdc, conf)) {
        // METADATA-ONLY round: every victim was dropped whole and no
        // replacement publishes, so a REMOVAL entry announces the
        // change (log-path consumers get the same onChangeCommit
        // semantics) while the takedown stays zero-data-IO. Gated on
        // the log existing — CREATING a log here would flip a log-less
        // table's streams from listing mode to a log that omits every
        // other file.
        ScbfDiscovery.append(qcdc, conf, Seq(ScbfRewrite.removalEntry(
          s"$logPrefix$removalId", affected.map(rel), tag)))
      }
      } finally if (tag.isDefined) srcOpt.foreach(_.unpersist())
      postPublishHook()
      // the recheck's replay names this round's published outputs (the
      // write announced them under our prefix); an unreadable replay
      // re-derives them from the prefix by one listing, for the rollback
      val ours = logPrefix + prefix
      occ.recheckAfterPublish(affectedNames, selfName,
        published = {
          case Some(post) => post.map(_._1.name).filter(_.startsWith(ours)).toSet
          case None => ScbfRewrite.ownFiles(qdir, conf).map(rel).filter(_.startsWith(ours)).toSet
        },
        alsoScrub = Set(removalName), cdc = tag.map((qcdc, _)))
      val victims = affected.map(_.getPath)
      ScbfRewrite.removeVictims(dfs, victims, retainAt = tag.map((qcdc, _)))
      ScbfRewrite.dropFromManifests(conf, victims)
    }
  }
}
