package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThan}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/**
 * Write-write CONFLICT DETECTION (OCC — Delta's ConcurrentDeleteRead
 * contract): two concurrent mutations whose victim sets overlap must
 * not both publish. Each rewrite round snapshots the log's newest
 * commit instant, then verifies nothing committed since named one of
 * its victims — once before any side effect, once after publishing
 * (before originals are removed; the loser rolls its replacement back
 * and refuses). Non-overlapping mutations still both commit.
 */
class OccConflictSpec extends AnyFunSuite with SparkTestBase {

  private def hconf = new Configuration()

  /** Two files: ids 0..999 and 1000..1999 (stats-disjoint). */
  private def writeTwoFiles(dir: String): Unit = {
    append(dir, 0, 1000)
    append(dir, 1000, 2000)
  }

  private def append(dir: String, from: Int, until: Int): Unit =
    spark.range(from, until)
      .select(col("id").cast("int").as("id"),
        concat(lit("src_"), (col("id") % 4).cast("int")).as("source"))
      .coalesce(1)
      .write.format("scbf").mode("append").save(dir)

  private def ids(dir: String): Set[Int] =
    spark.read.format("scbf").load(dir)
      .select("id").collect().map(_.getInt(0)).toSet

  test("overlapping UPDATE loses to a mid-flight DELETE: refuses loudly, then re-runs clean") {
    val dir = tmpDir("scbf-occ-updel")
    writeTwoFiles(dir)
    var fired = false
    ScbfDelete.raceHook = () => if (!fired) {
      fired = true
      // a concurrent DELETE commits between the UPDATE's listing and
      // its publish, rewriting the UPDATE's victim file
      ScbfDelete.deleteWhere(spark, dir, hconf, Array[Filter](LessThan("id", 200)))
    }
    val e = intercept[graft.scbf.ScbfFormatException] {
      try ScbfDelete.updateWhere(spark, dir, hconf,
        Array[Filter](LessThan("id", 500)),
        Map("source" -> lit("redacted")))
      finally ScbfDelete.raceHook = () => ()
    }
    assert(e.getMessage.contains("concurrent mutation conflict") &&
      e.getMessage.contains("re-run"), e.getMessage)
    // winner's state, exactly: the DELETE applied, the UPDATE did not
    assert(ids(dir) == (200 until 2000).toSet)
    assert(spark.read.format("scbf").load(dir)
      .filter(col("source") === "redacted").count() == 0L)
    // the refusal's cure works: a clean re-run commits
    ScbfDelete.updateWhere(spark, dir, hconf,
      Array[Filter](LessThan("id", 500)), Map("source" -> lit("redacted")))
    assert(spark.read.format("scbf").load(dir)
      .filter(col("source") === "redacted").count() == 300L) // 200..499
  }

  test("overlapping DELETE vs DELETE: the in-flight one refuses, the committed one stands") {
    val dir = tmpDir("scbf-occ-deldel")
    writeTwoFiles(dir)
    var fired = false
    ScbfDelete.raceHook = () => if (!fired) {
      fired = true
      ScbfDelete.deleteWhere(spark, dir, hconf,
        Array[Filter](GreaterThanOrEqual("id", 1800)))
    }
    val e = intercept[graft.scbf.ScbfFormatException] {
      try ScbfDelete.deleteWhere(spark, dir, hconf,
        Array[Filter](GreaterThanOrEqual("id", 1500)))
      finally ScbfDelete.raceHook = () => ()
    }
    assert(e.getMessage.contains("concurrent mutation conflict"), e.getMessage)
    assert(ids(dir) == (0 until 1800).toSet)
  }

  test("non-overlapping concurrent mutations both commit") {
    val dir = tmpDir("scbf-occ-disjoint")
    writeTwoFiles(dir)
    var fired = false
    ScbfDelete.raceHook = () => if (!fired) {
      fired = true
      // concurrent DELETE scoped (by stats) to the OTHER file only
      ScbfDelete.deleteWhere(spark, dir, hconf,
        Array[Filter](GreaterThanOrEqual("id", 1500)))
    }
    try ScbfDelete.deleteWhere(spark, dir, hconf,
      Array[Filter](LessThan("id", 500)))
    finally ScbfDelete.raceHook = () => ()
    assert(ids(dir) == (500 until 1500).toSet,
      "disjoint victim sets must not conflict")
  }

  test("OPTIMIZE refuses when a DELETE commits between its snapshot and its rewrite") {
    val dir = tmpDir("scbf-occ-opt")
    writeTwoFiles(dir)
    var fired = false
    ScbfMaintenance.raceHook = () => if (!fired) {
      fired = true
      // the delete's victims overlap the compaction's snapshot — a
      // compaction that proceeded would RESURRECT the deleted rows
      ScbfDelete.deleteWhere(spark, dir, hconf, Array[Filter](LessThan("id", 200)))
    }
    val e = intercept[graft.scbf.ScbfFormatException] {
      try ScbfMaintenance.compact(spark, dir, 1)
      finally ScbfMaintenance.raceHook = () => ()
    }
    assert(e.getMessage.contains("concurrent mutation conflict"), e.getMessage)
    // the delete won; nothing was resurrected and nothing compacted
    assert(ids(dir) == (200 until 2000).toSet)
    // the cure works: a clean re-run compacts to one file
    ScbfMaintenance.compact(spark, dir, 1)
    assert(ids(dir) == (200 until 2000).toSet)
    assert(ScbfDataSource.resolveFiles(Seq(dir), hconf).size == 1)
  }

  test("SQL COW UPDATE refuses when a racer's commit names its victims: then re-runs clean") {
    // the racer is simulated as its LOG COMMIT only (a physical racer
    // would also fold in this operation's task-committed staged files
    // — the listing-table visibility trade the ScbfDelete scaladoc
    // documents — making end-state assertions racy; the OCC signal is
    // the log entry either way)
    val dir = tmpDir("scbf-occ-sql")
    spark.sql("DROP TABLE IF EXISTS occ_sql")
    spark.sql(s"CREATE TABLE occ_sql (id INT, source STRING) USING scbf LOCATION '$dir'")
    writeTwoFiles(dir)
    val qdir = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val originals = ScbfDataSource.resolveFiles(Seq(dir), hconf)
      .map(_.getPath.getName).toSet
    var fired = false
    ScbfRowLevelBatchWrite.occHook = phase => if (phase == "pre" && !fired) {
      fired = true
      ScbfDiscovery.append(qdir, hconf, Seq(ScbfDiscovery.Entry(
        "racer-pre.scbf", 99L, System.currentTimeMillis(),
        rewriteOf = Seq(originals.head), rowsChanged = true)))
    }
    val e = intercept[Exception] {
      try spark.sql("""UPDATE occ_sql SET source = 'redacted'
        WHERE id IN (SELECT id FROM occ_sql WHERE id < 500)""")
      finally ScbfRowLevelBatchWrite.occHook = _ => ()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("concurrent mutation conflict") &&
      msgs.contains("re-run"), msgs)
    // clean abort: originals untouched, no redacted row serves
    assert(ids(dir) == (0 until 2000).toSet)
    assert(spark.sql("SELECT COUNT(*) FROM occ_sql WHERE source = 'redacted'")
      .head().getLong(0) == 0L)
    // the cure works (the racer's entry predates the re-run's snapshot)
    spark.sql("""UPDATE occ_sql SET source = 'redacted'
      WHERE id IN (SELECT id FROM occ_sql WHERE id < 500)""")
    assert(spark.sql("SELECT COUNT(*) FROM occ_sql WHERE source = 'redacted'")
      .head().getLong(0) == 500L)
  }

  test("SQL COW racer serializing AFTER our publish: we hold the lower ordinal and WIN") {
    // single-loser arbitration (round 15, ordinal CAS): a conflicting
    // commit at a HIGHER ordinal than ours is ITS recheck's problem —
    // pre-round-15 this was a both-abort (we rolled back too)
    val dir = tmpDir("scbf-occ-sql-late")
    spark.sql("DROP TABLE IF EXISTS occ_sql_late")
    spark.sql(s"CREATE TABLE occ_sql_late (id INT, source STRING) USING scbf LOCATION '$dir'")
    writeTwoFiles(dir)
    val qdir = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hconf).makeQualified(p)
    }
    // the victim must be one of the ORIGINAL files (at hook time the
    // just-published replacements are listed too)
    val originals = ScbfDataSource.resolveFiles(Seq(dir), hconf)
      .map(_.getPath.getName).toSet
    var fired = false
    ScbfRowLevelBatchWrite.occHook = phase => if (phase == "post" && !fired) {
      fired = true
      ScbfDiscovery.append(qdir, hconf, Seq(ScbfDiscovery.Entry(
        "foreign-racer.scbf", 123L, System.currentTimeMillis(),
        rewriteOf = Seq(originals.head), rowsChanged = true)))
    }
    try spark.sql("""UPDATE occ_sql_late SET source = 'redacted'
      WHERE id IN (SELECT id FROM occ_sql_late WHERE id < 2000)""")
    finally ScbfRowLevelBatchWrite.occHook = _ => ()
    // our commit stands — the racer (higher ordinal) is the loser and
    // must roll itself back (every connector surface rechecks)
    assert(spark.sql("SELECT COUNT(*) FROM occ_sql_late WHERE source = 'redacted'")
      .head().getLong(0) == 2000L, "the lower-ordinal commit must win")
  }

  test("a racer committing BEFORE our publish makes us the loser: replacement scrubbed, originals intact") {
    val dir = tmpDir("scbf-occ-late")
    writeTwoFiles(dir)
    val qdir = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hconf).makeQualified(p)
    }
    var fired = false
    // the racer's commit lands AFTER our pre-check but BEFORE our
    // publish: it owns the lower ordinal, so our recheck makes US the
    // single loser — we roll the published replacement back
    ScbfDelete.prePublishHook = () => if (!fired) {
      fired = true
      val victim = ScbfDataSource.resolveFiles(Seq(dir), hconf)
        .map(_.getPath.getName).find(!_.startsWith("rw-")).get
      ScbfDiscovery.append(qdir, hconf, Seq(ScbfDiscovery.Entry(
        "foreign-racer.scbf", 123L, System.currentTimeMillis(),
        rewriteOf = Seq(victim), rowsChanged = true)))
    }
    val e = intercept[graft.scbf.ScbfFormatException] {
      try ScbfDelete.deleteWhere(spark, dir, hconf,
        Array[Filter](LessThan("id", 1500)))
      finally ScbfDelete.prePublishHook = () => ()
    }
    assert(e.getMessage.contains("rolled back"), e.getMessage)
    // originals never removed; the published replacement was scrubbed
    // from disk AND from the log — the table renders its pre-op state
    assert(ids(dir) == (0 until 2000).toSet)
    val leftover = ScbfDataSource.resolveFiles(Seq(dir), hconf)
      .map(_.getPath.getName).filter(_.startsWith("rw-"))
    assert(leftover.isEmpty, s"rolled-back replacements must not survive: $leftover")
    val logged = ScbfDiscovery.listDeltas(qdir, hconf)
      .flatMap(n => ScbfDiscovery.readDelta(qdir, hconf, n))
      .map(_.name).filter(_.startsWith("rw-"))
    assert(logged.isEmpty, s"rolled-back entries must leave the log: $logged")
    // the scrub preserves the chain's ORDINAL SPAN (it rewrites through
    // the fold machinery): 2 waves + the racer's commit + the aborted
    // publish's slot = 4 versions — ordinals are append-only slots that
    // never shift, so VERSION AS OF / _commit_version axes survive an
    // OCC rollback intact (the aborted slot renders the racer's state)
    val chain = ScbfDiscovery.versionedChain(qdir, hconf)
    assert(chain.nonEmpty && chain.last._3 + 1 == 4,
      s"ordinal span must survive the scrub: $chain")
    // and the folded entries carry their recorded ordinals (V: tags)
    val stamped = ScbfDiscovery.listDeltas(qdir, hconf)
      .flatMap(n => ScbfDiscovery.readDelta(qdir, hconf, n))
      .filter(e => !e.name.startsWith("foreign-"))
      .flatMap(_.commitVersion)
    assert(stamped.toSet == Set(0, 1), s"folded ordinals: $stamped")
  }

  test("coexistence window: a racer planning during publish-to-removal bakes NO duplicates; both commit") {
    // the round-14 residual, closed by rewrite-transparent listings:
    // mutation A pauses between publishing its replacement and
    // removing its originals; mutation B lists during that window and
    // sees BOTH the original and the replacement. B must plan only the
    // replacement (the log records the original as A's victim), so B
    // commits clean; A's recheck sees B naming only A's OUTPUT —
    // serialized behind A, no conflict — and A completes. Both apply.
    val dir = tmpDir("scbf-occ-coexist")
    writeTwoFiles(dir)
    var fired = false
    ScbfDelete.postPublishHook = () => if (!fired) {
      fired = true
      // B: full overlapping mutation INSIDE A's coexistence window
      ScbfDelete.deleteWhere(spark, dir, hconf,
        Array[Filter](GreaterThanOrEqual("id", 600), LessThan("id", 700)))
    }
    try ScbfDelete.deleteWhere(spark, dir, hconf,
      Array[Filter](LessThan("id", 500))) // A
    finally ScbfDelete.postPublishHook = () => ()
    val all = spark.read.format("scbf").load(dir)
      .select("id").collect().map(_.getInt(0)).toSeq
    // exact net state of BOTH mutations, and — the residual's teeth —
    // zero duplicated rows from the double-planned window
    assert(all.size == all.distinct.size,
      s"coexistence duplicates baked: ${all.groupBy(identity).filter(_._2.size > 1).keys.take(5)}")
    assert(all.toSet == ((500 until 600) ++ (700 until 2000)).toSet)
  }

  test("a crashed takedown's dead original: excluded from planning, healed once stale") {
    // crash A between publish and removal (the hook throws): the dead
    // original + its replacement + the log record all persist. A later
    // DELETE must not fold the dead original back in (resurrection),
    // and once the record is stale it completes the pending removal.
    val dir = tmpDir("scbf-occ-crashed")
    writeTwoFiles(dir)
    val qdir = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hconf).makeQualified(p)
    }
    var fired = false
    ScbfDelete.postPublishHook = () => if (!fired) {
      fired = true
      throw new RuntimeException("simulated crash before removal")
    }
    intercept[RuntimeException] {
      try ScbfDelete.deleteWhere(spark, dir, hconf,
        Array[Filter](LessThan("id", 500)))
      finally ScbfDelete.postPublishHook = () => ()
    }
    val listedAfterCrash = ScbfDataSource.resolveFiles(Seq(dir), hconf)
      .map(_.getPath.getName)
    assert(listedAfterCrash.exists(_.startsWith("rw-")) &&
      listedAfterCrash.size >= 3,
      s"crash must leave original+replacement coexisting: $listedAfterCrash")
    // the dead original's name (recorded as a victim in the log)
    val victimNames = ScbfDiscovery.listDeltas(qdir, hconf)
      .flatMap(d => ScbfDiscovery.readDelta(qdir, hconf, d))
      .flatMap(_.rewriteOf).toSet
    val deadOriginal = listedAfterCrash.filter(victimNames)
    assert(deadOriginal.nonEmpty, s"victims recorded: $victimNames")
    // once stale, the next overlapping mutation EXCLUDES it from
    // planning (no resurrection into its rewrite) AND heals the
    // pending removal (the re-run cure completes, reads go clean)
    val grace = ScbfOcc.healGraceMs
    ScbfOcc.healGraceMs = 0L
    try ScbfDelete.deleteWhere(spark, dir, hconf,
      Array[Filter](GreaterThanOrEqual("id", 900), LessThan("id", 1000)))
    finally ScbfOcc.healGraceMs = grace
    assert(ids(dir) == ((500 until 900) ++ (1000 until 2000)).toSet,
      "the dead original must neither resurrect rows nor keep serving reads")
    val leftover = ScbfDataSource.resolveFiles(Seq(dir), hconf)
      .map(_.getPath.getName)
    assert(deadOriginal.forall(n => !leftover.contains(n)),
      s"stale dead originals must be healed away: kept=$leftover dead=$deadOriginal")
  }

  test("OPTIMIZE never resurrects a crashed takedown's rows") {
    val dir = tmpDir("scbf-occ-opt-res")
    writeTwoFiles(dir)
    var fired = false
    ScbfDelete.postPublishHook = () => if (!fired) {
      fired = true
      throw new RuntimeException("simulated crash before removal")
    }
    intercept[RuntimeException] {
      try ScbfDelete.deleteWhere(spark, dir, hconf,
        Array[Filter](LessThan("id", 500)))
      finally ScbfDelete.postPublishHook = () => ()
    }
    // the resurrection shape OCC alone cannot see: the crashed DELETE
    // fully committed BEFORE the OPTIMIZE's snapshot, so no conflict
    // fires — only the rewrite-transparent listing keeps its dead
    // original out of the fold (and, stale, heals it away)
    val grace = ScbfOcc.healGraceMs
    ScbfOcc.healGraceMs = 0L
    try ScbfMaintenance.compact(spark, dir, 1)
    finally ScbfOcc.healGraceMs = grace
    assert(ids(dir) == (500 until 2000).toSet,
      "OPTIMIZE must not fold a recorded victim back in")
  }

  test("a crashed arbitration loser's replacement: fork detected, rollback completed") {
    // the crash window single-loser arbitration leaves open: the
    // higher-ordinal racer dies between its publish and its recheck,
    // so nobody rolls its replacement back — the victims' rows would
    // serve twice forever. The fork (one victim, rewrites from two
    // distinct commits) is detectable from the log; the loser side is
    // excluded from planning and, once stale, its pending ROLLBACK is
    // completed (files deleted, entries scrubbed, span preserved).
    val dir = tmpDir("scbf-occ-loser")
    writeTwoFiles(dir)
    val qdir = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val fs = qdir.getFileSystem(hconf)
    val f1 = ScbfDataSource.resolveFiles(Seq(dir), hconf)
      .map(_.getPath).minBy(_.getName) // ids 0..999
    val f1Name = f1.getName
    // stash f1's pre-image (the crashed loser "rewrote" it blind)
    val stash = new org.apache.hadoop.fs.Path(dir, ".stash")
    org.apache.hadoop.fs.FileUtil.copy(fs, f1, fs, stash, false, hconf)
    // winner A: commits fully (rewrites f1, removes it)
    ScbfDelete.deleteWhere(spark, dir, hconf, Array[Filter](LessThan("id", 500)))
    // crashed loser B: its replacement (f1's pre-image) + announce
    // land AFTER A's commit — higher ordinal — and B never rechecks
    val loserName = "rw-loser00-crashed.scbf"
    val loserPath = new org.apache.hadoop.fs.Path(dir, loserName)
    fs.rename(stash, loserPath)
    val len = fs.getFileStatus(loserPath).getLen
    ScbfDiscovery.append(qdir, hconf, Seq(ScbfDiscovery.Entry(
      loserName, len, System.currentTimeMillis(),
      rewriteOf = Seq(f1Name), rowsChanged = true)))
    // the fork is live: reads double ids 500..999 (the crashed state)
    val doubled = spark.read.format("scbf").load(dir)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(doubled.size > doubled.distinct.size, "fixture sanity: fork doubles rows")
    // a later mutation detects the fork: loser excluded from planning
    // and (stale) its rollback completed
    val grace = ScbfOcc.healGraceMs
    ScbfOcc.healGraceMs = 0L
    try ScbfDelete.deleteWhere(spark, dir, hconf,
      Array[Filter](GreaterThanOrEqual("id", 1900)))
    finally ScbfOcc.healGraceMs = grace
    assert(ids(dir) == (500 until 1900).toSet,
      "the crashed loser's rows must be gone, the winner's state exact")
    assert(!fs.exists(loserPath), "the loser's replacement must be deleted")
    val logged = ScbfDiscovery.listDeltas(qdir, hconf)
      .flatMap(n => ScbfDiscovery.readDelta(qdir, hconf, n)).map(_.name)
    assert(!logged.contains(loserName), s"the loser's entry must be scrubbed: $logged")
    // the scrub preserved the ordinal span (slots never shift)
    val chain = ScbfDiscovery.versionedChain(qdir, hconf)
    assert(chain.nonEmpty && chain.last._3 + 1 >= 4, s"span survives: $chain")
  }

  test("arbitration rule: ordinal order picks exactly one loser") {
    import ScbfDiscovery.Entry
    val victims = Set("v.scbf")
    val self: String => Boolean = _.startsWith("me-")
    def racer(delta: String) =
      (Entry("foreign.scbf", 1L, 10L, rewriteOf = Seq("v.scbf"),
        rowsChanged = true), delta)
    // racer at a HIGHER ordinal: we (ordinal 3) win — no conflict
    assert(ScbfOcc.conflicts(Seq(racer("delta-v0000000004")), victims, self,
      ourOrd = Some(3)).isEmpty)
    // racer at a LOWER ordinal: we lose
    assert(ScbfOcc.conflicts(Seq(racer("delta-v0000000002")), victims, self,
      ourOrd = Some(3)).nonEmpty)
    // unknown ordinal (v1 delta): unconditional conflict, both-abort
    assert(ScbfOcc.conflicts(Seq(racer("delta-1700000000000-ab12cd34")),
      victims, self, ourOrd = Some(3)).nonEmpty)
    // no own ordinal (pre-publish): unconditional conflict
    assert(ScbfOcc.conflicts(Seq(racer("delta-v0000000004")), victims, self)
      .nonEmpty)
    // a fold-interior racer resolves through its V: tag
    val folded = (Entry("foreign.scbf", 1L, 10L, rewriteOf = Seq("v.scbf"),
      rowsChanged = true, commitVersion = Some(5)),
      "delta-v0000000009f0000000010s")
    assert(ScbfOcc.conflicts(Seq(folded), victims, self, ourOrd = Some(3)).isEmpty)
    assert(ScbfOcc.conflicts(Seq(folded), victims, self, ourOrd = Some(7)).nonEmpty)
    // an INSERT OVERWRITE boundary is never excused by ordinals
    val boundary = (Entry(
      s"${ScbfDiscovery.OverwriteBoundaryPrefix}x${ScbfDiscovery.RemovalSuffix}",
      ScbfDiscovery.RemovedLen, 10L, rowsChanged = true), "delta-v0000000009")
    assert(ScbfOcc.conflicts(Seq(boundary), victims, self, ourOrd = Some(3))
      .exists(_.contains("INSERT OVERWRITE")))
  }

  // The SQL row-level operation plans from ONE snapshot whose OCC
  // position precedes its first listing. Spark asks the ReplaceData
  // scan for its output partitioning, which lists, before it plans the
  // scan's partitions; a position taken at partition planning would
  // postdate that listing, so a commit landing between the two would
  // be neither among the listing's dead victims nor after the position.
  // The racer is a real API DELETE of the same rows, parked after its
  // publish (replacement announced, original still on disk) while the
  // SQL statement runs to its end. On a partitioned table the racer is
  // the table-level DELETE, whose partition rounds must check and
  // announce on the same root log the statement checks.
  for (partitioned <- Seq(false, true);
       // the racer deletes ids below `gone`; the statement touches ids
       // below `touched`, in the scope `where` (t. = the MERGE target)
       (gone, touched, where) = if (partitioned) (50, 100, "%sgrp = 'g0' AND ")
         else (200, 500, "");
       (what, sql) <- Seq(
         "UPDATE" -> s"UPDATE %s SET source = 'changed' WHERE ${where.format("")}id < $touched",
         "MERGE" -> (s"MERGE INTO %s t USING (SELECT CAST(id AS INT) AS id FROM range(0, $touched)) s " +
           s"ON ${where.format("t.")}t.id = s.id WHEN MATCHED THEN UPDATE SET t.source = 'changed'"),
         "subquery DELETE" -> (s"DELETE FROM %s WHERE ${where.format("")}id IN " +
           s"(SELECT CAST(id AS INT) FROM range(0, $touched))")))
    test(s"SQL $what refuses an API DELETE that publishes while its scan plans" +
        (if (partitioned) " (partitioned table)" else "")) {
      val t = s"occ_pos_${what.replace(' ', '_').toLowerCase}${if (partitioned) "_pt" else ""}"
      val dir = tmpDir(s"scbf-occ-pos-$t")
      spark.sql(s"DROP TABLE IF EXISTS $t")
      if (partitioned) {
        // two partitions of ids 0..149, each written as two files
        spark.sql(s"CREATE TABLE $t (id INT, source STRING, grp STRING) USING scbf " +
          s"PARTITIONED BY (grp) LOCATION '$dir'")
        Seq(0 -> 75, 75 -> 150).foreach { case (from, until) =>
          spark.sql(s"""INSERT INTO $t SELECT /*+ COALESCE(1) */ CAST(id % 150 AS INT),
            'src', concat('g', CAST(id / 150 AS INT)) FROM range(0, 300)
            WHERE id % 150 >= $from AND id % 150 < $until""")
        }
      } else {
        spark.sql(s"CREATE TABLE $t (id INT, source STRING) USING scbf LOCATION '$dir'")
        writeTwoFiles(dir)
      }
      val schema = spark.table(t).schema
      val published = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      @volatile var racerError: Option[Throwable] = None
      val racer = new Thread(() =>
        try {
          if (partitioned) ScbfDelete.deleteWhereTable(spark, dir, hconf, schema,
            Array[Filter](EqualTo("grp", "g0"), LessThan("id", gone)))
          else ScbfDelete.deleteWhere(spark, dir, hconf, Array[Filter](LessThan("id", gone)))
        } catch { case e: Throwable => racerError = Some(e) })
      ScbfDelete.postPublishHook = () => {
        published.countDown()
        release.await(120, java.util.concurrent.TimeUnit.SECONDS)
      }
      var fired = false
      ScbfRowLevelBatchWrite.occHook = phase => if (phase == "snapshot" && !fired) {
        fired = true
        racer.start()
        assert(published.await(120, java.util.concurrent.TimeUnit.SECONDS),
          "the racing DELETE never published")
      }
      val outcome =
        try scala.util.Try(spark.sql(sql.format(t)).collect())
        finally {
          ScbfRowLevelBatchWrite.occHook = _ => ()
          release.countDown()
          racer.join()
          ScbfDelete.postPublishHook = () => ()
        }
      assert(fired, "the row-level scan never took its snapshot")
      assert(racerError.isEmpty, s"the racing DELETE failed: $racerError")
      val msgs = outcome.failed.toOption.iterator
        .flatMap(e => Iterator.iterate(e)(_.getCause).takeWhile(_ != null))
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("concurrent mutation conflict"),
        s"$what must refuse, got ${outcome.map(_ => "success")} $msgs")
      // the DELETE's result, exactly: no row back, none doubled, none changed
      val rows = spark.read.format("scbf").load(dir).select("id", "source").collect()
      val expected =
        if (partitioned) (gone until 150) ++ (0 until 150) else gone until 2000
      assert(rows.map(_.getInt(0)).sorted.toSeq == expected.sorted)
      assert(!rows.exists(_.getString(1) == "changed"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }

  // OPTIMIZE planning inside a SQL UPDATE's publish-to-removal window:
  // the UPDATE's replacement and its original coexist on disk, and only
  // the log says the original is dead. OPTIMIZE takes its recorded
  // victims from the same root log the UPDATE announced on, so it folds
  // the replacement, never the original beside it. Run on a fresh table,
  // whose partitions never had a log of their own.
  test("OPTIMIZE planning in a SQL UPDATE's publish-to-removal window folds no original") {
    val t = "occ_opt_in_update"
    val dir = tmpDir(s"scbf-$t")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id INT, v INT, grp STRING) USING scbf " +
      s"PARTITIONED BY (grp) LOCATION '$dir'")
    Seq(0 -> 75, 75 -> 150).foreach { case (from, until) =>
      spark.sql(s"""INSERT INTO $t SELECT /*+ COALESCE(1) */ CAST(id % 150 AS INT),
        CAST(id % 150 AS INT), concat('g', CAST(id / 150 AS INT)) FROM range(0, 300)
        WHERE id % 150 >= $from AND id % 150 < $until""")
    }
    val go = new java.util.concurrent.CountDownLatch(1)
    @volatile var optimizeOutcome: scala.util.Try[Seq[String]] = null
    // created before the statement, so it inherits no SQL execution id
    val racer = new Thread(() => {
      go.await(120, java.util.concurrent.TimeUnit.SECONDS)
      optimizeOutcome = scala.util.Try(
        ScbfMaintenance.clusterTable(spark, dir, Seq("id"), 1))
    })
    racer.start()
    var fired = false
    ScbfRowLevelBatchWrite.occHook = phase => if (phase == "post" && !fired) {
      fired = true
      go.countDown()
      racer.join(120000)
    }
    val update =
      try scala.util.Try(spark.sql(
        s"UPDATE $t SET v = -7 WHERE grp = 'g0' AND id < 50").collect())
      finally {
        ScbfRowLevelBatchWrite.occHook = _ => ()
        go.countDown()
        racer.join()
      }
    assert(fired, "the UPDATE never published")
    assert(update.isSuccess, s"the UPDATE must stand: $update")
    assert(optimizeOutcome != null, "OPTIMIZE never ran")
    optimizeOutcome.failed.foreach(e => assert(
      Option(e.getMessage).exists(_.contains("concurrent mutation conflict")), e))
    // the UPDATE's result, exactly: 150 rows, each id once, 50 updated
    val g0 = spark.sql(s"SELECT id, v FROM $t WHERE grp = 'g0'").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).sortBy(_._1).toSeq
    assert(g0 == (0 until 150).map(i => i -> (if (i < 50) -7 else i)))
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE grp = 'g1'").head().getLong(0) == 150L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
