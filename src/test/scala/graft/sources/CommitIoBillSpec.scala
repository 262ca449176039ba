package graft.sources

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/**
 * The commit IO bill: per statement, how many directory listings
 * (`ScbfDataSource.listings`), discovery-log delta reads and appends
 * (`ScbfDiscovery.deltaReads` / `deltaAppends`) and stats-manifest
 * reads (`ScbfStats.manifestReads`) a copy-on-write commit costs on an
 * idle partitioned table. On an object store each is a round trip, so
 * the bounds below are ceilings a change may lower, never raise. The
 * counters are process-global: each is read as a delta around exactly
 * one statement.
 */
class CommitIoBillSpec extends AnyFunSuite with SparkTestBase {

  /** listings, delta reads, delta appends, manifest reads. */
  private case class Bill(listings: Long, deltaReads: Long, deltaAppends: Long,
      manifestReads: Long) {
    def <=(o: Bill): Boolean = listings <= o.listings && deltaReads <= o.deltaReads &&
      deltaAppends <= o.deltaAppends && manifestReads <= o.manifestReads
  }

  private def counters = Bill(ScbfDataSource.listings.get, ScbfDiscovery.deltaReads.get,
    ScbfDiscovery.deltaAppends.get, ScbfStats.manifestReads.get)

  private def bill(sql: String): Bill = {
    val a = counters
    spark.sql(sql).collect()
    val b = counters
    Bill(b.listings - a.listings, b.deltaReads - a.deltaReads,
      b.deltaAppends - a.deltaAppends, b.manifestReads - a.manifestReads)
  }

  /** A catalog table of 150 rows per partition over `parts`
   * partitions, written by two single-task inserts: two files in each
   * partition. */
  private def makeTable(name: String, parts: Int): Unit = {
    val dir = tmpDir(s"scbf-bill-$name")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name (id INT, v INT, grp STRING) USING scbf " +
      s"PARTITIONED BY (grp) LOCATION '$dir'")
    Seq(0 -> 75, 75 -> 150).foreach { case (from, until) =>
      spark.sql(s"""INSERT INTO $name SELECT /*+ COALESCE(1) */ CAST(id % 150 AS INT),
        CAST(id AS INT), concat('g', CAST(id / 150 AS INT))
        FROM range(0, ${150 * parts}) WHERE id % 150 >= $from AND id % 150 < $until""")
    }
  }

  for (parts <- Seq(1, 3))
    test(s"DELETE, UPDATE, MERGE and OPTIMIZE on $parts partition(s) stay within their bill") {
      val t = s"bill_t$parts"
      makeTable(t, parts)
      // a serial sweep: concurrent partition commits each replay the
      // root-log deltas the others appended meanwhile, so a parallel
      // sweep's delta reads depend on the interleaving
      spark.conf.set(graft.GraftConf.SweepParallelism, "1")
      try {
        spark.range(90, 110).selectExpr("CAST(id AS INT) AS id", "CAST(-1 AS INT) AS v")
          .createOrReplaceTempView(s"${t}_src")
        // DELETE, UPDATE and MERGE touch one partition and cost the same
        // on either table; OPTIMIZE pays per partition it rewrites. The
        // one counted listing is the sweep's walk of the table: a
        // rewrite lists only its own directory (ScbfRewrite.ownFiles),
        // and an append's schema check stops at the first header, and
        // neither is a full listing
        def perParts(one: Bill, three: Bill) = if (parts == 1) one else three
        def check(what: String, sql: String, bound: Bill): Unit = {
          val got = bill(sql)
          info(s"$what: $got")
          assert(got <= bound, s"$what on $parts partition(s) cost $got, bound $bound")
        }
        check("DELETE", s"DELETE FROM $t WHERE grp = 'g0' AND id < 20", Bill(0, 1, 2, 3))
        check("UPDATE", s"UPDATE $t SET v = v + 1 WHERE grp = 'g0' AND id < 60",
          Bill(0, 4, 1, 3))
        check("MERGE", s"""MERGE INTO $t t USING ${t}_src s ON t.grp = 'g0' AND t.id = s.id
          WHEN MATCHED THEN UPDATE SET t.v = s.v
          WHEN NOT MATCHED THEN INSERT (id, v, grp) VALUES (s.id, s.v, 'g0')""",
          Bill(0, 5, 1, 3))
        // an unbilled append gives every partition one more file, so the
        // OPTIMIZE rewrites each of them
        spark.sql(s"""INSERT INTO $t SELECT /*+ COALESCE(1) */ CAST(id AS INT), 0,
          concat('g', CAST(id % $parts AS INT)) FROM range(1000, 1010)""")
        check("OPTIMIZE", s"OPTIMIZE $t CLUSTER BY (id)",
          perParts(Bill(1, 1, 2, 0), Bill(1, 1, 6, 0)))
        // every partition is now one file at the one-file target: the
        // re-run replays each partition's log and appends nothing
        check("OPTIMIZE again", s"OPTIMIZE $t CLUSTER BY (id)",
          perParts(Bill(1, 2, 0, 0), Bill(1, 4, 0, 0)))
        // 150 rows a partition; the DELETE took ids 0..19 of g0, the
        // MERGE matched (updated) all of ids 90..109, inserting none, and
        // the append added 10
        assert(spark.sql(s"SELECT COUNT(*) FROM $t").head() == Row(150L * parts - 10))
        assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE v = -1").head() == Row(20L))
      } finally {
        spark.conf.unset(graft.GraftConf.SweepParallelism)
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
}
