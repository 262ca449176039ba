package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/**
 * OPTIMIZE leaves a directory alone when the rewrite could not change
 * it: one data file at a one-file target (ScbfMaintenance's shared
 * skip rule). The skip must be invisible: readers, stats and bloom
 * pruning, a caught-up root stream and the change feed see what the
 * rewrite would have left, a multi-file directory still folds, and
 * an OPTIMIZE of an already-optimized table launches no Spark job.
 */
class OptimizeSkipSpec extends AnyFunSuite with SparkTestBase with BeforeAndAfterAll {

  private def hconf = spark.sessionState.newHadoopConf()

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("grp", StringType, nullable = false)))

  /** Spark jobs started under a job group, counted from the listener
   * bus; `count` runs `f` under a fresh group, then waits until a
   * marker job behind it has been seen, so every job `f` started has
   * been delivered too (one bus, in order). */
  private object Jobs extends SparkListener {
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(this)
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(seen.add)
    def count(f: => Unit): Int = {
      val group = s"optimize-skip-${java.util.UUID.randomUUID()}"
      val sc = spark.sparkContext
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(s"$group-marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-marker"), "listener bus did not drain")
      seen.toArray.count(_ == group)
    }
  }

  override def afterAll(): Unit = try spark.sparkContext.removeSparkListener(Jobs)
    finally super.afterAll()

  /** Every file under `dir` (data, sidecars, manifest, logs) with its
   * bytes. */
  private def contents(dir: String): Map[String, Seq[Byte]] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    val it = fs.listFiles(p, true)
    val out = Map.newBuilder[String, Seq[Byte]]
    while (it.hasNext) {
      val f = it.next().getPath
      out += f.toString -> java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f.toUri)).toSeq
    }
    out.result()
  }

  private def dataFiles(dir: String): Seq[String] =
    ScbfDataSource.resolveFiles(Seq(dir), hconf).map(_.getPath.getName).sorted

  private def insert(table: String, from: Int, until: Int): Unit =
    spark.sql(s"""INSERT INTO $table SELECT /*+ COALESCE(1) */
      CAST(id AS INT), CAST(id * 7 % 100 AS INT), concat('row', CAST(id AS INT)),
      concat('g', CAST(LEAST(id / 100, 2) AS INT)) FROM range($from, $until)""")

  /** A CDC-enabled catalog table: ids 0..299 in one file per partition
   * g0/g1/g2 (100 ids each), then ids 300..349 as a second g2 file —
   * two one-file partitions beside one two-file partition. Flat tables
   * get the same rows, as two files. */
  private def makeTable(name: String, partitioned: Boolean): String = {
    val dir = tmpDir(s"scbf-optskip-$name")
    ScbfCdc.enable(new Path(dir), hconf)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name (id INT, n INT, tag STRING, grp STRING) USING scbf " +
      (if (partitioned) "PARTITIONED BY (grp) " else "") + s"LOCATION '$dir'")
    insert(name, 0, 300)
    insert(name, 300, 350)
    dir
  }

  /** COUNT/SUM, a stats-pruned point query and a bloom-pruned IN on
   * the fixture, with the files each pruned query opened. */
  private def answers(table: String): Seq[Any] = {
    def opened(q: String): (Row, Long) = {
      ScbfUtil.dataFileOpens.set(0)
      val r = spark.sql(q).head()
      (r, ScbfUtil.dataFileOpens.get)
    }
    val (point, pointOpens) = opened(s"SELECT COUNT(*), SUM(n) FROM $table WHERE id = 150")
    // 'row150x' lies inside g1's tag range but is absent: only the
    // bloom keeps g1's file out
    val (in, inOpens) =
      opened(s"SELECT COUNT(*) FROM $table WHERE tag IN ('row42', 'row150x')")
    assert(pointOpens <= 1, s"$table: a point query must stats-prune to 1 file: $pointOpens")
    assert(inOpens <= 1, s"$table: the IN must bloom-prune to 1 file: $inOpens")
    Seq(spark.sql(s"SELECT COUNT(*), SUM(id), SUM(n) FROM $table").head(), point, in)
  }

  private val expected = Seq(
    Row(350L, (0L until 350L).sum, (0 until 350).map(i => (i * 7 % 100).toLong).sum),
    Row(1L, 50L), Row(1L))

  /** A root stream caught up on `dir`; `next()` returns the files a
   * further trigger would deliver. */
  private def caughtUpStream(dir: String): () => Seq[String] = {
    val ckpt = Files.createTempDirectory("scbf-optskip-ckpt").toString
    val s = new ScbfMicroBatchStream(schema, Seq(dir), hconf, ckpt, reconcileEvery = 0)
    def trig(from: ScbfOffset): ScbfOffset =
      s.latestOffset(from, ReadLimit.allAvailable()).asInstanceOf[ScbfOffset]
    val o1 = trig(ScbfOffset(0))
    assert(s.planInputPartitions(ScbfOffset(0), o1).nonEmpty, "baseline delivery")
    var at = trig(o1)
    () => {
      val next = trig(at)
      val planned = s.planInputPartitions(at, next)
        .map(_.asInstanceOf[ScbfFilePartition].path).toSeq
      at = next
      planned
    }
  }

  for ((kind, by) <- Seq("CLUSTER" -> "CLUSTER BY (id)", "ZORDER" -> "ZORDER BY (id, n)")) {
    test(s"$kind: one-file partitions are skipped, untouched; the two-file one folds") {
      val t = s"optskip_p_${kind.toLowerCase}"
      val dir = makeTable(t, partitioned = true)
      try {
        val one = Seq("g0", "g1").map(g => s"$dir/grp=$g")
        assert(one.map(dataFiles(_).size) == Seq(1, 1) && dataFiles(s"$dir/grp=g2").size == 2)
        assert(answers(t) == expected)
        val next = caughtUpStream(dir)
        val before = one.map(contents)
        val t1 = { Thread.sleep(5); System.currentTimeMillis() }
        val folded = spark.sql(s"OPTIMIZE $t $by").head().getInt(0)
        assert(folded == 2, "only the two-file partition folds in")
        // a skipped partition keeps its data file (same name, same
        // bytes), its sidecars, manifest and log: nothing was written
        assert(one.map(contents) == before)
        one.foreach { d =>
          val f = dataFiles(d).head
          Seq(s".$f.stats", s".$f.bloom").foreach(s =>
            assert(new java.io.File(s"$d/$s").exists(), s"$d lost its sidecar $s"))
        }
        assert(dataFiles(s"$dir/grp=g2").size == 1, "the two-file partition folds to one")
        assert(answers(t) == expected)
        assert(next().isEmpty, "a caught-up root stream must receive nothing")
        assert(ScbfCdc.changes(spark, dir, since = Some(t1)).count() == 0,
          "the OPTIMIZE window must enumerate no change")
        // the table is now optimized: a second OPTIMIZE folds nothing,
        // appends no log delta and launches no Spark job
        val appends = ScbfDiscovery.deltaAppends.get
        val jobs = Jobs.count {
          assert(spark.sql(s"OPTIMIZE $t $by").head().getInt(0) == 0)
        }
        assert(jobs == 0, s"an OPTIMIZE with nothing to change launched $jobs jobs")
        assert(ScbfDiscovery.deltaAppends.get == appends)
        assert(answers(t) == expected && next().isEmpty)
      } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    }

    test(s"$kind: a one-file flat table is skipped; two files still fold to one") {
      val t = s"optskip_f_${kind.toLowerCase}"
      val dir = makeTable(t, partitioned = false)
      try {
        assert(dataFiles(dir).size == 2)
        val next = caughtUpStream(dir)
        val t1 = { Thread.sleep(5); System.currentTimeMillis() }
        assert(Jobs.count {
          assert(spark.sql(s"OPTIMIZE $t $by").head().getInt(0) == 2)
        } > 0, "the fold itself must be seen launching jobs")
        assert(dataFiles(dir).size == 1)
        assert(answers(t) == expected)
        val before = contents(dir)
        val jobs = Jobs.count {
          assert(spark.sql(s"OPTIMIZE $t $by").head().getInt(0) == 0)
        }
        assert(jobs == 0, s"an OPTIMIZE of a one-file table launched $jobs jobs")
        assert(contents(dir) == before, "a skipped table must not be written to")
        assert(answers(t) == expected)
        assert(next().isEmpty, "a caught-up stream must receive nothing")
        assert(ScbfCdc.changes(spark, dir, since = Some(t1)).count() == 0,
          "the OPTIMIZE window must enumerate no change")
      } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("FILES n above one still rewrites a one-file directory") {
    val t = "optskip_grow"
    val dir = makeTable(t, partitioned = true)
    try {
      assert(spark.sql(s"OPTIMIZE $t CLUSTER BY (id) FILES 2").head().getInt(0) == 4)
      assert(Seq("g0", "g1", "g2").map(g => dataFiles(s"$dir/grp=$g").size) == Seq(2, 2, 2))
      assert(answers(t) == expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
