package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers shared by every operator module — one definition each, so a
 * change to (say) the decimal-accumulation strategy cannot silently
 * apply to some queries and not others. */
private[graft] object Ops { // graft-wide: Bench clears staged relations between reps

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table with `ts` normalized to nanos-since-epoch LONG —
   * the contract every consumer (q17/q21/q33/t5, the streaming twins'
   * batch sides) is written against. The fixture has shipped `ts` two
   * ways across rounds: parquet TIMESTAMP(NANOS) (which Spark 4 refuses
   * unless read as a long via `nanosAsLong` — already naive nanos) and
   * timestamp[us] (Spark reads TIMESTAMP_NTZ). Both normalize here, and
   * ONLY here, so a fixture regeneration cannot silently fork query
   * semantics. The NTZ arm uses naive wall-clock arithmetic
   * (`timestampdiff` is timezone-free on NTZ) — bit-identical to
   * DuckDB's `epoch_ns(ts)` on the same naive values, independent of
   * the host timezone. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsAsNanos(t(s, dir, "events"))
  }

  /** Normalize an events-shaped frame's `ts` to naive nanos-since-epoch
   * long (see [[events]]); identity when already long. */
  def tsAsNanos(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => df
    case org.apache.spark.sql.types.TimestampNTZType =>
      // epoch-2024 micros ~1.7e15; *1000L stays well inside Long range
      df.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) * 1000L"))
    case other =>
      throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other; expected LONG (nanos) or TIMESTAMP_NTZ")
  }

  /** Exact, order-independent double aggregation: per-row cast to a
   * decimal whose scale matches the data's true decimal precision, exact
   * integer-arithmetic SUM, then one cast back to double. Both engines
   * produce bit-identical results — no round-half boundary flips, which
   * plain ROUND(SUM(double)) suffers (observed: penny-off groups in the
   * per-order revenue sums). */
  def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact decimal-accumulated mean (see dsum). */
  def dmean(c: Column, scale: Int): Column =
    dsum(c, scale) / count(lit(1))

  /** Target partition count for spreading CPU-bound per-row work over
   * few-partition (single-file) inputs. Always pass this explicitly to
   * repartition: AQE coalesces a bare repartition(col) of a small table
   * straight back to one partition. */
  def spread(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Scale-ADAPTIVE spread (optimization r15): repartition on `key`
   * only when the plan's source parallelism cannot fill the session's
   * — the single-file fixture shape, where a deliberately map-side
   * kernel (the span-window explodes) otherwise runs on as many cores
   * as the input has SPLITS (profiled: 2-task 300 ms stages at 32
   * cores). At 100 TB input splits ≫ cores, the branch is a no-op and
   * the pipeline stays shuffle-free exactly where that matters; this
   * is the "derive partitioning from input size, not a constant"
   * rule, not a local[32] tune. Results are partition-independent
   * (hash aggregates / per-doc windows downstream). */
  def spreadIfNarrow(s: SparkSession, df: DataFrame, key: Column): DataFrame =
    if (isNarrow(s, df)) df.repartition(spread(s), key) else df

  /** The narrowness predicate behind every scale-adaptive plan choice
   * (spreadIfNarrow, q28's rank gate): true when the plan's source
   * parallelism cannot fill the session's — i.e. the small-fixture
   * shape. At 100 TB input splits ≫ cores and this is always false.
   * Counting partitions compiles the physical plan (fine for the
   * scan-shaped inputs it is used on); keep both consumers on THIS
   * definition so the adaptive decisions can never diverge. */
  def isNarrow(s: SparkSession, df: DataFrame): Boolean =
    df.rdd.getNumPartitions < spread(s)

  /** Ascending chunk id for the chunked-window kernels, derived from
   * the DATA instead of the exchange (optimization r16). The previous
   * shape — `repartitionByRange + spark_partition_id()` — produced a
   * chunk id Catalyst cannot reason about, so the downstream
   * `Window.partitionBy(pid, …)` forced a SECOND full-data exchange on
   * top of the range exchange (ENSURE_REQUIREMENTS hashpartitioning),
   * and the pid↔row mapping was only deterministic under a
   * localCheckpoint pin because range bounds are re-sampled per
   * execution. Here one percentile_approx pass over the NUMERIC
   * monotone projection of the leading sort key collects ~equi-depth
   * boundaries (spread × graft.chunk.bucketFactor of them, so the
   * hash exchange spreads over many more distinct keys than
   * partitions — guide §2.5), and the chunk id is a codegen binary
   * search over those literals: a pure row function. Consequences:
   * the window's own hash exchange is the ONLY shuffle, and two
   * independently-executed subtrees agree on chunk ids by
   * construction — no checkpoint needed for pinning.
   *
   * Contract: `numKey` must be numeric and monotone NON-DECREASING in
   * the pass's leading sort key (negate for a descending key), so
   * bucket(r1) < bucket(r2) ⇒ r1 ≤ r2 in sort order, and rows equal
   * on the sort prefix share a bucket (boundary ties land low —
   * [[graft.functions.RangeBucket]]). `nullsLast` matches the sort's
   * null placement (Spark defaults: asc = nulls first, desc = nulls
   * last). Chunk sizes are approximate (sketch accuracy) — that only
   * moves task boundaries, never values. */
  private[graft] def rangeChunkCol(df: DataFrame, numKey0: Column,
      nullsLast: Boolean = false): Column = {
    val s = df.sparkSession
    // temporal keys get a monotone integral spelling (micros/days since
    // epoch — exact in a double: epoch micros ≈ 1.7e15 < 2^53); numeric
    // keys cast straight to double (long→double rounding is monotone,
    // and equal keys stay equal — all the bucket id needs)
    import org.apache.spark.sql.types._
    val numKey = df.select(numKey0.as("__k")).schema.head.dataType match {
      case TimestampType => unix_micros(numKey0)
      case TimestampNTZType => unix_micros(numKey0.cast(TimestampType))
      case DateType => unix_date(numKey0)
      case _ => numKey0
    }
    val buckets = math.max(1, spread(s) *
      graft.GraftConf.int(s, graft.GraftConf.ChunkBucketFactor, 8))
    val bounds: Array[Double] =
      if (buckets <= 1) Array.empty
      else {
        val qs = (1 until buckets).map(_.toDouble / buckets)
        val row = df
          .select(numKey.cast("double").as("__k"))
          .agg(percentile_approx(col("__k"), array(qs.map(lit): _*),
            lit(10000)).as("__b"))
          .head()
        if (row.isNullAt(0)) Array.empty
        else row.getSeq[Double](0)
          .filterNot(_.isNaN) // NaN rows take the last bucket (sort-greatest)
          .map(b => if (b == 0.0d) 0.0d else b) // −0.0 sorts equal to 0.0
          .distinct.sorted.toArray
      }
    val nullBucket = if (nullsLast) bounds.length + 1 else -1
    // coalesce (not when/otherwise): a NON-NULLABLE chunk id, so joins
    // on it cannot push an isnotnull filter below the projection and
    // re-evaluate the bucket search per row (§4.4's duplication shape)
    coalesce(
      graft.functions.GraftFunctions.rangeBucket(numKey.cast("double"), bounds),
      lit(nullBucket))
  }

  /** Chunk id for a UNIFORM hash-shaped sort key (t12/t14's md5 hex):
   * the first ⌈log₁₆ buckets⌉ hex chars read as an int. A uniform key
   * makes equi-WIDTH buckets equi-depth by construction, so no
   * boundary-sampling pass is needed at all — the A/B that motivated
   * this split measured the [[rangeChunkCol]] percentile pass
   * re-computing the md5 over the corpus as a whole extra pass (~20%
   * on t12/t14 at sf0.1). Monotone in the hex string because a
   * fixed-length lowercase-hex string orders like its value. */
  private[graft] def hexChunkCol(s: SparkSession, hexKey: Column): Column = {
    val buckets = math.max(1, spread(s) *
      graft.GraftConf.int(s, graft.GraftConf.ChunkBucketFactor, 8))
    val chars = math.max(1,
      math.ceil(math.log(buckets.toDouble) / math.log(16.0)).toInt)
    // non-nullable for the same join-pushdown reason as rangeChunkCol
    coalesce(conv(substring(hexKey, 1, chars), 16, 10).cast("int"), lit(-1))
  }

  /** Loud gate on the silent failure mode of every chunked-rank kernel
   * (ADVICE r15): `row_number()` is an INT, so a single chunk holding
   * more than 2³¹ rows would wrap the local rank and corrupt the
   * stitched global rank without any error. Wrap each chunk's COUNT
   * (already computed by the offsets/summary side, a chunks-sized
   * relation — the check is ~free) so an oversized chunk fails the
   * query instead. Sizing note: chunks = spread × bucketFactor, so at
   * 100 TB this fires only if spread was left near the local default —
   * a misconfiguration this turns from wrong answers into an error. */
  private[graft] def intRankGuard(cnt: Column): Column =
    when(cnt <= lit(Int.MaxValue.toLong), cnt)
      .otherwise(raise_error(concat(
        lit("graft chunked-rank: chunk cardinality "), cnt.cast("string"),
        lit(" overflows the int row_number; raise graft.chunk.bucketFactor "
          + "or the session parallelism"))).cast("long"))

  /** lineitem pre-aggregated per (l_returnflag, l_linestatus) — the
   * shared base relation of q10/q23/q29's pre-aggregate-before-Expand
   * rewrite (optimization r15). `q` stays DECIMAL so the outer
   * rollup/cube/grouping-sets re-aggregation is exact at both levels
   * (the dsum discipline); cast to double exactly once, at the end. */
  def rfLsQtyBase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("q"),
        count(lit(1)).as("c"))

  /** Hierarchical (salted) per-group top-k — the scale-safe replacement
   * for a bare `row_number().over(partitionBy(group))`, which funnels
   * every row of a group through one task. Pass 1 ranks within
   * (group, salt) and keeps k per bucket; any row in the true global
   * top-k has at most k-1 rows ahead of it in its own bucket, so it
   * always survives. Pass 2 ranks the ≤ k·salts survivors per group.
   * `orderCols` must define a total order (tie-break to a unique key)
   * for the two passes to agree; `saltSrc` just needs to spread rows
   * (any per-row column works — assignment, not semantics). */
  def saltedTopK(df: DataFrame, groupCols: Seq[Column], orderCols: Seq[Column],
      saltSrc: Column, k: Int, rankName: String, salts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLocal = Window.partitionBy(groupCols :+ col("__salt"): _*).orderBy(orderCols: _*)
    val wFinal = Window.partitionBy(groupCols: _*).orderBy(orderCols: _*)
    df.withColumn("__salt", pmod(hash(saltSrc), lit(salts)))
      .withColumn("__lrn", row_number().over(wLocal))
      .filter(col("__lrn") <= k)
      .withColumn(rankName, row_number().over(wFinal))
      .filter(col(rankName) <= k)
      .drop("__salt", "__lrn")
  }

  /** Global 1-based row_number over a total order WITHOUT the
   * single-partition window anti-pattern (shared by q18 and t12):
   * range-partition on the sort keys, rank locally per partition, then
   * add each partition's cumulative row offset — computed from a
   * per-partition count aggregate whose row count equals the partition
   * count, so its unpartitioned window is trivially small. `sortCols`
   * must define a total order (tie-break to a unique key). Appends
   * `rnName` as a long. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column], chunkCol: Column,
      rnName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Chunk ids are a row FUNCTION (rangeChunkCol / hexChunkCol —
    // ascending with the sort order, ties never straddle), so the
    // per-row side and the offsets side agree across independent
    // executions with no checkpoint pin — and the offsets side needs no
    // window output, so Spark prunes its subtree to scan → partial
    // count per chunk → tiny exchange: the rank pass's hash exchange is
    // the only full-data shuffle (was: range exchange + local sort +
    // checkpoint + a second ENSURE_REQUIREMENTS hash exchange).
    val keyed = globalRowNumberStage(df, sortCols, chunkCol)
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("__pid")).agg(count(lit(1)).as("__n0"))
      .select(col("__pid"), intRankGuard(col("__n0")).as("__n")) // int row_number gate
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__pid"), col("__off"))
    keyed
      .withColumn("__lrn",
        row_number().over(Window.partitionBy(col("__pid")).orderBy(sortCols: _*)))
      .join(broadcast(offsets), "__pid")
      .withColumn(rnName, (col("__off") + col("__lrn")).cast("long"))
      .drop("__pid", "__lrn", "__off")
  }

  /** Chunk-keyed stage of [[globalRowNumber]] (`__pid` appended via the
   * data-derived chunk id), exposed as a test seam so specs can assert
   * the chunk spread and plan shape — the same discipline as the
   * `*PairsPlan` builders. */
  private[graft] def globalRowNumberStage(df: DataFrame, sortCols: Seq[Column],
      chunkCol: Column): DataFrame =
    df.withColumn("__pid", chunkCol)

  /** Per-group running sum over a total order WITHOUT partitioning a
   * window on the group key (which would funnel every row of a hot
   * group — at 100 TB one source/domain can be most of the corpus —
   * through one unsplittable task). Same two-pass shape as
   * globalRowNumber, grouped: range-partition on (group, sortCols) so a
   * big group SPANS partitions, accumulate locally per (partition,
   * group), then add per-(partition, group) offsets — an aggregate
   * whose row count is at most partitions + groups, so its per-group
   * offset window is trivially small and the join back broadcasts.
   * `sortCols` must define a total order within the group. Appends
   * `cumName` (long, includes the current row). */
  def groupedPrefixSum(df: DataFrame, groupName: String, sortCols: Seq[Column],
      chunkCol: Column, valueCol: Column, cumName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Data-derived chunk ids — see globalRowNumber for the shape: the
    // GLOBAL sort-key chunking slices every group, so a dominant group
    // still spans chunks (the t14 scale claim), the offsets side
    // partial-aggregates map-side with no window, and the running-sum
    // pass's hash exchange on (chunk, group) is the only full-data
    // shuffle. No checkpoint: chunk ids are a row function.
    val keyed = groupedPrefixSumStage(df, groupName, sortCols, chunkCol, valueCol)
    val wOff = Window.partitionBy(col(groupName)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("__pid"), col(groupName))
      .agg(sum(col("__v")).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__pid"), col(groupName), col("__off"))
    val wLocal = Window.partitionBy(col("__pid"), col(groupName))
      .orderBy(sortCols: _*).rowsBetween(Window.unboundedPreceding, 0)
    keyed.withColumn("__lcs", sum(col("__v")).over(wLocal))
      .join(broadcast(offsets), Seq("__pid", groupName))
      .withColumn(cumName, (col("__off") + col("__lcs")).cast("long"))
      .drop("__pid", "__lcs", "__off", "__v")
  }

  /** Chunk-keyed stage of [[groupedPrefixSum]] (`__pid` from the
   * data-derived bucket id, `__v` the long-cast value) — test seam,
   * see [[globalRowNumberStage]]. */
  private[graft] def groupedPrefixSumStage(df: DataFrame, groupName: String,
      sortCols: Seq[Column], chunkCol: Column, valueCol: Column): DataFrame =
    df.withColumn("__v", valueCol.cast("long"))
      .withColumn("__pid", chunkCol)

  /** Materialize two INDEPENDENT subpipelines concurrently (guide
   * §2.6: actions are only sequential because driver code calls them
   * sequentially). `fa` runs on a short-lived daemon thread, `fb` on
   * the caller's; Spark's FIFO scheduler back-fills each job's
   * straggler tail with the other's tasks. Use only for thunks with no
   * data dependency whose combined working set fits the cluster —
   * both sides still share total capacity, so this trades nothing at
   * scale and removes the serial driver wait between two
   * materializations. Exceptions from `fa` rethrow on the caller. */
  def overlap[A, B](fa: => A)(fb: => B): (A, B) = {
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-overlap"); t.setDaemon(true); t })
    val f = ex.submit(new java.util.concurrent.Callable[A] {
      override def call(): A = fa
    })
    try {
      val b = fb
      val a = try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      (a, b)
    } finally ex.shutdown()
  }

  /** Release the executor blocks behind a localCheckpoint. Goes through
   * the UNDERLYING checkpointed RDD: Dataset.unpersist only consults the
   * CacheManager, which never registers localCheckpoint's LogicalRDD, so
   * it would free nothing. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  private val stagedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), StagedHolder]()
  private val stagedBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Memoizing holder for one staged relation. The lazy val serializes
   * concurrent first-consumers of this key only; a FAILED build removes
   * the holder from the cache before rethrowing, so a poisoned entry
   * can never linger for stagedClear (which would otherwise re-run the
   * failing build — or launch a fresh materialization job just to
   * release it) or shadow a later retry. `materialized` lets
   * stagedClear release exactly the relations that actually built,
   * without ever invoking the thunk itself. */
  private final class StagedHolder(
      key: (SparkSession, String, String), build: () => DataFrame) {
    @volatile var materialized: Option[DataFrame] = None
    private lazy val built: DataFrame = {
      val df =
        try { stagedBuilds.incrementAndGet(); build().localCheckpoint() }
        catch { case t: Throwable => stagedCache.remove(key, this); throw t }
      materialized = Some(df)
      df
    }
    def apply(): DataFrame = built
  }

  /** Cross-query staging point for a relation consumed by several
   * operators of one pipeline run (the d2/d10/d8 pair graphs, each fed
   * to a pair-report query AND a downstream clustering/report query).
   * The first consumer materializes the relation behind a
   * localCheckpoint; every later consumer in the same (session, sfDir)
   * reuses the executor-local blocks instead of re-running the full
   * upstream pipeline — at 100 TB that second run is a second full pass
   * over the corpus. Keyed by session so a stopped session's entries
   * can never be served to a new one. NOTE: the checkpoint truncates
   * lineage, so plan-shape locks on a staged query must target its
   * unstaged builder (the `*PairsPlan` methods). */
  def staged(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame = {
    // a stopped session's checkpoint blocks died with its executors —
    // drop its entries so a long-lived process creating session after
    // session doesn't retain dead RDD references indefinitely
    stagedCache.keySet.removeIf(_._1.sparkContext.isStopped)
    // computeIfAbsent only installs a memoizing holder (cheap, safe
    // under the map's bin lock); the checkpoint JOB runs in holder()
    // outside it. Running the job inside compute() would serialize
    // unrelated keys hashing to one bin and make a staged builder that
    // transitively stages another colliding key throw (recursive
    // update).
    val key = (s, dir, name)
    stagedCache.computeIfAbsent(key, k => new StagedHolder(k, () => build))()
  }

  /** How many staged relations have been materialized (test hook: lets
   * a spec assert a downstream consumer REUSED a staged relation rather
   * than silently re-building it). */
  def stagedBuildCount: Long = stagedBuilds.get()

  /** Release every staged block and forget the cache — between bench
   * iterations, so each iteration re-pays each materialization exactly
   * once (keeps per-query timings honest across repeats). */
  def stagedClear(): Unit = {
    // release only what actually MATERIALIZED (never invoke the thunk:
    // a mid-build or failed holder must not trigger a build here);
    // stopped sessions' blocks are already gone — just drop those
    stagedCache.forEach { (k, h) =>
      if (!k._1.sparkContext.isStopped) h.materialized.foreach(release)
    }
    stagedCache.clear()
  }

  /** Scratch directory for operators that materialize intermediate
   * files (e.g. the SCBF roundtrip): `graft.scratch.dir`, else the
   * driver-local java.io.tmpdir. Only local mode can use the latter;
   * a non-local master without the setting fails here, before any
   * executor writes a file the driver and its peers cannot see. */
  def scratchDir(s: SparkSession): String =
    scratchDir(s.conf.getOption("graft.scratch.dir"), s.sparkContext.isLocal)

  private[operators] def scratchDir(configured: Option[String], localMaster: Boolean): String =
    configured.getOrElse {
      if (!localMaster) throw new IllegalStateException(
        "graft.scratch.dir is unset and the master is not local: the " +
          "default java.io.tmpdir is driver-local — set graft.scratch.dir " +
          "to a filesystem path every executor shares")
      sys.props("java.io.tmpdir")
    }

  /** Connected components over an undirected edge list (columns `a`,
   * `b`), returning (`vertex`, `component`) where component = min
   * vertex id in the component — exact, via alternating pointer-jump +
   * contract rounds. Each round: (1) every contracted vertex takes the
   * min over itself and its neighbors, (2) that min map is pointer-
   * doubled ⌈log₂|V|⌉ times (m ← m∘m, composed LAZILY and materialized
   * in one job), which flattens min-pointer chains end-to-end — the
   * step plain relabel-and-contract lacks, and without which a
   * diameter-L path needs L rounds instead of O(log L), (3) the full
   * vertex→component map composes through the round's map, and (4)
   * the edge set is rewritten onto the new labels with self-loops
   * dropped and duplicates collapsed, so unresolved structure shrinks
   * every round. Every step is a join/aggregate on (long, long) rows;
   * localCheckpoint truncates per-round lineage; loop termination is
   * edge exhaustion (exact, not a round budget).
   *
   * Hybrid tail (optimization r15): once the CONTRACTED edge set fits
   * under `graft.cc.localFixpointEdges` (default 200k edges ≈ a few MB
   * — the bounded-model-state budget, same class as the IVF centroid
   * collect), the remaining fixpoint runs as a driver union-find and
   * the result re-attaches through one broadcast join. Rationale
   * (guide §1.2/§5): contraction shrinks the graph geometrically, so
   * the tail rounds operate on trivially small data while still paying
   * ~10 driver-blocking jobs per round (profiled: 70 of d13's 88 jobs
   * were 1–3-task jobs of 5–25 ms separated by 10–25 ms gaps — pure
   * scheduling overhead). The threshold gates on a COUNTED size, never
   * an estimate, so at any scale the driver holds at most the knob's
   * edges; graphs that never contract below it finish fully
   * distributed, exactly as before. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // Checkpoint-block accounting: each localCheckpoint pins executor
    // storage, so superseded blocks are released EAGERLY as soon as
    // their successor is materialized — the previous edge set and the
    // intermediate pointer-doubling steps go immediately; only each
    // round's FINAL map must outlive its round (the lazy vertex→
    // component chain references it) and is released after the result
    // materializes. Peak storage is therefore ~one round's tables plus
    // one small map per round, not the sum of every intermediate.
    // Release goes through the UNDERLYING checkpointed RDD (see
    // Ops.release for why Dataset.unpersist would free nothing).
    val roundMaps = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var e = edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val lab0 = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .distinct()
      .select(col("v").as("vertex"), col("v").as("component"))
      .localCheckpoint()
    var lab = lab0
    val sp = edges.sparkSession
    val localMax = graft.GraftConf.int(sp, graft.GraftConf.CcLocalEdges, 200000)
    // count() instead of isEmpty(): the same one-job-per-round price,
    // and the exact size feeds the hybrid-tail gate
    var ecnt = e.count()
    while (ecnt > 0 && ecnt > localMax) {
      // (1) min over self and neighbors, per contracted vertex — fused
      // into the FIRST doubling step below (optimization r15): both
      // sides of the first self-join read the same aggregate subplan,
      // which Spark serves from one exchange (ReusedExchange — the d4
      // multi-consumer pattern), so the separate materialization job
      // the old standalone checkpoint paid per round is gone. The
      // iterative loop's cost at bench scale is driver-blocking JOBS,
      // not bytes; one fewer checkpoint per round is one fewer job
      // plus its AQE stage jobs.
      val m1 = e.select(col("a").as("v"), col("b").as("n"))
        .unionByName(e.select(col("b").as("v"), col("a").as("n")))
        .groupBy(col("v")).agg(min(col("n")).as("mn"))
        .select(col("v"), least(col("v"), col("mn")).as("m"))
      var mCkpt: DataFrame = null
      var m = m1
      // (2) pointer doubling to fixpoint: composing m with itself lets
      // every vertex follow its min-pointer chain 2^k hops after k
      // steps, so chains of any length flatten in O(log chain) steps —
      // shallow graphs exit after 2-3. Each step MATERIALIZES (m∘m is
      // a self-join: left lazy, the plan tree would double per step —
      // 2^k copies of the base plan kills the analyzer long before the
      // data matters).
      var flat = false
      while (!flat) {
        val next = m.as("l")
          .join(m.as("r"), col("l.m") === col("r.v"), "left")
          .select(col("l.v").as("v"), col("l.m").as("m0"),
            coalesce(col("r.m"), col("l.m")).as("m"))
          .localCheckpoint()
        flat = next.filter(col("m") =!= col("m0")).isEmpty
        if (mCkpt != null) release(mCkpt) // superseded by next
        mCkpt = next
        m = next.select(col("v"), col("m"))
      }
      roundMaps += mCkpt // referenced by the lazy lab chain: keep
      // (3) compose the full map through this round's map — kept LAZY:
      // the chain is only rounds deep, evaluated once at the end
      lab = lab
        .join(m.select(col("v").as("component"), col("m")), Seq("component"), "left")
        .select(col("vertex"), coalesce(col("m"), col("component")).as("component"))
      // (4) contract: rewrite edges onto the new labels
      val nextE = e.join(m.select(col("v").as("a"), col("m").as("ma")), "a")
        .join(m.select(col("v").as("b"), col("m").as("mb")), "b")
        .select(least(col("ma"), col("mb")).as("a"),
          greatest(col("ma"), col("mb")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint()
      release(e)
      e = nextE
      ecnt = e.count()
    }
    if (ecnt > 0) {
      // hybrid tail: ≤ localMax edges left — finish the fixpoint on the
      // driver (union-find with min-id roots, path-halving) and compose
      // once through a broadcast map. The contracted ids are themselves
      // min ids of their already-merged sets, so min-root union-find
      // over them yields exactly the labels the remaining distributed
      // rounds would have produced.
      val dt = e.schema("a").dataType
      val parent = new java.util.HashMap[Long, Long]()
      val verts = new java.util.LinkedHashSet[Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) {
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
        }
        x
      }
      e.collect().foreach { r =>
        val a = r.get(0).asInstanceOf[Number].longValue
        val b = r.get(1).asInstanceOf[Number].longValue
        verts.add(a); verts.add(b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](verts.size)
      val it = verts.iterator()
      val toDt: Long => Any = dt match {
        case org.apache.spark.sql.types.IntegerType => l => l.toInt
        case org.apache.spark.sql.types.LongType => l => l
        case other => throw new IllegalStateException(
          s"connectedComponents: unsupported vertex type $other")
      }
      while (it.hasNext) {
        val v = it.next()
        rows.add(org.apache.spark.sql.Row(toDt(v), toDt(find(v))))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", dt, nullable = false),
        org.apache.spark.sql.types.StructField("m", dt, nullable = false)))
      val mapDf = sp.createDataFrame(rows, schema)
      lab = lab
        .join(broadcast(mapDf), lab("component") === mapDf("v"), "left")
        .select(col("vertex"),
          coalesce(col("m"), col("component")).as("component"))
    }
    // materialize the final map (its lazy chain references lab0 and
    // every round's final m), then release those blocks
    val out = lab.localCheckpoint()
    release(e)
    release(lab0)
    roundMaps.foreach(release)
    out
  }
}
