package graft

import org.apache.spark.sql.SparkSession

/** Scale knobs for the ANN/LSH operators. The defaults are tuned for
 * the test corpus; a 100 TB deployment scales them (kCells ~ √N for
 * IVF cell balance, plane bits ~ log N to keep expected per-bucket
 * pair counts bounded — see the call sites in DedupQueries).
 *
 * Resolution order: Spark session conf (runtime override, engine side
 * only) → JVM system property → built-in default. Oracle SQL
 * generation has no session, so it resolves from the system property:
 * to move the engine AND its generated oracle together (the
 * single-source contract the correctness gate relies on), set the
 * SYSTEM PROPERTY; a session-conf-only override tunes the engine when
 * the oracle isn't in play. */
object GraftConf {

  /** d11's IVF cell count (default 16). */
  val AnnKCells = "graft.ann.kcells"
  /** d6's hyperplane sign bits per LSH table (default 10). */
  val LshBits = "graft.lsh.bits"
  /** d8's hyperplane sign bits per near-dup LSH table (default 12). */
  val LshD8Bits = "graft.lsh.d8.bits"
  /** t14's base per-source token budget (default 400; each source gets
   * base × its 1/2/3× mixture-weight ladder). */
  val MixtureBudget = "graft.mixture.budget"
  /** d2's MinHash sketch size (default 48 hash functions). */
  val MinHashHashes = "graft.minhash.hashes"
  /** d2's LSH band count (default 24 — 2 rows/band; must divide the
   * sketch size). The band/row trade IS the recall/cost knob a 100 TB
   * deployment tunes: more bands → higher recall, more candidate
   * pairs. */
  val MinHashBands = "graft.minhash.bands"
  /** d22's winnowing window (default 4) — the shuffle-cut/guarantee
   * trade: fingerprint density 2/(W+1), exactness guarantee covers
   * spans ≥ DupSpanTokens + W − 1. */
  val WinnowW = "graft.winnow.window"
  /** Hash family for the span/near-dup kernels whose hash VALUES (not
   * just equality) drive selection — d22's winnow argmin, the d3/d10
   * SimHash bit pattern, and the span streaming twins. `md5`
   * (default) is the oracle-parity family: DuckDB replicates the
   * exact values, so the correctness gate can pin selection
   * bit-for-bit. `xxhash64` is the production family — the same plan,
   * same guarantees (winnowing density/exactness, SimHash locality
   * are hash-agnostic), but one long-mix per token instead of a
   * cryptographic digest per window, the dominant map-side cost of a
   * 100 TB span-dedup pass. Oracle comparison is only valid under
   * `md5`; [[requireOracleConsistency]] enforces engine/oracle
   * agreement on the knob. */
  val SpanHash = "graft.span.hash"
  /** Storage-partitioned joins (default true): report
   * `KeyGroupedPartitioning` from partitioned SCBF scans so joins and
   * aggregations on the partition columns run shuffle-free. Spark's
   * own `spark.sql.sources.v2.bucketing.enabled` (default TRUE since
   * Spark 4) must also be on. The cost: under a key-grouping Spark
   * plans one task per partition VALUE, so a table with fewer
   * partitions than cores scans with less parallelism — this knob is
   * the per-session escape hatch for that shape (at 100 TB partitions
   * outnumber cores and the trade always wins). */
  val SpjEnabled = "graft.spj.enabled"

  /** Driver-side sweep parallelism for TABLE-LEVEL maintenance and
   * mutation (default 8): `OPTIMIZE`/`VACUUM`, partitioned `DELETE` —
   * that many per-directory rewrites run as CONCURRENT Spark jobs
   * from driver threads (the optimization guide's §2.6 overlap:
   * partitions are disjoint commit units — independent snapshots and
   * manifests, each commit one ordinal-CAS delta on the table root's
   * one log — so the only shared resource is cluster capacity, and
   * FIFO scheduling back-fills each job's straggler
   * tail with the next job's tasks). A small partition's rewrite is
   * dominated by fixed job overhead; a sweep of 10³ partitions
   * serializing that overhead is O(partitions) wall-clock for no
   * reason. 8 matches the API path's measured setting (q48); result
   * bytes are identical at any value. */
  val SweepParallelism = "graft.sweep.parallelism"

  /** Edge-count gate for connectedComponents' hybrid driver tail
   * (default 200000): once a COUNTED contraction round leaves at most
   * this many edges, the remaining fixpoint runs as a driver
   * union-find re-attached through one broadcast join, instead of
   * paying ~10 driver-blocking 1-task jobs per round on trivially
   * small data. Bounded model-state class (the IVF-centroid collect
   * precedent): the driver holds at most this many (long, long)
   * edges, never O(input). 0 forces the fully distributed path. */
  val CcLocalEdges = "graft.cc.localFixpointEdges"

  /** Buckets-per-core factor for the chunked-window kernels' data-
   * derived range buckets (default 8): bucket count = session
   * parallelism × this. The chunk id is hash-partitioned, so with
   * exactly one bucket per partition the balls-into-bins collision
   * loss idles ~1/e of the tasks (guide §2.5: use many more distinct
   * key values than partitions); 8× keeps expected partition
   * occupancy > 99.9% while the per-chunk summary relation stays
   * trivially small (buckets × groups rows). Results are
   * bit-identical at any value ≥ 1 — chunking only picks task
   * boundaries, never values. */
  val ChunkBucketFactor = "graft.chunk.bucketFactor"

  /** Minimum distinct partition-value count for the scan to REPORT its
   * key-grouping (default 1 = always report when SPJ is on). The
   * parallelism-trade gate: a key-grouped scan runs one task per
   * partition VALUE, so a 4-partition table on a 32-core cluster
   * scans at 1/8 parallelism for a join benefit it may never use —
   * setting this to ≈ the cluster's default parallelism keeps
   * exchange-free joins for the many-partition tables that win the
   * trade while small-key-count tables keep per-file tasks. Unlike
   * [[SpjEnabled]]=false it is a size gate, not a feature switch. */
  val SpjMinPartitions = "graft.spj.minPartitions"

  /** zlib DEFLATE level for SCBF data-block compression on the write
   * side (-1 = zlib default level 6, or 0..9). The DEFAULT MUST STAY
   * -1: that is the reference-parity byte layout the interop fixtures
   * and the round-11 codec head-to-head pin. Any level is
   * spec-compatible — the SPEC pins the zlib stream FORMAT, not the
   * level, and every reader (ours and the reference's zlib.decompress)
   * inflates all levels — so a write-heavy deployment may trade
   * compression ratio for write CPU per session. Adjudicated in
   * VERDICT r15 (optimization r16); measured numbers in
   * OPTIMIZATION_r16.md. */
  val ScbfDeflateLevel = "graft.scbf.deflateLevel"

  def int(s: SparkSession, key: String, dflt: Int): Int =
    s.conf.getOption(key).orElse(sys.props.get(key)).fold(dflt)(_.trim.toInt)

  /** Session-less resolution (oracle generation). */
  def int(key: String, dflt: Int): Int =
    sys.props.get(key).fold(dflt)(_.trim.toInt)

  def str(s: SparkSession, key: String, dflt: String): String =
    s.conf.getOption(key).orElse(sys.props.get(key)).fold(dflt)(_.trim)

  /** Session-less resolution (oracle generation / streaming twins). */
  def str(key: String, dflt: String): String =
    sys.props.get(key).fold(dflt)(_.trim)

  /** The resolved span-hash family, validated. */
  def spanHash(s: SparkSession): String = {
    val v = str(s, SpanHash, "md5")
    require(v == "md5" || v == "xxhash64",
      s"$SpanHash must be md5 or xxhash64, got $v")
    v
  }

  /** All knob keys, for divergence auditing. */
  val Keys: Seq[(String, Int)] = Seq(
    AnnKCells -> 16, LshBits -> 10, LshD8Bits -> 12, MixtureBudget -> 400,
    MinHashHashes -> 48, MinHashBands -> 24, WinnowW -> 4)

  /** String-valued knob keys, same auditing contract as [[Keys]]. */
  val StrKeys: Seq[(String, String)] = Seq(SpanHash -> "md5")

  /** Fail fast when a session-conf override diverges from what oracle
   * generation will see (the system property / default): the engine
   * would silently compute under one knob value while the generated
   * oracle computes under another, and the gate run fails confusingly
   * far from the cause. Called by Verify before running any query;
   * harmless for engine-only use (no oracle in play → don't call). */
  def requireOracleConsistency(s: SparkSession): Unit = {
    Keys.foreach { case (key, dflt) =>
      s.conf.getOption(key).foreach { sess =>
        val oracleSide = int(key, dflt)
        require(sess.trim.toInt == oracleSide,
          s"knob $key: session conf says ${sess.trim} but oracle generation " +
            s"resolves $oracleSide (system property/default) — set the SYSTEM " +
            "PROPERTY to move engine and oracle together")
      }
    }
    StrKeys.foreach { case (key, dflt) =>
      s.conf.getOption(key).foreach { sess =>
        val oracleSide = str(key, dflt)
        require(sess.trim == oracleSide,
          s"knob $key: session conf says ${sess.trim} but oracle generation " +
            s"resolves $oracleSide (system property/default) — set the SYSTEM " +
            "PROPERTY to move engine and oracle together")
      }
    }
    // the oracle can only replicate md5-family selection: a gate run
    // under xxhash64 would fail far from the cause, so fail it here
    require(spanHash(s) == "md5",
      s"$SpanHash=${spanHash(s)}: oracle comparison requires the md5 " +
        "family (DuckDB cannot replicate xxhash64 selection)")
  }
}
