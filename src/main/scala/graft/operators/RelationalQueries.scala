package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The relational operator surface (SURVEY §2.2): the reference stores and
 * scans; the north star requires DataFrame-level query capability on top,
 * expressed through Spark's built-in declarative operators so Catalyst
 * keeps pruning/pushdown/join-selection/AQE for free.
 *
 * Every query has a DuckDB oracle (same column names, matching rounding)
 * checked by the driver at sf0.01 — and at scale each is shaped for a
 * real cluster: aggregations are partial-aggregated map-side, the one
 * dimension-table join is broadcast, sorts carry total orders with
 * unique tiebreaks, and nothing collects to the driver.
 */
object RelationalQueries {

  import Ops.{t, dsum, scratchDir, spread}

  /** Double aggregates use dsum (see above) on BOTH sides so
   * summation-order differences between engines cannot change results. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          (dsum(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
          (dsum(col("l_discount"), 2) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    "q2_filter_project" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 48 && col("l_returnflag") === "R" && col("l_discount") > 0.08)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    "q3_join_agg" -> { (s, dir) =>
      val customer = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val orders = t(s, dir, "orders")
      val lineitem = t(s, dir, "lineitem")
      customer.join(orders, customer("c_custkey") === orders("o_custkey"))
        .join(lineitem, orders("o_orderkey") === lineitem("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("line_cnt"))
        .filter(col("revenue") > 100000)
    },

    "q4_broadcast_join" -> { (s, dir) =>
      // part is a dimension table: broadcast it explicitly — no shuffle
      // of the fact side at any scale.
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("l_extendedprice"), 2).as("sum_price"),
          (dsum(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"))
    },

    "q5_multi_join" -> { (s, dir) =>
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val customer = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      val lineitem = t(s, dir, "lineitem")
      val supplier = t(s, dir, "supplier")
      customer
        .join(orders, col("c_custkey") === col("o_custkey"))
        .join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .join(supplier, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
    },

    "q6_window_rank" -> { (s, dir) =>
      // Hierarchical top-k per group: only 5 priority groups exist, so a
      // plain partitionBy(priority) window would sort ~1/5 of the table
      // in each of 5 tasks at scale. Salt first (local top-5 per
      // (priority, salt)), then rank the tiny candidate set — identical
      // output, bounded task size at any scale.
      val salted = t(s, dir, "orders")
        .withColumn("salt", pmod(hash(col("o_orderkey")), lit(32)))
      val wLocal = Window.partitionBy(col("o_orderpriority"), col("salt"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val candidates = salted
        .withColumn("lrn", row_number().over(wLocal))
        .filter(col("lrn") <= 5)
      val wFinal = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      candidates
        .withColumn("rn", row_number().over(wFinal))
        .filter(col("rn") <= 5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    },

    "q7_topk" -> { (s, dir) =>
      // TakeOrderedAndProject: top-k without a global sort of the table
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    },

    "q8_setops" -> { (s, dir) =>
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
      val bigSpenders = t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000).select(col("o_custkey").as("k"))
      building.intersect(bigSpenders).withColumn("op", lit("both"))
        .unionAll(building.except(bigSpenders).withColumn("op", lit("building_only")))
        .select("op", "k")
    },

    "q9_distinct_agg" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("supp_cnt"),
          countDistinct(col("l_partkey")).as("part_cnt"),
          countDistinct(col("l_orderkey")).as("order_cnt"))
    },

    "q10_rollup" -> { (s, dir) =>
      // Pre-aggregated per (rf, ls) before the rollup's Expand — the
      // q23 rationale (optimization r15): ×3 grouping sets multiply the
      // tiny base relation, not the corpus; decimal SUM/COUNT
      // re-aggregate exactly (decimal stays decimal until the one
      // final cast — the dsum discipline at both levels).
      Ops.rfLsQtyBase(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("q")).cast("double").as("sum_qty"), sum(col("c")).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("sum_qty"), col("cnt"))
    },

    "q11_string_fns" -> { (s, dir) =>
      t(s, dir, "part")
        .groupBy(upper(col("p_brand")).as("brand_u"))
        .agg(count(lit(1)).as("cnt"),
          (sum(length(col("p_name")).cast("long")).cast("double") / count(lit(1))).as("avg_name_len"),
          min(substring(col("p_name"), 1, 5)).as("min_prefix"),
          max(concat_ws("|", col("p_type"), col("p_brand"))).as("max_typebrand"))
    },

    "q12_date_fns" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice"), 2).as("sum_price"))
    },

    "q13_case_having" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(dsum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(0.0), 2).as("f_total"),
          count(lit(1)).as("order_cnt"))
        .filter(col("order_cnt") >= 12)
    },

    "q14_semi_join" -> { (s, dir) =>
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },

    "q15_anti_join" -> { (s, dir) =>
      // customers with no URGENT order (plain no-orders is empty in the
      // testdata — every customer has orders)
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      t(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    },

    "q16_scbf_roundtrip" -> { (s, dir) =>
      // The format story end-to-end: SCBF-representable projection of
      // lineitem, written to SCBF and read back, then aggregated. The
      // oracle runs the same aggregate on the source parquet — values
      // must survive the roundtrip bit-exactly for this to match.
      val scbfDir = scratchDir(s) + "/graft_scbf_rt_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "lineitem")
        .select(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_returnflag"), col("l_linestatus"))
        // lineitem is 1-2 input partitions; spreading the write
        // parallelizes per-task deflate AND produces the many-moderate-
        // files layout the non-splittable format needs for read
        // parallelism (one partition per file).
        .repartition(spread(s))
        .write.format("scbf").mode("overwrite").save(scbfDir)
      s.read.format("scbf").load(scbfDir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"))
    },

    "q35_scbf_stats_skip" -> { (s, dir) =>
      // The file-skipping statistics end-to-end: orders written to SCBF
      // range-partitioned ON THE FILTER COLUMN (the layout an ordered
      // ingest produces), so the price predicate's pushed filter prunes
      // whole files via their stats sidecars at planning — most of the
      // table is never opened. Row-level filtering still runs in Spark
      // (filters are residual), so the result is exact regardless of
      // how many files were skipped; the oracle runs the same
      // filter+aggregate on the source parquet.
      val scbfDir = scratchDir(s) + "/graft_scbf_skip_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("int").as("okey"),
          col("o_totalprice").as("price"), col("o_orderstatus").as("status"))
        .repartitionByRange(spread(s), col("price"))
        .write.format("scbf").mode("overwrite").save(scbfDir)
      s.read.format("scbf").load(scbfDir)
        .filter(col("price") < lit(50000.0))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("price"), 2).as("sum_price"),
          min(col("okey")).as("min_key"))
    },

    "q36_scbf_string_skip" -> { (s, dir) =>
      // File skipping on UTF8 bounds: documents written to SCBF
      // range-partitioned ON `source` — the curation layout where
      // `source = '...'` / prefix predicates are the most common
      // filters (t13/t14 key on source). The truncated string stats
      // prune whole files for an equality, a prefix, and their OR;
      // filters stay residual so the result is exact regardless.
      val scbfDir = scratchDir(s) + "/graft_scbf_strskip_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
        .repartitionByRange(spread(s), col("source"))
        .write.format("scbf").mode("overwrite").save(scbfDir)
      s.read.format("scbf").load(scbfDir)
        .filter(col("source") === "src7" || col("source").startsWith("src1"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"))
    },

    "q37_scbf_agg_pushdown" -> { (s, dir) =>
      // Stats-answered aggregate pushdown end-to-end: orders written to
      // SCBF, then a global COUNT/MIN/MAX/SUM(int) — answered entirely
      // from the directory's stats manifest (ScbfAgg; the Parquet
      // footer-aggregate idea), zero data files opened, one result row.
      // At 100 TB this is the difference between a metadata read and a
      // full-table scan. The oracle runs the same aggregate on the
      // source parquet; values survive the roundtrip bit-exactly.
      val scbfDir = scratchDir(s) + "/graft_scbf_aggpush_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("int").as("okey"),
          col("o_custkey").cast("int").as("ckey"),
          col("o_totalprice").as("price"),
          col("o_orderpriority").as("prio"))
        .repartition(spread(s))
        .write.format("scbf").mode("overwrite").save(scbfDir)
      // round 11: MIN/MAX(string) rides too when the sidecar bounds are
      // exact (short values fit whole under the truncation cap) — the
      // plan pin + zero-open counter make the claim self-verifying,
      // and the oracle's DuckDB MIN/MAX guards against an off-by-one
      // truncation ever serving a prefix as the extremum
      val q = s.read.format("scbf").load(scbfDir)
        .agg(count(lit(1)).as("cnt"),
          min(col("okey")).as("min_key"), max(col("okey")).as("max_key"),
          min(col("price")).as("min_price"), max(col("price")).as("max_price"),
          sum(col("ckey")).as("sum_cust"),
          min(col("prio")).as("min_prio"), max(col("prio")).as("max_prio"))
      require(q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
        s"the aggregate (incl. string MIN/MAX) must push:\n" +
          q.queryExecution.executedPlan.toString)
      graft.sources.ScbfUtil.dataFileOpens.set(0)
      q.collect()
      require(graft.sources.ScbfUtil.dataFileOpens.get == 0,
        "the pushed aggregate must answer zero-data-open")
      q
    },

    "q38_scbf_runtime_prune" -> { (s, dir) =>
      // Runtime (join-driven) file pruning end-to-end: orders written to
      // SCBF range-partitioned on the JOIN KEY, joined to a dim filtered
      // on a NON-key attribute — the shape where no static fact-side
      // predicate exists, and only the broadcast build side's surviving
      // keys (arriving at execution as a dynamic-pruning In filter,
      // SupportsRuntimeFiltering) can skip fact files. How much skips
      // depends on how the surviving keys cluster against the file
      // ranges (RuntimeFilterSpec pins the mechanics with a clustered
      // dim); the RESULT never depends on it — the join re-verifies
      // every row, and the oracle runs the same join on the parquet.
      val scbfDir = scratchDir(s) + "/graft_scbf_dpp_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("int").as("okey"),
          col("o_custkey").cast("int").as("ckey"),
          col("o_totalprice").as("price"))
        .repartitionByRange(spread(s), col("ckey"))
        .write.format("scbf").mode("overwrite").save(scbfDir)
      val fact = s.read.format("scbf").load(scbfDir)
      val dim = t(s, dir, "customer")
        .filter(col("c_acctbal") < lit(-900.0))
        .select(col("c_custkey").cast("int").as("dim_ckey"),
          col("c_mktsegment").as("segment"))
      fact.join(broadcast(dim), fact("ckey") === dim("dim_ckey"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("price"), 2).as("sum_price"),
          min(col("okey")).as("min_key"))
    },

    "q39_scbf_topk_prune" -> { (s, dir) =>
      // Top-k file pruning end-to-end: ORDER BY key LIMIT k over SCBF
      // range-partitioned on that key plans only the files that can
      // hold one of the k extreme rows (SupportsPushDownTopN +
      // ScbfTopN's bound argument) — a top-100 over a 100 TB directory
      // reads one file. Deterministic because the sort key is unique;
      // the oracle runs the same top-k on the source parquet.
      val scbfDir = scratchDir(s) + "/graft_scbf_topk_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("int").as("okey"),
          col("o_totalprice").as("price"))
        .repartitionByRange(spread(s), col("okey"))
        .write.format("scbf").mode("overwrite").save(scbfDir)
      s.read.format("scbf").load(scbfDir)
        .orderBy(col("okey").desc).limit(100)
    },

    "q40_scbf_cluster" -> { (s, dir) =>
      // Directory maintenance end-to-end: documents land UNCLUSTERED
      // (round-robin — the streaming-ingest / naive-batch layout where
      // every file spans the whole value range and nothing can prune),
      // then ScbfMaintenance.cluster rewrites them range-partitioned on
      // doc_id — the OPTIMIZE step a 100 TB deployment runs between
      // ingest and query. The post-rewrite read carries a doc_id range
      // predicate that now file-skips via the rewritten manifest; the
      // result is exact either way (filters stay residual), which is
      // precisely the property that makes the rewrite safe to gate: the
      // oracle runs the same filter+aggregate on the source parquet.
      val scbfDir = scratchDir(s) + "/graft_scbf_cluster_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
        .repartition(spread(s)) // round-robin: deliberately unclustered
        .write.format("scbf").mode("overwrite").save(scbfDir)
      graft.sources.ScbfMaintenance.cluster(s, scbfDir, Seq("doc_id"), spread(s))
      s.read.format("scbf").load(scbfDir)
        .filter(col("doc_id") < lit(100))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    },

    "q41_scbf_bloom_skip" -> { (s, dir) =>
      // Bloom-sidecar file skipping end-to-end (ScbfBloom): documents
      // land UNCLUSTERED (round-robin), so every file spans the whole
      // doc_id range and min/max can prune NOTHING for a point lookup —
      // the per-file Bloom filters are the only thing standing between
      // an `IN (...)` id probe and opening every file in the directory
      // (at 100 TB: a metadata-cost point query vs a full-listing
      // scan). Membership has no false negatives and filters stay
      // residual, so the result is exact whether or not any file
      // skipped; the oracle runs the same probe on the source parquet.
      val scbfDir = scratchDir(s) + "/graft_scbf_bloom_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
        .repartition(spread(s)) // round-robin: deliberately unclustered
        .write.format("scbf").mode("overwrite").save(scbfDir)
      s.read.format("scbf").load(scbfDir)
        .filter(col("doc_id").isin(7, 203, 411))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"))
    },

    "q42_scbf_zorder" -> { (s, dir) =>
      // Z-order maintenance end-to-end (ScbfMaintenance.zorder — the
      // multi-dimensional OPTIMIZE): documents land unclustered, the
      // rewrite interleaves equi-depth bucket ranks of (doc_id,
      // n_chars), and the query filters on n_chars ALONE — the
      // second-listed dimension, which a hierarchical cluster would
      // leave completely unprunable. The result is exact regardless of
      // how many files the z-layout skips (filters stay residual);
      // the oracle runs the same filter+aggregate on the source
      // parquet, which is what makes the rewrite gate-able.
      val scbfDir = scratchDir(s) + "/graft_scbf_zorder_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
        .repartition(spread(s))
        .write.format("scbf").mode("overwrite").save(scbfDir)
      graft.sources.ScbfMaintenance.zorder(s, scbfDir, Seq("doc_id", "n_chars"), spread(s))
      s.read.format("scbf").load(scbfDir)
        .filter(col("n_chars") >= 200 && col("n_chars") < 400)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    },

    "q43_scbf_delete" -> { (s, dir) =>
      // DELETE FROM end-to-end (ScbfDelete via DSv2 SupportsDelete) —
      // the takedown path a training-data store needs (PII removal,
      // licence retractions): documents written range-partitioned on
      // doc_id, a doc_id-range delete scopes to the files that can
      // hold victims (the rest stay byte-identical), survivors are
      // re-written through the connector's own append path. The oracle
      // aggregates the source parquet WITHOUT the deleted rows — only
      // an exact, complete delete can hash-match it.
      val scbfDir = scratchDir(s) + "/graft_scbf_delete_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
        .repartitionByRange(spread(s), col("doc_id"))
        .write.format("scbf").mode("overwrite").save(scbfDir)
      graft.sources.ScbfDelete.deleteWhere(s, scbfDir,
        s.sessionState.newHadoopConf(),
        Array(org.apache.spark.sql.sources.And(
          org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 100),
          org.apache.spark.sql.sources.LessThan("doc_id", 200))))
      s.read.format("scbf").load(scbfDir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    },

    "q44_scbf_update" -> { (s, dir) =>
      // UPDATE ... SET ... WHERE end-to-end (ScbfDelete.updateWhere) —
      // the in-place remediation twin of q43's takedown: rows in a
      // doc_id range get their source relabeled and n_chars zeroed
      // (what a redaction pass does after stripping content), every
      // other row passes through byte-identical, and only files that
      // can hold victims are rewritten. The oracle computes the same
      // CASE-mapped aggregate over the source parquet — only an exact,
      // complete, correctly-scoped update hash-matches.
      val scbfDir = scratchDir(s) + "/graft_scbf_update_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
        .repartitionByRange(spread(s), col("doc_id"))
        .write.format("scbf").mode("overwrite").save(scbfDir)
      graft.sources.ScbfDelete.updateWhere(s, scbfDir,
        s.sessionState.newHadoopConf(),
        Array(org.apache.spark.sql.sources.And(
          org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 300),
          org.apache.spark.sql.sources.LessThan("doc_id", 350))),
        Map("source" -> lit("redacted"), "n_chars" -> lit(0)))
      s.read.format("scbf").load(scbfDir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    },

    "q45_scbf_catalog_sql" -> { (s, dir) =>
      // The catalog SQL surface end-to-end, PURE SQL on the engine side:
      // CREATE TABLE ... USING scbf LOCATION → INSERT INTO ... SELECT
      // (with a REPARTITION_BY_RANGE hint so the layout is the ordered
      // one a clustered ingest produces — the DELETE then stats-scopes
      // to the victim files) → SQL DELETE FROM → SELECT aggregate, all
      // through the session catalog (V2SessionCatalog → ScbfTable;
      // external metadata, so the DDL schema is authoritative). q43
      // gates the same takedown through the API; this entry proves a
      // SQL-only user needs nothing from graft.* to run it.
      val scbfDir = scratchDir(s) + "/graft_scbf_catalog_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(scbfDir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q45")
      fs.delete(p, true) // clean location: external tables keep files across DROP
      t(s, dir, "documents").createOrReplaceTempView("graft_q45_src")
      s.sql("CREATE TABLE graft_q45 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf LOCATION '$scbfDir'")
      s.sql(s"""INSERT INTO graft_q45
        SELECT /*+ REPARTITION_BY_RANGE(${spread(s)}, doc_id) */
          CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q45_src""")
      s.sql("DELETE FROM graft_q45 WHERE doc_id >= 400 AND doc_id < 450")
      s.sql("""SELECT source, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q45 GROUP BY source""")
    },

    "q46_scbf_partitioned" -> { (s, dir) =>
      // PARTITIONED BY through the catalog end-to-end, pure SQL:
      // CREATE ... PARTITIONED BY (source) → INSERT (REPARTITION on
      // the partition column so each task holds few values → few,
      // larger files) → SELECT with a partition predicate. Rows route
      // to source=<value>/ subdirectories, each a standalone SCBF
      // directory with its own manifest, and the IN-filter prunes
      // 18 of 20 directories BEFORE their manifests load
      // (ScbfPartitions; pinned by PartitionedTableSpec) — the
      // directory-sharding layout 100 TB ingest needs to keep both
      // listings and manifests bounded per partition.
      val scbfDir = scratchDir(s) + "/graft_scbf_part_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(scbfDir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q46")
      fs.delete(p, true) // clean location: external tables keep files across DROP
      t(s, dir, "documents").createOrReplaceTempView("graft_q46_src")
      s.sql("CREATE TABLE graft_q46 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$scbfDir'")
      s.sql("""INSERT INTO graft_q46
        SELECT /*+ REPARTITION(4, source) */
          CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q46_src""")
      s.sql("""SELECT source, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q46 WHERE source IN ('src3', 'src7') GROUP BY source""")
    },

    "q48_table_optimize" -> { (s, dir) =>
      // Table-level OPTIMIZE end-to-end: a hive-partitioned catalog
      // table ingests TWICE (every partition holds several unclustered
      // files — the streaming/daily-batch layout), then ONE
      // ScbfMaintenance.clusterTable call sweeps every partition with
      // the snapshot-scoped per-directory rewrite — the maintenance
      // call a 100 TB partitioned deployment runs between ingest and
      // query. The post-sweep read combines partition pruning (source
      // IN ...) with the in-partition doc_id range skipping the
      // rewrite just enabled; results are exact either way (filters
      // stay residual), which is what makes the sweep oracle-gateable:
      // the oracle runs the same filter+aggregate on the source
      // parquet.
      val scbfDir = scratchDir(s) + "/graft_scbf_tblopt_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(scbfDir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q48")
      fs.delete(p, true) // clean location: external tables keep files across DROP
      val src = t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
      src.createOrReplaceTempView("graft_q48_src")
      s.sql("CREATE TABLE graft_q48 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$scbfDir'")
      // two ingests, each round-robin WITHIN partitions: several files
      // per partition, every file spanning the whole doc_id range
      Seq("doc_id % 2 = 0", "doc_id % 2 = 1").foreach { half =>
        s.sql(s"""INSERT INTO graft_q48
          SELECT /*+ REPARTITION(4, source) */ doc_id, source, n_chars
          FROM graft_q48_src WHERE $half""")
      }
      // parallel sweep: a partition rewrite at this SF is fixed job
      // overhead, and partitions are independent — 8 concurrent jobs
      graft.sources.ScbfMaintenance.clusterTable(s, scbfDir, Seq("doc_id"), 2,
        parallelism = 8)
      s.sql("""SELECT source, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q48 WHERE source IN ('src2', 'src5') AND doc_id < 2000
        GROUP BY source""")
    },

    "q49_partitioned_delete" -> { (s, dir) =>
      // SQL DELETE on a PARTITIONED table — the takedown path at its
      // real 100 TB layout. Two delete shapes compose: a
      // partition-column predicate (source = 'src4') that scopes by
      // pure path arithmetic — only that directory rewrites, every
      // other partition's files stay byte-identical — and a
      // data-column predicate (a doc_id band) that routes the
      // stats-scoped per-partition rewrite through every partition
      // holding matching rows. Replacements announce on the table's
      // one discovery log, at its root (C:1), so root streams keep their
      // onChangeCommit semantics; the oracle applies the same two
      // WHERE-NOTs to the source parquet.
      val scbfDir = scratchDir(s) + "/graft_scbf_pdel_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(scbfDir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q49")
      fs.delete(p, true) // clean location: external tables keep files across DROP
      t(s, dir, "documents").createOrReplaceTempView("graft_q49_src")
      s.sql("CREATE TABLE graft_q49 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$scbfDir'")
      s.sql("""INSERT INTO graft_q49
        SELECT /*+ REPARTITION(4, source) */
          CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q49_src""")
      s.sql("DELETE FROM graft_q49 WHERE source = 'src4'")
      s.sql("DELETE FROM graft_q49 WHERE doc_id >= 120 AND doc_id < 180")
      s.sql("""SELECT source, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q49 GROUP BY source""")
    },

    "q50_sql_update" -> { (s, dir) =>
      // Pure-SQL UPDATE end-to-end (SupportsRowLevelOperations →
      // ScbfRowLevelOp, group-based copy-on-write) — the redaction
      // path q44 gates through the API, now with nothing from graft.*:
      // a FLAT table gets the q44-twin band redaction, and a
      // PARTITIONED table gets (a) a data-column UPDATE whose modulo
      // condition no metadata path could express and (b) a
      // PARTITION-COLUMN update that moves rows between directories —
      // the case the API path refuses and copy-on-write handles
      // (replacements route to their new source=... directory by
      // value, originals are removed from the old one). The oracle
      // applies the same CASE transforms to the source parquet; only
      // exact, complete, correctly-scoped updates hash-match.
      val base = scratchDir(s) + "/graft_scbf_sqlupd_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q50f")
      s.sql("DROP TABLE IF EXISTS graft_q50p")
      fs.delete(p, true) // clean location: external tables keep files across DROP
      t(s, dir, "documents").createOrReplaceTempView("graft_q50_src")
      // the FLAT and PARTITIONED fixtures are fully independent tables
      // (own locations, own logs, own statements) whose mutations never
      // read each other — their statement chains run concurrently
      // (optimization r15, guide §2.6). Statements WITHIN each chain
      // stay strictly ordered, so each table's final state — the only
      // thing the SELECT below observes — is identical to the serial
      // run; the oracle hash pins that.
      Ops.overlap {
        s.sql("CREATE TABLE graft_q50f (doc_id INT, source STRING, n_chars INT) " +
          s"USING scbf LOCATION '$base/flat'")
        s.sql(s"""INSERT INTO graft_q50f
          SELECT /*+ REPARTITION_BY_RANGE(${spread(s)}, doc_id) */
            CAST(doc_id AS INT), source, CAST(n_chars AS INT)
          FROM graft_q50_src""")
        s.sql("UPDATE graft_q50f SET source = 'redacted', n_chars = 0 " +
          "WHERE doc_id >= 300 AND doc_id < 350")
      } {
        s.sql("CREATE TABLE graft_q50p (doc_id INT, source STRING, n_chars INT) " +
          s"USING scbf PARTITIONED BY (source) LOCATION '$base/part'")
        s.sql("""INSERT INTO graft_q50p
          SELECT /*+ REPARTITION(4, source) */
            CAST(doc_id AS INT), source, CAST(n_chars AS INT)
          FROM graft_q50_src""")
        s.sql("UPDATE graft_q50p SET n_chars = n_chars + 1000 WHERE doc_id % 7 = 0")
        s.sql("UPDATE graft_q50p SET source = 'moved' " +
          "WHERE source = 'src2' AND doc_id < 100")
      }
      s.sql("""SELECT side, source, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM (
          SELECT 'flat' AS side, source, doc_id, n_chars FROM graft_q50f
          UNION ALL
          SELECT 'part' AS side, source, doc_id, n_chars FROM graft_q50p)
        GROUP BY side, source""")
    },

    "q51_sql_merge" -> { (s, dir) =>
      // MERGE INTO end-to-end — the upsert primitive every
      // Delta/Iceberg deployment leans on for incremental ingest, in
      // pure SQL over a PARTITIONED table: a change feed derived from
      // the corpus (every 10th doc re-scored, plus a block of brand-new
      // ids) merges with all three clause kinds. Matched-and-short
      // docs UPDATE (and MOVE partitions: source := 'm'),
      // matched-and-long docs DELETE, unmatched changes INSERT into a
      // fresh source=ins partition. Group-based copy-on-write rewrites
      // only files holding matched rows; the oracle replays the same
      // merge semantics as left/anti joins over the source parquet.
      val base = scratchDir(s) + "/graft_scbf_sqlmerge_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q51")
      fs.delete(p, true) // clean location: external tables keep files across DROP
      t(s, dir, "documents").createOrReplaceTempView("graft_q51_src")
      s.sql("CREATE TABLE graft_q51 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$base'")
      s.sql("""INSERT INTO graft_q51
        SELECT /*+ REPARTITION(4, source) */
          CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q51_src""")
      s.sql("""SELECT CAST(doc_id AS INT) AS doc_id, 'm' AS source,
          CAST(77 AS INT) AS n_chars
        FROM graft_q51_src WHERE doc_id % 10 = 0
        UNION ALL
        SELECT CAST(doc_id + 1000000 AS INT), 'ins', CAST(5 AS INT)
        FROM graft_q51_src WHERE doc_id % 100 = 0""")
        .createOrReplaceTempView("graft_q51_chg")
      s.sql("""MERGE INTO graft_q51 t USING graft_q51_chg c
        ON t.doc_id = c.doc_id
        WHEN MATCHED AND t.n_chars < 300 THEN
          UPDATE SET t.n_chars = c.n_chars, t.source = c.source
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN
          INSERT (doc_id, source, n_chars) VALUES (c.doc_id, c.source, c.n_chars)""")
      s.sql("""SELECT source, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q51 GROUP BY source""")
    },

    "q52_sql_optimize" -> { (s, dir) =>
      // q48's table-level OPTIMIZE, now PURE SQL end-to-end through
      // the GraftExtensions parser: `OPTIMIZE ... CLUSTER BY ... FILES`
      // sweeps every partition of a twice-ingested hive table in one
      // statement and `VACUUM ... RETAIN` sweeps litter — with q45/q49
      // (DELETE), q50 (UPDATE) and q51 (MERGE), the ENTIRE mutation
      // and maintenance surface is now reachable without graft.* (the
      // SQL-only 100 TB operator's full toolbox). The post-OPTIMIZE
      // read combines partition pruning with the in-partition doc_id
      // skipping the statement just enabled; the oracle replays the
      // filter+aggregate on the source parquet — maintenance must be
      // value-invisible to hash-match.
      val scbfDir = scratchDir(s) + "/graft_scbf_sqlopt_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(scbfDir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q52")
      fs.delete(p, true) // clean location: external tables keep files across DROP
      t(s, dir, "documents").createOrReplaceTempView("graft_q52_src")
      s.sql("CREATE TABLE graft_q52 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$scbfDir'")
      Seq("doc_id % 2 = 0", "doc_id % 2 = 1").foreach { half =>
        s.sql(s"""INSERT INTO graft_q52
          SELECT /*+ REPARTITION(4, source) */
            CAST(doc_id AS INT), source, CAST(n_chars AS INT)
          FROM graft_q52_src WHERE $half""")
      }
      s.sql("OPTIMIZE graft_q52 CLUSTER BY (doc_id) FILES 2")
      s.sql("VACUUM graft_q52 RETAIN 24 HOURS")
      s.sql("""SELECT source, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q52 WHERE source IN ('src1', 'src6') AND doc_id >= 300
        GROUP BY source""")
    },

    "q53_partition_mgmt" -> { (s, dir) =>
      // SHOW PARTITIONS / ALTER TABLE ADD/DROP PARTITION / TRUNCATE
      // TABLE ... PARTITION via SupportsPartitionManagement: the
      // partition IS its k=v directory (no metastore to sync), DROP is
      // O(files) metadata work announced to the root discovery log as
      // a removal entry (the same record a metadata-only DELETE
      // leaves), and ADD/TRUNCATE keep their directories readable via
      // 0-row keepers. The net DATA effect of the statements below is
      // two plain source filters, which the oracle replays on the
      // source parquet; the partition-listing surface itself is
      // spec-gated (PartitionMgmtSpec).
      val scbfDir = scratchDir(s) + "/graft_scbf_pm_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(scbfDir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q53")
      fs.delete(p, true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q53_src")
      s.sql("CREATE TABLE graft_q53 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$scbfDir'")
      s.sql("""INSERT INTO graft_q53
        SELECT /*+ REPARTITION(4, source) */
          CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q53_src""")
      s.sql("ALTER TABLE graft_q53 ADD PARTITION (source='zzz_added')")
      s.sql("ALTER TABLE graft_q53 DROP PARTITION (source='src2')")
      s.sql("TRUNCATE TABLE graft_q53 PARTITION (source='src4')")
      val parts = s.sql("SHOW PARTITIONS graft_q53")
        .collect().map(_.getString(0)).toSet
      require(parts.contains("source=zzz_added") &&
        !parts.contains("source=src2") && parts.contains("source=src4"),
        s"partition surface after ADD/DROP/TRUNCATE is wrong: $parts")
      s.sql("""SELECT source, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q53 GROUP BY source""")
    },

    "q54_partition_overwrite" -> { (s, dir) =>
      // Partition-scoped INSERT OVERWRITE — the idempotent re-ingest
      // primitive: STATIC (`PARTITION (source='src3')` replaces
      // exactly that partition's files, scope decided by path cells —
      // out-of-scope partitions stay byte-identical) and DYNAMIC
      // (`partitionOverwriteMode=dynamic` replaces exactly the
      // partitions the insert produces rows for). Victims announce as
      // a C:1 removal entry, new files as plain entries, so streams
      // keep their onChangeCommit semantics. The oracle replays both
      // replacements as plain SQL over the source parquet.
      val scbfDir = scratchDir(s) + "/graft_scbf_ow_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(scbfDir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q54")
      fs.delete(p, true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q54_src")
      s.sql("CREATE TABLE graft_q54 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$scbfDir'")
      s.sql("""INSERT INTO graft_q54
        SELECT /*+ REPARTITION(4, source) */
          CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q54_src""")
      // static: re-ingest src3 with recomputed rows
      s.sql("""INSERT OVERWRITE graft_q54 PARTITION (source='src3')
        SELECT CAST(doc_id + 1000000 AS INT), CAST(n_chars * 2 AS INT)
        FROM graft_q54_src WHERE source = 'src3'""")
      // dynamic: only src5 appears in the data, only src5 is replaced
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try s.sql("""INSERT OVERWRITE graft_q54
        SELECT CAST(doc_id AS INT), source, CAST(0 AS INT)
        FROM graft_q54_src WHERE source = 'src5'""")
      finally s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      s.sql("""SELECT source, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q54 GROUP BY source""")
    },

    "q55_spj_join" -> { (s, dir) =>
      // Storage-partitioned join end-to-end: a documents fact table
      // and a one-row-per-source dim share the source=... directory
      // layout, so both scans report KeyGroupedPartitioning and the
      // join ON the partition column — and the GROUP BY behind it —
      // runs with ZERO exchanges on either side (Spark co-locates
      // splits by partition key; ScbfScan.outputPartitioning). At
      // 100 TB this deletes a co-partitioned layout's entire shuffle
      // bill. The require pins the exchange-free plan in every
      // gate/bench run (broadcast disabled while pinning so the plan
      // can't dodge via a BroadcastExchange); the oracle replays
      // fact-join-dim over the source parquet.
      val base = scratchDir(s) + "/graft_scbf_spj_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      Seq("graft_q55f", "graft_q55d")
        .foreach(tn => s.sql(s"DROP TABLE IF EXISTS $tn"))
      fs.delete(p, true) // clean location: external tables keep files across DROP
      t(s, dir, "documents").createOrReplaceTempView("graft_q55_src")
      s.sql("CREATE TABLE graft_q55f (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$base/fact'")
      s.sql("CREATE TABLE graft_q55d (source STRING, src_docs INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$base/dim'")
      // fact and dim are independent tables (own locations, own logs):
      // their ingests overlap (optimization r15, guide §2.6 — the q50
      // pattern); catalog DDL stays serial above
      Ops.overlap {
        s.sql("""INSERT INTO graft_q55f
          SELECT /*+ REPARTITION(4, source) */
            CAST(doc_id AS INT), source, CAST(n_chars AS INT)
          FROM graft_q55_src""")
      } {
        s.sql("""INSERT INTO graft_q55d
          SELECT /*+ REPARTITION(4, source) */ source, CAST(COUNT(*) AS INT)
          FROM graft_q55_src GROUP BY source""")
      }
      val q = """SELECT f.source, COUNT(*) AS cnt,
        SUM(f.n_chars) AS sum_chars, MAX(d.src_docs) AS src_docs
        FROM graft_q55f f JOIN graft_q55d d ON f.source = d.source
        GROUP BY f.source"""
      // the pin only applies when SPJ is actually on (both confs
      // default true) — with either escape hatch thrown the query
      // still answers, it just shuffles (the A/B measurement shape)
      val spjOn = graft.GraftConf.str(s, graft.GraftConf.SpjEnabled, "true")
        .toBoolean && s.conf
        .get("spark.sql.sources.v2.bucketing.enabled", "true").toBoolean
      val oldBr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val pin = s.sql(q)
        pin.collect()
        val plan = pin.queryExecution.executedPlan.toString
        require(!spjOn || !plan.contains("Exchange"),
          s"storage-partitioned join must be exchange-free:\n$plan")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBr)
      s.sql(q)
    },

    "q56_partition_rollup" -> { (s, dir) =>
      // Metadata-only GROUP BY partition columns: the per-partition
      // COUNT/MIN/MAX/SUM rollup — the "how big is each partition"
      // query every 100 TB operator runs daily — is answered entirely
      // from the stats manifests (ScbfAgg grouped pushdown): one row
      // per live partition, ZERO data files opened, enforced by the
      // requires below on every gate/bench run. The oracle replays the
      // same rollup over the source parquet.
      val base = scratchDir(s) + "/graft_scbf_rollup_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q56")
      fs.delete(p, true) // clean location: external tables keep files across DROP
      t(s, dir, "documents").createOrReplaceTempView("graft_q56_src")
      s.sql("CREATE TABLE graft_q56 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$base'")
      // two waves: each partition's rollup must merge several files' stats
      Seq("doc_id % 2 = 0", "doc_id % 2 = 1").foreach { half =>
        s.sql(s"""INSERT INTO graft_q56
          SELECT /*+ REPARTITION(4, source) */
            CAST(doc_id AS INT), source, CAST(n_chars AS INT)
          FROM graft_q56_src WHERE $half""")
      }
      val q = """SELECT source, COUNT(*) AS cnt,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        SUM(n_chars) AS sum_chars
        FROM graft_q56 GROUP BY source"""
      val pin = s.sql(q)
      graft.sources.ScbfUtil.dataFileOpens.set(0)
      pin.collect()
      require(graft.sources.ScbfUtil.dataFileOpens.get == 0,
        "the partition rollup must not open a data file")
      require(pin.queryExecution.executedPlan.toString.contains("PushedAggregation"),
        s"rollup must push: ${pin.queryExecution.executedPlan}")
      s.sql(q)
    },

    "q57_add_column" -> { (s, dir) =>
      // ALTER TABLE ... ADD COLUMN ... DEFAULT as ONE managed statement
      // (GraftAddColumnsCommand): the schema-evolution recipe —
      // successor + one-pass rewrite + atomic swap + discovery-log
      // continuity — that round 9's README documented as three manual
      // steps. Runs on a PARTITIONED table (layout must survive), adds
      // a DOUBLE and a STRING column in one statement, then proves
      // mixed old/new files interoperate: a post-ALTER INSERT supplies
      // explicit values while rewritten rows carry the defaults. The
      // oracle replays default + insert semantics over the source
      // parquet — only an exact, complete, layout-preserving rewrite
      // hash-matches.
      val base = scratchDir(s) + "/graft_scbf_addcol_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q57")
      fs.delete(p, true) // clean location: external tables keep files across DROP
      t(s, dir, "documents").createOrReplaceTempView("graft_q57_src")
      s.sql("CREATE TABLE graft_q57 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf PARTITIONED BY (source) LOCATION '$base'")
      s.sql("""INSERT INTO graft_q57
        SELECT /*+ REPARTITION(4, source) */
          CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q57_src""")
      s.sql("ALTER TABLE graft_q57 ADD COLUMNS (score DOUBLE DEFAULT 1.5, " +
        "lang STRING DEFAULT 'und')")
      // mixed files: new-schema INSERT coexists with rewritten defaults
      s.sql("""INSERT INTO graft_q57
        SELECT CAST(doc_id + 1000000 AS INT), 'ins', CAST(7 AS INT),
          CAST(2.0 AS DOUBLE), 'en'
        FROM graft_q57_src WHERE doc_id % 10 = 0""")
      // partition pruning still bites on the rewritten layout
      val pin = s.sql(
        "SELECT COUNT(*) FROM graft_q57 WHERE source = 'ins' AND lang = 'en'")
      graft.sources.ScbfPartitions.listedDirs.clear()
      pin.collect()
      val walked = graft.sources.ScbfPartitions.listedDirs
        .toArray(Array.empty[String]).toSeq.filter(_.contains("source="))
      require(walked.nonEmpty && walked.forall(_.endsWith("source=ins")),
        s"post-ADD-COLUMN partition pruning must hold: $walked")
      s.sql("""SELECT source, lang, COUNT(*) AS cnt,
        SUM(n_chars) AS sum_chars, SUM(score) AS sum_score,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q57 GROUP BY source, lang""")
    },

    "q58_bucket_spj" -> { (s, dir) =>
      // bucket(16, doc_id) as a REAL catalog transform (GraftCatalog +
      // its V2 bucket function): two HIGH-CARDINALITY fact tables
      // share the hash-bucket layout, so the join ON doc_id — the
      // shape q55's identity-partition SPJ cannot cover (a partition
      // per doc_id would be absurd) — runs with zero join exchanges:
      // Spark resolves the reported bucket transform against the
      // catalog's function (the same floorMod the writer routes with)
      // and co-locates splits by bucket id. This lifts round 9's
      // manual `db = doc_id % 32` recipe into DDL: the bucket column
      // never appears in the schema and the user owns nothing. The
      // require pins the exchange-free join (broadcast disabled while
      // pinning); the oracle replays the join over the source parquet.
      val wh = scratchDir(s) + "/graft_cat_q58_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      s.conf.set("spark.sql.catalog.gq58", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gq58.warehouse", wh)
      val p = new org.apache.hadoop.fs.Path(wh)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("CREATE NAMESPACE IF NOT EXISTS gq58.db")
      Seq("docs", "scores").foreach(tn =>
        s.sql(s"DROP TABLE IF EXISTS gq58.db.$tn"))
      fs.delete(p, true)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gq58.db")
      t(s, dir, "documents").createOrReplaceTempView("graft_q58_src")
      s.sql("CREATE TABLE gq58.db.docs (doc_id INT, n_chars INT) USING scbf " +
        "PARTITIONED BY (bucket(16, doc_id))")
      s.sql("CREATE TABLE gq58.db.scores (doc_id INT, score DOUBLE) USING scbf " +
        "PARTITIONED BY (bucket(16, doc_id))")
      // the two bucketed ingests are independent tables: overlap them
      // (optimization r15, guide §2.6 — the q50 pattern); DDL serial
      Ops.overlap {
        s.sql("""INSERT INTO gq58.db.docs
          SELECT CAST(doc_id AS INT), CAST(n_chars AS INT) FROM graft_q58_src""")
      } {
        s.sql("""INSERT INTO gq58.db.scores
          SELECT CAST(doc_id AS INT), CAST(doc_id % 97 AS DOUBLE)
          FROM graft_q58_src WHERE doc_id % 3 = 0""")
      }
      val q = """SELECT COUNT(*) AS cnt,
        SUM(d.n_chars * s2.score) AS sum_mix,
        MIN(d.doc_id) AS min_doc, MAX(d.doc_id) AS max_doc
        FROM gq58.db.docs d JOIN gq58.db.scores s2 ON d.doc_id = s2.doc_id"""
      val spjOn = graft.GraftConf.str(s, graft.GraftConf.SpjEnabled, "true")
        .toBoolean && s.conf
        .get("spark.sql.sources.v2.bucketing.enabled", "true").toBoolean
      val oldBr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val pin = s.sql(q)
        pin.collect()
        val plan = pin.queryExecution.executedPlan.toString
        // the JOIN must add no exchange; the global aggregate's
        // SinglePartition collect is not a join shuffle
        require(!spjOn || !plan.contains("Exchange hashpartitioning"),
          s"co-bucketed join must be exchange-free:\n$plan")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBr)
      s.sql(q)
    },

    "q59_time_travel" -> { (s, dir) =>
      // Read-only time travel as a GATED query: two ingest waves, and
      // the AS OF read must see EXACTLY wave 1 — the oracle replays
      // the wave-1 predicate over the source parquet, so only an
      // exact discovery-log replay hash-matches. The AS OF timestamp
      // is picked FROM `DESCRIBE HISTORY` (max publication ts after
      // wave 1) — the way a real user finds their point in time, and
      // a pin that the history relation agrees with the version chain
      // the replay walks. A require() also pins the live read seeing
      // both waves (AS OF must not leak into the present).
      val base = scratchDir(s) + "/graft_scbf_asof_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q59")
      fs.delete(p, true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q59_src")
      s.sql("CREATE TABLE graft_q59 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf LOCATION '$base'")
      s.sql("""INSERT INTO graft_q59
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q59_src WHERE doc_id % 3 != 0""")
      val t1 = s.sql("DESCRIBE HISTORY graft_q59")
        .agg(org.apache.spark.sql.functions.max("ts")).head()
        .getTimestamp(0).getTime
      Thread.sleep(10) // wave 2 publishes strictly after t1
      s.sql("""INSERT INTO graft_q59
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q59_src WHERE doc_id % 3 = 0""")
      val live = s.table("graft_q59").count()
      val total = s.table("graft_q59_src").count()
      require(live == total, s"live table must see both waves: $live != $total")
      // round 11: the commit-ordinal axis agrees with the time axis —
      // DESCRIBE HISTORY COMMITS shows the two waves (newest first),
      // and VERSION AS OF 0 (the chain mapping SQL's VERSION AS OF
      // rides) renders exactly the same state as TIMESTAMP AS OF t1
      val commits = s.sql("DESCRIBE HISTORY graft_q59 COMMITS").collect()
      require(commits.length == 2 && commits.map(_.getInt(0)).toSeq == Seq(1, 0),
        s"two waves = two commits, newest first: ${commits.mkString("; ")}")
      val v0ts = graft.sources.ScbfDiscovery.versionTs(
        fs.makeQualified(p), s.sessionState.newHadoopConf(), 0)
      val asOfCnt = s.read.format("scbf").option("asOfTimestamp", t1)
        .load(base).count()
      val v0Cnt = s.read.format("scbf").option("asOfTimestamp", v0ts)
        .load(base).count()
      require(v0Cnt == asOfCnt,
        s"VERSION AS OF 0 must equal TIMESTAMP AS OF wave-1: $v0Cnt != $asOfCnt")
      s.read.format("scbf").option("asOfTimestamp", t1).load(base)
        .groupBy("source")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("cnt"),
          org.apache.spark.sql.functions.sum("n_chars").as("sum_chars"),
          org.apache.spark.sql.functions.min("doc_id").as("min_doc"),
          org.apache.spark.sql.functions.max("doc_id").as("max_doc"))
    },

    "q60_schema_evolution" -> { (s, dir) =>
      // DROP COLUMN + RENAME COLUMN as managed one-statement rewrites
      // (GraftDropColumnsCommand / GraftRenameColumnCommand — the
      // completion of q57's ADD COLUMN family: the frozen format has
      // no column-mapping layer, so each is an explicit one-pass
      // rewrite + atomic swap). Runs on a PARTITIONED table, drops a
      // column, renames another, then proves mixed old/new files
      // interoperate via a post-ALTER INSERT. The oracle replays
      // drop/rename semantics over the source parquet — only an exact,
      // complete, layout-preserving rewrite hash-matches.
      val base = scratchDir(s) + "/graft_scbf_evocol_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q60")
      fs.delete(p, true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q60_src")
      s.sql("CREATE TABLE graft_q60 (doc_id INT, source STRING, n_chars INT, " +
        s"extra INT) USING scbf PARTITIONED BY (source) LOCATION '$base'")
      s.sql("""INSERT INTO graft_q60
        SELECT /*+ REPARTITION(4, source) */
          CAST(doc_id AS INT), source, CAST(n_chars AS INT),
          CAST(doc_id % 5 AS INT)
        FROM graft_q60_src""")
      s.sql("ALTER TABLE graft_q60 DROP COLUMN extra")
      s.sql("ALTER TABLE graft_q60 RENAME COLUMN n_chars TO chars")
      // mixed files: new-schema INSERT coexists with rewritten rows
      s.sql("""INSERT INTO graft_q60
        SELECT CAST(doc_id + 1000000 AS INT), 'ins', CAST(7 AS INT)
        FROM graft_q60_src WHERE doc_id % 10 = 0""")
      // partition pruning still bites on the twice-rewritten layout
      val pin = s.sql(
        "SELECT COUNT(*) FROM graft_q60 WHERE source = 'ins' AND chars = 7")
      graft.sources.ScbfPartitions.listedDirs.clear()
      pin.collect()
      val walked = graft.sources.ScbfPartitions.listedDirs
        .toArray(Array.empty[String]).toSeq.filter(_.contains("source="))
      require(walked.nonEmpty && walked.forall(_.endsWith("source=ins")),
        s"post-DROP/RENAME partition pruning must hold: $walked")
      s.sql("""SELECT source, COUNT(*) AS cnt, SUM(chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q60 GROUP BY source""")
    },

    "q61_dirsum_prune" -> { (s, dir) =>
      // Whole-DIRECTORY pre-pruning from the manifest's fingerprinted
      // dirsum bounds (round 10): ids are clustered BY PARTITION (the
      // natural time/ingest layout — db = doc_id div 1000), so a
      // narrow doc_id band drops every other directory on its ~200 B
      // summary head-read and parses exactly ONE manifest. The require
      // pins the IO shape INSIDE the query; the oracle replays the
      // band over the source parquet, so only an exact (never
      // over-eager) drop hash-matches.
      val base = scratchDir(s) + "/graft_scbf_dirsum_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q61")
      fs.delete(p, true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q61_src")
      s.sql("CREATE TABLE graft_q61 (doc_id INT, source STRING, n_chars INT, " +
        s"db INT) USING scbf PARTITIONED BY (db) LOCATION '$base'")
      s.sql("""INSERT INTO graft_q61
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT),
          CAST(doc_id DIV 1000 AS INT)
        FROM graft_q61_src""")
      val q = """SELECT source, COUNT(*) AS cnt, SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q61 WHERE doc_id >= 100 AND doc_id < 200
        GROUP BY source"""
      val pin = s.sql(q)
      graft.sources.ScbfStats.manifestReads.set(0)
      graft.sources.ScbfStats.summaryReads.set(0)
      pin.collect()
      require(graft.sources.ScbfStats.manifestReads.get == 1,
        s"the band must parse ONE manifest (the surviving directory), " +
          s"got ${graft.sources.ScbfStats.manifestReads.get}")
      require(graft.sources.ScbfStats.summaryReads.get >= 1,
        "directory screening must run on summary head-reads")
      s.sql(q)
    },

    "q62_shallow_clone" -> { (s, dir) =>
      // Zero-copy SHALLOW CLONE as a GATED query: source built from 3/4
      // of documents, cloned (zero data opens — pinned), the remaining
      // 1/4 APPENDED to the clone only. The oracle aggregates ALL
      // documents, so only a clone that references the source's files
      // exactly AND keeps its appends local hash-matches; two requires
      // pin the zero-copy claim (no data opened at clone time) and
      // source byte-identity (same file set, same lengths, after the
      // clone was mutated).
      val base = scratchDir(s) + "/graft_scbf_clone_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val conf = s.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      s.sql("DROP TABLE IF EXISTS graft_q62c")
      s.sql("DROP TABLE IF EXISTS graft_q62")
      fs.delete(p, true)
      fs.delete(new org.apache.hadoop.fs.Path(base + "_c"), true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q62_src")
      s.sql("CREATE TABLE graft_q62 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf LOCATION '$base'")
      s.sql("""INSERT INTO graft_q62
        SELECT /*+ REPARTITION(4) */ CAST(doc_id AS INT), source,
          CAST(n_chars AS INT)
        FROM graft_q62_src WHERE doc_id % 4 != 0""")
      def sig = graft.sources.ScbfDataSource.resolveFiles(Seq(base), conf)
        .map(f => (f.getPath.toString, f.getLen))
      val sig0 = sig
      graft.sources.ScbfUtil.dataFileOpens.set(0)
      s.sql(s"CREATE TABLE graft_q62c SHALLOW CLONE graft_q62 " +
        s"LOCATION '${base}_c'")
      require(graft.sources.ScbfUtil.dataFileOpens.get == 0,
        "SHALLOW CLONE must open zero data files (metadata-only branch)")
      s.sql("""INSERT INTO graft_q62c
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q62_src WHERE doc_id % 4 = 0""")
      require(sig == sig0,
        s"the mutated clone must leave the source byte-identical")
      s.sql("""SELECT source, COUNT(*) AS cnt, SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q62c GROUP BY source""")
    },

    "q63_partitioned_clone" -> { (s, dir) =>
      // Partition-GRADE SHALLOW CLONE (round 12): the branch of a
      // partitioned table keeps directory pruning — refs are pruned by
      // their SOURCE-rooted k=v cells as pure path arithmetic, so a
      // partition-predicate read stats ONLY the selected partition's
      // refs and never lists a source partition directory. Three
      // requires pin that in-query (zero-open creation, ref-stat count
      // == selected partition's refs, zero source partition listings);
      // the oracle replays the partition predicate over the source
      // parquet, so only an exact branch rendering hash-matches.
      val base = scratchDir(s) + "/graft_scbf_pclone_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val conf = s.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      s.sql("DROP TABLE IF EXISTS graft_q63c")
      s.sql("DROP TABLE IF EXISTS graft_q63")
      fs.delete(p, true)
      fs.delete(new org.apache.hadoop.fs.Path(base + "_c"), true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q63_src")
      s.sql("CREATE TABLE graft_q63 (doc_id INT, source STRING, n_chars INT, " +
        s"db INT) USING scbf PARTITIONED BY (db) LOCATION '$base'")
      // two waves → multi-file partitions (pruning must drop FILES, not
      // get lucky with one-file dirs)
      s.sql("""INSERT INTO graft_q63
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT),
          CAST(doc_id % 5 AS INT)
        FROM graft_q63_src WHERE doc_id % 2 = 0""")
      s.sql("""INSERT INTO graft_q63
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT),
          CAST(doc_id % 5 AS INT)
        FROM graft_q63_src WHERE doc_id % 2 = 1""")
      graft.sources.ScbfUtil.dataFileOpens.set(0)
      s.sql(s"CREATE TABLE graft_q63c SHALLOW CLONE graft_q63 " +
        s"LOCATION '${base}_c'")
      require(graft.sources.ScbfUtil.dataFileOpens.get == 0,
        "SHALLOW CLONE of a partitioned table must open zero data files")
      val qsrc = fs.makeQualified(p).toString
      val refsAll = graft.sources.ScbfDataSource.resolveFiles(Seq(base), conf)
      val refsSel = refsAll.count(_.getPath.toString.contains("db=2"))
      require(refsSel > 0 && refsSel < refsAll.size,
        s"fixture must be multi-partition: $refsSel of ${refsAll.size}")
      val q = """SELECT source, COUNT(*) AS cnt, SUM(n_chars) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM graft_q63c WHERE db = 2 GROUP BY source"""
      val pin = s.sql(q)
      graft.sources.ScbfClone.refStats.set(0)
      graft.sources.ScbfPartitions.listedDirs.clear()
      pin.collect()
      require(graft.sources.ScbfClone.refStats.get == refsSel,
        s"the branch read must stat ONLY db=2's refs: " +
          s"${graft.sources.ScbfClone.refStats.get} != $refsSel")
      val walked = graft.sources.ScbfPartitions.listedDirs
        .toArray(Array.empty[String]).toSeq
        .filter(d => d.startsWith(qsrc) && d.contains("db="))
      require(walked.isEmpty,
        s"branch pruning is path arithmetic — no source partition may be " +
          s"listed: $walked")
      // round 12: branch appends are PARTITION-GROUPED — the clone's
      // catalog entry carries the source's identity partitioning, so
      // this insert routes into a db=2 subdirectory of the CLONE root
      // (REQUIREd below) and the final read serves refs ∪ grouped
      // locals; the oracle gains exactly the appended rows, so only an
      // exact merged rendering hash-matches.
      s.sql("""INSERT INTO graft_q63c
        SELECT CAST(doc_id + 1000000 AS INT), 'ins', CAST(7 AS INT),
          CAST(2 AS INT)
        FROM graft_q63_src WHERE doc_id % 10 = 0""")
      val qcl = fs.makeQualified(
        new org.apache.hadoop.fs.Path(base + "_c")).toString
      val locals = graft.sources.ScbfDataSource
        .resolveFiles(Seq(base + "_c"), conf)
        .filter(_.getPath.toString.startsWith(qcl))
      require(locals.nonEmpty && locals.forall(
          _.getPath.toString.contains("db=2")),
        s"branch appends must land under the clone's k=v layout: " +
          s"${locals.map(_.getPath)}")
      s.sql(q)
    },

    "q64_change_feed" -> { (s, dir) =>
      // Row-level CHANGE FEED as a GATED query (round 12): the
      // `changesSince[Version]` batch read — the resync primitive for
      // incremental consumers. Three ingest waves plus an in-window
      // add-then-takedown; the feed from the point after wave 1 must
      // return EXACTLY waves 2+3 (the takedown nets to zero) — the
      // oracle replays the wave-2/3 predicate over the source parquet,
      // so only an exact windowed replay hash-matches. Requires pin,
      // in-query: (a) the replay is BOUNDED — only deltas named after
      // the start point are read (4 of 5: waves 2,3, the netted add,
      // its removal — never wave 1's); (b) the version-ordinal
      // spelling renders the same window as the timestamp spelling.
      val base = scratchDir(s) + "/graft_scbf_feed_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      s.sql("DROP TABLE IF EXISTS graft_q64")
      fs.delete(p, true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q64_src")
      s.sql("CREATE TABLE graft_q64 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf LOCATION '$base'")
      s.sql("""INSERT INTO graft_q64
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q64_src WHERE doc_id % 3 = 0""")
      // the consumer's last-seen point: an instant strictly after wave
      // 1's publication (what a periodic consumer records between
      // reads) — strictly after the wave-1 DELTA NAME too, so the
      // bounded-replay pin below is deterministic (a point equal to a
      // delta's own millisecond legitimately re-reads that one delta)
      val t1 = { Thread.sleep(5); System.currentTimeMillis() }
      s.sql("""INSERT INTO graft_q64
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q64_src WHERE doc_id % 3 = 1""")
      s.sql("""INSERT INTO graft_q64
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q64_src WHERE doc_id % 3 = 2""")
      // in-window add + whole-file takedown: nets to ZERO in the feed
      s.sql("""INSERT INTO graft_q64
        SELECT /*+ COALESCE(1) */ CAST(-1 AS INT), 'netted', CAST(0 AS INT)
        FROM range(10)""")
      s.sql("DELETE FROM graft_q64 WHERE doc_id < 0")
      graft.sources.ScbfDiscovery.deltaReads.set(0)
      val fed = s.read.format("scbf").option("changesSince", t1).load(base)
      val cnt = fed.count()
      val reads = graft.sources.ScbfDiscovery.deltaReads.get
      require(reads == 4,
        s"the feed must read ONLY the 4 deltas named after the start " +
          s"point (waves 2,3 + the netted add + its removal), read $reads")
      // version spelling ≡ timestamp spelling: wave 1 is commit 0
      val vCnt = s.read.format("scbf").option("changesSinceVersion", 0)
        .load(base).count()
      require(vCnt == cnt,
        s"changesSinceVersion 0 must render the same window: $vCnt != $cnt")
      fed.groupBy("source")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("cnt"),
          org.apache.spark.sql.functions.sum("n_chars").as("sum_chars"),
          org.apache.spark.sql.functions.min("doc_id").as("min_doc"),
          org.apache.spark.sql.functions.max("doc_id").as("max_doc"))
    },

    "q65_cdc_enumeration" -> { (s, dir) =>
      // Row-level CDC as a GATED query (round 13): a window SPANNING a
      // DELETE enumerates the removed rows tagged _change_type='delete'
      // — the exact consumer shape q64's netting feed GATES on
      // (onChangeCommit=fail), served instead by enumeration from
      // zero-copy retained bytes (ScbfCdc). The takedown's victims
      // include PRE-window rows (wave 1), so the oracle only matches
      // an exact per-commit change log: wave-2 inserts plus every
      // deleted row from both waves. Requires pin, in-query: (a) the
      // replay is BOUNDED — only the 2 deltas named after the start
      // point are read (wave 2 + the takedown's replacement commit);
      // (b) retention is RENAME, not copy — the victims left the
      // table, and the enumeration's delete rows come from the CDC
      // area without any re-write of table bytes.
      val base = scratchDir(s) + "/graft_scbf_cdc_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val conf = s.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      s.sql("DROP TABLE IF EXISTS graft_q65")
      fs.delete(p, true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q65_src")
      s.sql("CREATE TABLE graft_q65 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf LOCATION '$base'")
      graft.sources.ScbfCdc.enable(p, conf)
      s.sql("""INSERT INTO graft_q65
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q65_src WHERE doc_id % 3 = 0""")
      val t1 = { Thread.sleep(5); System.currentTimeMillis() }
      s.sql("""INSERT INTO graft_q65
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q65_src WHERE doc_id % 3 = 1""")
      s.sql("DELETE FROM graft_q65 WHERE n_chars < 200")
      graft.sources.ScbfDiscovery.deltaReads.set(0)
      val fed = graft.sources.ScbfCdc.changes(s, base, since = Some(t1))
      val reads = graft.sources.ScbfDiscovery.deltaReads.get
      require(reads == 2,
        s"the CDC replay must read ONLY the 2 deltas named after the " +
          s"start point (wave 2 + the takedown), read $reads")
      val liveBytes = graft.sources.ScbfDataSource.resolveFiles(Seq(base), conf)
      require(liveBytes.forall(f =>
          !f.getPath.toString.contains(graft.sources.ScbfCdc.DirName)),
        "retained victims must live OUTSIDE the table listing")
      fed.groupBy(col(graft.sources.ScbfCdc.ChangeTypeCol).as("change_type"))
        .agg(count(lit(1)).as("cnt"),
          sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"))
    },

    "q66_cdc_versions" -> { (s, dir) =>
      // The CDC enumeration's ORDINAL axis (round 14): every change row
      // carries `_commit_version`, its commit's DESCRIBE HISTORY COMMITS
      // ordinal (exact across folds — compaction stamps each folded
      // commit's ordinal into its entries). Grouping by the RELATIVE
      // ordinal makes the result oracle-matchable: the wave-2 insert is
      // the takedown's predecessor, so rel 0 = inserts, rel 1 = deletes.
      // REQUIRE pin, in-query: the absolute ordinals must be EXACTLY the
      // chain's last two commits (the axis DESCRIBE HISTORY serves).
      val base = scratchDir(s) + "/graft_scbf_cdcv_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(base)
      val conf = s.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      s.sql("DROP TABLE IF EXISTS graft_q66")
      fs.delete(p, true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q66_src")
      s.sql("CREATE TABLE graft_q66 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf LOCATION '$base'")
      graft.sources.ScbfCdc.enable(p, conf)
      s.sql("""INSERT INTO graft_q66
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q66_src WHERE doc_id % 3 = 0""")
      val t1 = { Thread.sleep(5); System.currentTimeMillis() }
      s.sql("""INSERT INTO graft_q66
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q66_src WHERE doc_id % 3 = 1""")
      s.sql("DELETE FROM graft_q66 WHERE n_chars < 200")
      val fed = graft.sources.ScbfCdc.changes(s, base, since = Some(t1))
      val qroot = fs.makeQualified(p)
      val chain = graft.sources.ScbfDiscovery.versionedChain(qroot, conf)
      val total = chain.last._3 + 1
      val vcol = col(graft.sources.ScbfCdc.CommitVersionCol)
      // the one aggregate below is the measured work; this pin collects
      // its 2-group shadow to hold the ordinals to the HISTORY axis
      val pin = fed.groupBy(col(graft.sources.ScbfCdc.ChangeTypeCol))
        .agg(min(vcol).as("lo"), max(vcol).as("hi")).collect()
        .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap
      require(pin("insert") == ((total - 2, total - 2)) &&
        pin("delete") == ((total - 1, total - 1)),
        s"CDC ordinals must be the chain's last two commits: $pin vs total $total")
      // relative ordinal: a 1-row broadcast of the window's min version
      // (never a single-partition window over the corpus)
      val minV = broadcast(fed.agg(min(vcol).as("min_v")))
      fed.crossJoin(minV)
        .groupBy(col(graft.sources.ScbfCdc.ChangeTypeCol).as("change_type"),
          (vcol - col("min_v")).cast("int").as("version_rel"))
        .agg(count(lit(1)).as("cnt"),
          sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"))
    },

    "q67_cdc_stream_catchup" -> { (s, dir) =>
      // STREAMING CDC catch-up, priced (round 15): the mirror
      // pipeline's recovery shape — a `readChangeFeed` stream started
      // from a persisted point drains a multi-commit backlog (insert
      // wave + DELETE) exactly once into a DISTRIBUTED scbf sink (no
      // driver funnel), then the mirror is aggregated. Same change-set
      // as q65, so the oracle pins exactly-once delivery value-level.
      // REQUIRE pins, in-query: (a) the whole backlog drains in ONE
      // commit-aligned trigger; (b) per-trigger planning stays
      // O(changes) — bounded delta reads, never the table's history.
      val base = scratchDir(s) + "/graft_scbf_cdcs_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val mirror = base + "_mirror"
      val ckpt = base + "_ckpt"
      val p = new org.apache.hadoop.fs.Path(base)
      val conf = s.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      s.sql("DROP TABLE IF EXISTS graft_q67")
      fs.delete(p, true)
      fs.delete(new org.apache.hadoop.fs.Path(mirror), true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      t(s, dir, "documents").createOrReplaceTempView("graft_q67_src")
      s.sql("CREATE TABLE graft_q67 (doc_id INT, source STRING, n_chars INT) " +
        s"USING scbf LOCATION '$base'")
      graft.sources.ScbfCdc.enable(p, conf)
      s.sql("""INSERT INTO graft_q67
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q67_src WHERE doc_id % 3 = 0""")
      val t1 = { Thread.sleep(5); System.currentTimeMillis() }
      s.sql("""INSERT INTO graft_q67
        SELECT CAST(doc_id AS INT), source, CAST(n_chars AS INT)
        FROM graft_q67_src WHERE doc_id % 3 = 1""")
      s.sql("DELETE FROM graft_q67 WHERE n_chars < 200")
      graft.sources.ScbfDiscovery.deltaReads.set(0)
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.format("scbf")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", t1.toString)
        .load(base)
        // SCBF sink carries the 3-type payload; the timestamp axis is
        // redundant with version for the mirror (and exercises the
        // stream's column pruning)
        .select(col("doc_id"), col("n_chars"),
          col(graft.sources.ScbfCdc.ChangeTypeCol),
          col(graft.sources.ScbfCdc.CommitVersionCol))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.incrementAndGet()
          df.write.format("scbf").mode("append").save(mirror)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      val reads = graft.sources.ScbfDiscovery.deltaReads.get
      require(batches.get == 1,
        s"the catch-up must drain in ONE commit-aligned trigger, took ${batches.get}")
      require(reads <= 4,
        s"per-trigger planning must stay O(changes) — $reads delta reads")
      s.read.format("scbf").load(mirror)
        .groupBy(col(graft.sources.ScbfCdc.ChangeTypeCol).as("change_type"))
        .agg(count(lit(1)).as("cnt"),
          sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"))
    },

    "q17_events_tumbling" -> { (s, dir) =>
      // Tumbling 1h windows, batch shape (streaming variant lives in
      // graft.streaming); ts arrives as nanos-since-epoch (see Ops.events)
      Ops.events(s, dir)
        .withColumn("ts_us", timestamp_micros(expr("ts div 1000")))
        .groupBy(date_format(date_trunc("hour", col("ts_us")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value"), 6).as("sum_value"))
    },

    "q18_sort_order" -> { (s, dir) =>
      // Global ranking WITHOUT the single-partition window
      // anti-pattern — see Ops.globalRowNumber (range-partition, local
      // rank, cumulative offsets). A bare Window.orderBy would funnel
      // the whole table through one task.
      val src = t(s, dir, "part").select(col("p_partkey"), col("p_retailprice"))
      Ops.globalRowNumber(src,
          Seq(col("p_retailprice").desc, col("p_partkey").asc),
          // leading key is DESCENDING: negate for the ascending-bucket
          // contract; desc default is NULLS LAST
          Ops.rangeChunkCol(src, negate(col("p_retailprice")), nullsLast = true),
          "rn")
        .select(col("p_partkey"), col("p_retailprice"),
          col("rn").cast("int").as("rn"))
    },

    // The exact median comes from the rank kernel (Ops.globalRowNumber:
    // range-partition + local rank + broadcast offsets), NOT Spark's
    // exact `percentile` aggregate — that aggregate merges a
    // value→count hash map holding ~every distinct price per group
    // (the q28 floors lesson), which at 100 TB is an OOM on the merge
    // side; rank selection reads two rows at the bracketing ranks and
    // interpolates, all bounded-task.
    "q19_stats" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val base = orders.agg(
        count(lit(1)).as("cnt"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        (dsum(col("o_totalprice"), 2) / count(lit(1))).as("avg_price"),
        round(stddev_samp(col("o_totalprice")), 4).as("sd_price"))
      val vk = orders.select(col("o_totalprice").as("v"), col("o_orderkey"))
      val ranked = Ops.globalRowNumber(vk,
        Seq(col("v"), col("o_orderkey")),
        Ops.rangeChunkCol(vk, col("v")), "rn")
      // percentile interpolation at p=0.5: pos = 0.5(n−1) 0-based;
      // median = v⌊pos⌋ + (pos−⌊pos⌋)(v⌈pos⌉ − v⌊pos⌋)
      val med = ranked
        .join(broadcast(base.select(col("cnt"))))
        .withColumn("pos", lit(0.5) * (col("cnt") - 1))
        .filter(col("rn") === floor(col("pos")) + 1 ||
          col("rn") === ceil(col("pos")) + 1)
        .agg(
          min(when(col("rn") === floor(col("pos")) + 1, col("v"))).as("vlo"),
          min(when(col("rn") === ceil(col("pos")) + 1, col("v"))).as("vhi"),
          first(col("pos") - floor(col("pos"))).as("frac"))
        .select(round(col("vlo") + col("frac") * (col("vhi") - col("vlo")), 4)
          .as("median_price"))
      base.join(broadcast(med))
        .select(col("cnt"), col("min_price"), col("max_price"),
          col("avg_price"), col("sd_price"), col("median_price"))
    },

    "q20_scalar_subquery" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val threshold = orders.agg((dsum(col("o_totalprice"), 2) / count(lit(1)) * 1.8).as("thr"))
      orders.join(broadcast(threshold))
        .filter(col("o_totalprice") > col("thr"))
        .select("o_orderkey", "o_totalprice")
    },

    // Globally-ordered RUNNING aggregates (cumulative sum, lag, row
    // number over the whole table) via distributed prefix scan — the
    // frame analogue of q18's two-pass rank. A bare Window.orderBy
    // funnels the entire table through one task; here: range-partition
    // on the order key, run the window locally per chunk (pid indexes
    // the range shuffle's output, so chunk i sorts entirely before
    // chunk i+1), then fix chunk boundaries with a per-chunk summary
    // table (≤ one row per partition — driver-bounded, not
    // data-bounded) carrying prefix sums/counts and the previous
    // chunk's last value for the lag. Sums accumulate as decimals so
    // chunked and single-window execution are bit-identical.
    "q32_running_total" -> { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      // chunk id from the DATA (Ops.rangeChunkCol, optimization r16):
      // the range-exchange + spark_partition_id shape paid a SECOND
      // full-data hash exchange for the window's clustering, and needed
      // a localCheckpoint to pin pid↔row because range bounds are
      // re-sampled per execution. A bucket id computed from
      // o_orderdate is deterministic for both consumers (no pin), the
      // window's hash exchange is the only shuffle, and the summary
      // side needs no window output, so it partial-aggregates map-side.
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      val ord = base.withColumn("pid", Ops.rangeChunkCol(base, col("o_orderdate")))
      val wLoc = Window.partitionBy(col("pid"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val loc = ord
        .withColumn("lsum", sum(col("o_totalprice").cast(DecimalType(18, 2))).over(wLoc))
        .withColumn("lrn", row_number().over(wLoc))
        .withColumn("llag", lag(col("o_totalprice"), 1).over(wLoc))
      // per-chunk summaries: the ONLY globally-windowed relation, and it
      // has at most `buckets` rows regardless of table size
      val wPre = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
      val prefix = ord.groupBy(col("pid")).agg(
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("psum"),
          count(lit(1)).as("pcnt"),
          max(struct(col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))).as("plast"))
        .select(col("pid"),
          coalesce(sum(col("psum")).over(wPre), lit(0).cast(DecimalType(28, 2))).as("presum"),
          coalesce(sum(col("pcnt")).over(wPre), lit(0L)).as("precnt"),
          lag(col("plast.o_totalprice"), 1).over(Window.orderBy(col("pid"))).as("prelast"))
      loc.join(broadcast(prefix), "pid").select(
        col("o_orderkey"),
        coalesce(col("llag"), col("prelast"), lit(-1.0)).as("lag_price"),
        (col("presum") + col("lsum")).cast("double").as("run_sum"),
        (col("precnt") + col("lrn")).as("rn"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",

    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_quantity >= 48 AND l_returnflag = 'R' AND l_discount > 0.08""",

    "q3_join_agg" ->
      """SELECT o_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         COUNT(*) AS line_cnt
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey
         HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) > 100000""",

    "q4_broadcast_join" ->
      """SELECT p_brand, COUNT(*) AS cnt,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",

    "q5_multi_join" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""",

    "q6_window_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 5""",

    "q7_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",

    "q8_setops" ->
      """WITH building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
            big AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000)
         SELECT 'both' AS op, k FROM (SELECT k FROM building INTERSECT SELECT k FROM big)
         UNION ALL
         SELECT 'building_only' AS op, k FROM (SELECT k FROM building EXCEPT SELECT k FROM big)""",

    "q9_distinct_agg" ->
      """SELECT l_returnflag,
         COUNT(DISTINCT l_suppkey) AS supp_cnt,
         COUNT(DISTINCT l_partkey) AS part_cnt,
         COUNT(DISTINCT l_orderkey) AS order_cnt
         FROM lineitem GROUP BY l_returnflag""",

    "q10_rollup" ->
      """SELECT COALESCE(l_returnflag, '(all)') AS rf,
         COALESCE(l_linestatus, '(all)') AS ls,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS cnt
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q11_string_fns" ->
      """SELECT UPPER(p_brand) AS brand_u, COUNT(*) AS cnt,
         CAST(SUM(CAST(LENGTH(p_name) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_name_len,
         MIN(SUBSTR(p_name, 1, 5)) AS min_prefix,
         MAX(CONCAT_WS('|', p_type, p_brand)) AS max_typebrand
         FROM part GROUP BY UPPER(p_brand)""",

    "q12_date_fns" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
         CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
         COUNT(*) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY 1, 2""",

    "q13_case_having" ->
      """SELECT o_custkey,
         CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS f_total,
         COUNT(*) AS order_cnt
         FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12""",

    "q14_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 400000)""",

    "q15_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""",

    "q16_scbf_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q35_scbf_stats_skip" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(MIN(o_orderkey) AS INT) AS min_key
         FROM orders WHERE o_totalprice < 50000.0 GROUP BY o_orderstatus""",

    "q36_scbf_string_skip" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc
         FROM documents WHERE source = 'src7' OR source LIKE 'src1%'
         GROUP BY source""",

    "q37_scbf_agg_pushdown" ->
      """SELECT COUNT(*) AS cnt,
         CAST(MIN(o_orderkey) AS INT) AS min_key,
         CAST(MAX(o_orderkey) AS INT) AS max_key,
         CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
         CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
         CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
         MIN(o_orderpriority) AS min_prio,
         MAX(o_orderpriority) AS max_prio
         FROM orders""",

    "q38_scbf_runtime_prune" ->
      """SELECT c_mktsegment AS segment, COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(MIN(o_orderkey) AS INT) AS min_key
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_acctbal < -900.0
         GROUP BY c_mktsegment""",

    "q39_scbf_topk_prune" ->
      """SELECT CAST(o_orderkey AS INT) AS okey,
         CAST(o_totalprice AS DOUBLE) AS price
         FROM orders ORDER BY o_orderkey DESC LIMIT 100""",

    "q40_scbf_cluster" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE doc_id < 100
         GROUP BY source""",

    "q41_scbf_bloom_skip" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc
         FROM documents WHERE doc_id IN (7, 203, 411)
         GROUP BY source""",

    "q42_scbf_zorder" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE n_chars >= 200 AND n_chars < 400
         GROUP BY source""",

    "q43_scbf_delete" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE NOT (doc_id >= 100 AND doc_id < 200)
         GROUP BY source""",

    "q44_scbf_update" ->
      """WITH u AS (SELECT doc_id,
           CASE WHEN doc_id >= 300 AND doc_id < 350 THEN 'redacted' ELSE source END AS source,
           CASE WHEN doc_id >= 300 AND doc_id < 350 THEN 0 ELSE n_chars END AS n_chars
         FROM documents)
         SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM u GROUP BY source""",

    "q45_scbf_catalog_sql" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE NOT (doc_id >= 400 AND doc_id < 450)
         GROUP BY source""",

    "q46_scbf_partitioned" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE source IN ('src3', 'src7')
         GROUP BY source""",

    "q48_table_optimize" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE source IN ('src2', 'src5') AND doc_id < 2000
         GROUP BY source""",

    "q49_partitioned_delete" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents
         WHERE NOT (source = 'src4')
           AND NOT (doc_id >= 120 AND doc_id < 180)
         GROUP BY source""",

    "q50_sql_update" ->
      """WITH f AS (
           SELECT CAST(doc_id AS INT) AS doc_id,
             CASE WHEN doc_id >= 300 AND doc_id < 350 THEN 'redacted' ELSE source END AS source,
             CASE WHEN doc_id >= 300 AND doc_id < 350 THEN 0 ELSE CAST(n_chars AS INT) END AS n_chars
           FROM documents),
         p0 AS (
           SELECT CAST(doc_id AS INT) AS doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN CAST(n_chars AS INT) + 1000
                  ELSE CAST(n_chars AS INT) END AS n_chars
           FROM documents),
         p AS (
           SELECT doc_id,
             CASE WHEN source = 'src2' AND doc_id < 100 THEN 'moved' ELSE source END AS source,
             n_chars
           FROM p0),
         u AS (
           SELECT 'flat' AS side, source, doc_id, n_chars FROM f
           UNION ALL
           SELECT 'part' AS side, source, doc_id, n_chars FROM p)
         SELECT side, source, COUNT(*) AS cnt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS INT) AS min_doc,
           CAST(MAX(doc_id) AS INT) AS max_doc
         FROM u GROUP BY side, source""",

    "q51_sql_merge" ->
      """WITH tgt AS (
           SELECT CAST(doc_id AS INT) AS doc_id, source, CAST(n_chars AS INT) AS n_chars
           FROM documents),
         chg AS (
           SELECT doc_id, 'm' AS source, 77 AS n_chars FROM tgt WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 1000000, 'ins', 5 FROM tgt WHERE doc_id % 100 = 0),
         kept AS (
           SELECT CASE WHEN c.doc_id IS NOT NULL AND t.n_chars < 300 THEN c.source ELSE t.source END AS source,
                  t.doc_id AS doc_id,
                  CASE WHEN c.doc_id IS NOT NULL AND t.n_chars < 300 THEN c.n_chars ELSE t.n_chars END AS n_chars
           FROM tgt t LEFT JOIN chg c ON t.doc_id = c.doc_id
           WHERE c.doc_id IS NULL OR t.n_chars < 300),
         ins AS (
           SELECT c.source, c.doc_id, c.n_chars
           FROM chg c LEFT JOIN tgt t ON c.doc_id = t.doc_id
           WHERE t.doc_id IS NULL),
         u AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
         SELECT source, COUNT(*) AS cnt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS INT) AS min_doc,
           CAST(MAX(doc_id) AS INT) AS max_doc
         FROM u GROUP BY source""",

    "q52_sql_optimize" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE source IN ('src1', 'src6') AND doc_id >= 300
         GROUP BY source""",

    "q53_partition_mgmt" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE source NOT IN ('src2', 'src4')
         GROUP BY source""",

    "q54_partition_overwrite" ->
      """WITH base AS (
           SELECT CAST(doc_id AS INT) AS doc_id, source,
                  CAST(n_chars AS INT) AS n_chars
           FROM documents),
         u AS (
           SELECT doc_id, source, n_chars FROM base
           WHERE source NOT IN ('src3', 'src5')
           UNION ALL
           SELECT doc_id + 1000000, source, n_chars * 2 FROM base
           WHERE source = 'src3'
           UNION ALL
           SELECT doc_id, source, 0 FROM base WHERE source = 'src5')
         SELECT source, COUNT(*) AS cnt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS INT) AS min_doc,
           CAST(MAX(doc_id) AS INT) AS max_doc
         FROM u GROUP BY source""",

    "q55_spj_join" ->
      """WITH f AS (
           SELECT CAST(doc_id AS INT) AS doc_id, source,
                  CAST(n_chars AS INT) AS n_chars
           FROM documents),
         d AS (
           SELECT source, CAST(COUNT(*) AS INT) AS src_docs
           FROM f GROUP BY source)
         SELECT f.source AS source, COUNT(*) AS cnt,
           CAST(SUM(f.n_chars) AS BIGINT) AS sum_chars,
           MAX(d.src_docs) AS src_docs
         FROM f JOIN d ON f.source = d.source GROUP BY f.source""",

    "q56_partition_rollup" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY source""",

    "q57_add_column" ->
      """SELECT source, lang, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(SUM(score) AS DOUBLE) AS sum_score,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM (
           SELECT CAST(doc_id AS INT) AS doc_id, source, n_chars,
             1.5 AS score, 'und' AS lang FROM documents
           UNION ALL
           SELECT CAST(doc_id + 1000000 AS INT), 'ins', 7, 2.0, 'en'
           FROM documents WHERE doc_id % 10 = 0)
         GROUP BY source, lang""",

    "q58_bucket_spj" ->
      """SELECT COUNT(*) AS cnt,
         CAST(SUM(d.n_chars * (d2.doc_id % 97)) AS DOUBLE) AS sum_mix,
         CAST(MIN(d.doc_id) AS INT) AS min_doc,
         CAST(MAX(d.doc_id) AS INT) AS max_doc
         FROM documents d
         JOIN (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d2
         ON d.doc_id = d2.doc_id""",

    "q59_time_travel" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE doc_id % 3 != 0 GROUP BY source""",

    "q60_schema_evolution" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM (
           SELECT CAST(doc_id AS INT) AS doc_id, source,
             CAST(n_chars AS INT) AS chars FROM documents
           UNION ALL
           SELECT CAST(doc_id + 1000000 AS INT), 'ins', 7
           FROM documents WHERE doc_id % 10 = 0)
         GROUP BY source""",

    "q61_dirsum_prune" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE doc_id >= 100 AND doc_id < 200
         GROUP BY source""",

    "q62_shallow_clone" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents GROUP BY source""",

    "q63_partitioned_clone" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM (
           SELECT source, CAST(n_chars AS INT) AS n_chars,
                  CAST(doc_id AS INT) AS doc_id
           FROM documents WHERE doc_id % 5 = 2
           UNION ALL
           SELECT 'ins', 7, CAST(doc_id + 1000000 AS INT)
           FROM documents WHERE doc_id % 10 = 0
         ) GROUP BY source""",

    "q64_change_feed" ->
      """SELECT source, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM documents WHERE doc_id % 3 IN (1, 2) GROUP BY source""",

    "q65_cdc_enumeration" ->
      """SELECT change_type, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM (
           SELECT 'insert' AS change_type, CAST(doc_id AS INT) AS doc_id,
                  CAST(n_chars AS INT) AS n_chars
           FROM documents WHERE doc_id % 3 = 1
           UNION ALL
           SELECT 'delete', CAST(doc_id AS INT), CAST(n_chars AS INT)
           FROM documents WHERE doc_id % 3 IN (0, 1) AND n_chars < 200
         ) GROUP BY change_type""",

    "q66_cdc_versions" ->
      """SELECT change_type, version_rel, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM (
           SELECT 'insert' AS change_type, 0 AS version_rel,
                  CAST(doc_id AS INT) AS doc_id, CAST(n_chars AS INT) AS n_chars
           FROM documents WHERE doc_id % 3 = 1
           UNION ALL
           SELECT 'delete', 1, CAST(doc_id AS INT), CAST(n_chars AS INT)
           FROM documents WHERE doc_id % 3 IN (0, 1) AND n_chars < 200
         ) GROUP BY change_type, version_rel""",

    "q67_cdc_stream_catchup" ->
      """SELECT change_type, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS INT) AS min_doc,
         CAST(MAX(doc_id) AS INT) AS max_doc
         FROM (
           SELECT 'insert' AS change_type, CAST(doc_id AS INT) AS doc_id,
                  CAST(n_chars AS INT) AS n_chars
           FROM documents WHERE doc_id % 3 = 1
           UNION ALL
           SELECT 'delete', CAST(doc_id AS INT), CAST(n_chars AS INT)
           FROM documents WHERE doc_id % 3 IN (0, 1) AND n_chars < 200
         ) GROUP BY change_type""",

    "q17_events_tumbling" ->
      """SELECT STRFTIME(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",

    "q18_sort_order" ->
      """SELECT p_partkey, p_retailprice,
         ROW_NUMBER() OVER (ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
         FROM part""",

    "q19_stats" ->
      """SELECT COUNT(*) AS cnt,
         MIN(o_totalprice) AS min_price,
         MAX(o_totalprice) AS max_price,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         ROUND(STDDEV_SAMP(o_totalprice), 4) AS sd_price,
         ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS median_price
         FROM orders""",

    "q20_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1.8 FROM orders)""",

    "q32_running_total" ->
      """SELECT o_orderkey,
        |  COALESCE(lag(o_totalprice) OVER w, -1) AS lag_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
        |  ROW_NUMBER() OVER w AS rn
        |FROM orders
        |WINDOW w AS (ORDER BY o_orderdate, o_orderkey)""".stripMargin
  )
}
