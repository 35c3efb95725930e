package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plan-property regression guards: the scale properties observed in the
  * perf audit, pinned as tests so a refactor can't silently lose a
  * pushdown, a broadcast, or a top-k short-circuit.
  */
class PlanPropertiesSpec extends SparkSpec {

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sf0001)

  test("q02 filter reaches the parquet scan (PushedFilters)") {
    val plan = PlanInspect.formatted(run("q02_filter"))
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined, plan)
  }

  test("q01 projection prunes the scan to 5 of 11 lineitem columns") {
    val plan = PlanInspect.formatted(run("q01_projection"))
    val cols = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).get.group(1).count(_ == ':')
    assert(cols === 5, plan)
  }

  test("q08 ORDER BY+LIMIT+OFFSET compiles to TakeOrderedAndProject (no global sort)") {
    val names = PlanInspect.nodeNames(run("q08_order_limit_offset"))
    assert(names.exists(_.contains("TakeOrderedAndProject")), names)
    assert(!names.exists(_.contains("ShuffleExchange")), names)
  }

  test("q09 dim join broadcasts the customer side") {
    val names = PlanInspect.nodeNames(run("q09_join_inner"))
    assert(names.exists(_.contains("BroadcastHashJoin")), names)
  }

  test("q12 full-outer join correctly avoids broadcast (sort-merge)") {
    val names = PlanInspect.nodeNames(run("q12_join_full"))
    assert(names.exists(_.contains("SortMergeJoin")), names)
  }

  test("t35 custom RollingHash stays inside WholeStageCodegen") {
    val nodes = PlanInspect.executedNodes(run("t35_rolling_hash"))
    val inCodegen = nodes.exists { n =>
      n.getClass.getSimpleName.contains("WholeStageCodegen") &&
        n.toString.contains("rolling_hash")
    }
    assert(inCodegen, nodes.map(_.getClass.getSimpleName))
  }

  test("q81 range join runs as an equi-join on the bin — no nested-loop/cartesian") {
    val names = PlanInspect.nodeNames(run("q81_range_join"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
    assert(names.exists(n => n.contains("HashJoin") || n.contains("SortMergeJoin")), names)
  }

  test("overlapJoin dedups by reference bin — NO aggregate/distinct in the plan") {
    // the first cut used dropDuplicates (plans as HashAggregate over the
    // full joined row): at 40M probe intervals that one shuffle was 17×
    // the join itself. The reference-bin predicate must keep the plan
    // aggregate-free, and the join must stay an equi-join on the bin.
    import spark.implicits._
    val L = Seq((1L, 0L, 10L), (2L, 95L, 105L)).toDF("id", "s", "e")
    val R = Seq((7L, 5L, 100L)).toDF("id", "s", "e")
    val df = graft.operators.RangeJoin.overlapJoin(L, R, "s", "e", 10L)
    val names = PlanInspect.nodeNames(df)
    assert(!names.exists(_.contains("Aggregate")), names)
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(names.exists(n => n.contains("HashJoin") || n.contains("SortMergeJoin")), names)
  }

  test("q82 bloom prefilter runs before the join (Filter under the join's large side)") {
    val plan = PlanInspect.formatted(run("q82_bloom_join"))
    // the probe must be the native codegen expression (no UDF anywhere —
    // a ScalaUDF would break whole-stage codegen at the scan), and the
    // DIM scan must still push its o_totalprice predicate — the prefilter
    // composes with pushdown (a generic any-scan PushedFilters check
    // would stay green on the fact side's join-key filters alone)
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("UDF"), plan)
    assert("PushedFilters: \\[[^\\]]*o_totalprice".r.findFirstIn(plan).isDefined,
      plan)
  }

  test("q85 stratified sample is a pure filter — no shuffle in the plan") {
    val names = PlanInspect.nodeNames(run("q85_sample_stratified"))
    // one exchange allowed for the final ORDER BY; the sample itself adds none
    assert(names.count(_.contains("Exchange")) <= 1, names)
  }

  test("partitioned write → partition-pruned read") {
    val dir = suiteTempDir("graft_part").toString
    graft.Tables.load(spark, sf0001, "events")
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("event_type") === "purchase")
    val plan = PlanInspect.formatted(df)
    // pruned at planning time: only the purchase partition is read
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined, plan)
    assert(df.count() > 0)
  }

  test("dynamic partition pruning: dim-side filter prunes fact partitions at runtime") {
    // the 100 TB star-join pattern: the fact table is partitioned by the
    // join key, the dim filter is NOT known at planning time (it's on a
    // dim attribute), and DPP injects the dim's surviving keys as a
    // runtime partition filter — the fact scan reads one partition
    // instead of all of them
    val dir = suiteTempDir("graft_dpp").toString
    graft.Tables.load(spark, sf0001, "events")
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    import spark.implicits._
    // the dim must be a real SCAN with a surviving Filter node: a local
    // Seq would constant-fold the predicate into the LocalRelation and
    // the pruning rule would see no selective filter to inject
    // ...and the predicate must be one the optimizer's isLikelySelective
    // recognizes (EqualTo/In/Like on an attribute) — a bare boolean
    // column reference is not counted as selective and DPP stays off
    val dimDir = suiteTempDir("graft_dppd").toString
    Seq(("purchase", "gold"), ("click", "base"), ("view", "base"),
      ("signup", "base")).toDF("etype", "tier")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val fact = spark.read.parquet(dir)
    // the aggregate must read real fact columns: a count-only plan prunes
    // the scan to zero data columns and DPP's benefit estimate (pruned
    // bytes vs broadcast overhead) sees nothing worth pruning
    val j = fact.join(dim.filter($"tier" === "gold"),
        fact("event_type") === dim("etype"))
      .groupBy(fact("event_type"))
      .agg(count(lit(1)).as("n"), sum($"user_id").as("su"),
        sum($"event_id").as("se"))
    val rows = j.collect() // rule 8: inspect the SAME QueryExecution
    assert(rows.map(_.getString(0)).toSeq === Seq("purchase"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no DynamicPruningExpression in the fact scan:\n$plan")
  }

  test("AQE splits the skewed partition of a hot-key join") {
    // thresholds at floor values: test-scale shuffle sizes are a few
    // hundred KB, far below the production 256MB default — the spec
    // demonstrates the MECHANISM (AQE splitting a skewed partition into
    // PartialReducerPartitionSpec reads), not production tuning
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val prev = keys.map(k => k -> spark.conf.get(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    try {
      import spark.implicits._
      // one key carries ~97% of the rows
      val fact = spark.range(0, 300000)
        .select(when($"id" < 290000, 0L).otherwise($"id").as("k"),
          // incompressible payload: size estimates, not row counts, drive
          // skew detection
          md5(concat($"id".cast("string"), lit("x"))).as("v"))
      val dim = spark.range(0, 1000).select($"id".as("k2"), ($"id" * 2).as("w"))
      // global agg after the join: a groupBy(k) would demand the join's
      // partitioning and make AQE skip the skew split as not worthwhile
      val joined = fact.join(dim, $"k" === $"k2").agg(count(lit(1)).as("n"))
      val nodes = PlanInspect.executedNodes(joined)
      import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
      import org.apache.spark.sql.execution.PartialReducerPartitionSpec
      val skewHandled = nodes.exists {
        case r: AQEShuffleReadExec =>
          r.partitionSpecs.exists(_.isInstanceOf[PartialReducerPartitionSpec])
        case _ => false
      }
      assert(skewHandled, nodes.map(_.getClass.getSimpleName))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("facade queries keep parquet pushdown through temp views") {
    val meta = suiteTempDir("graft_plan_meta")
    val ds = new graft.catalog.DataSource(spark, meta.toString,
      initialCache = new graft.catalog.DoNothingCache)
    ds.addTable(graft.catalog.FileTable("lineitem", s"$sf0001/lineitem.parquet"))
    val df = ds.queryDF("SELECT l_orderkey FROM lineitem WHERE l_quantity > 45")
    val plan = PlanInspect.formatted(df)
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined, plan)
  }

  test("q99 CDC merge reduces the log with an aggregate, not a window") {
    val nodes = PlanInspect.nodeNames(run("q99_cdc_merge"))
    assert(!nodes.exists(_.contains("Window")), nodes) // max_by, map-side combinable
    assert(nodes.exists(_.contains("Aggregate")), nodes)
    assert(nodes.exists(_.contains("SortMergeJoin")), nodes) // full outer: SMJ is correct
  }

  test("q102 z-order bounds row is broadcast — no cartesian product") {
    val nodes = PlanInspect.nodeNames(run("q102_zorder_layout"))
    assert(!nodes.exists(_.contains("CartesianProduct")), nodes)
    assert(nodes.exists(_.contains("BroadcastNestedLoopJoin")), nodes) // 1-row bounds
  }

  test("s44 reduced-space KNN broadcasts the query side, never the corpus") {
    // the scoring join is deliberately BroadcastNestedLoop (the pair
    // predicate vec_id <> q_id is non-equi; brute-force scoring IS a
    // per-row loop over the broadcast queries) — the property to pin is
    // that the BROADCAST side exists and the corpus side reaches the
    // join straight from its scan, unshuffled
    val df = run("s44_knn_rp")
    val all = PlanInspect.executedNodes(df)
    val bnlj = all.find(_.getClass.getSimpleName.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.isDefined, all.map(_.getClass.getSimpleName))
    assert(!all.exists(_.getClass.getSimpleName.contains("CartesianProduct")))
    // the join's whole subtree (corpus scan + broadcast build) holds no
    // shuffle — every Exchange in the plan belongs to the top-k window
    val subtree = PlanInspect.nodes(bnlj.get).map(_.getClass.getSimpleName)
    assert(!subtree.exists(_.contains("ShuffleExchange")), subtree)
  }

  test("s50 label-centroid assignment broadcasts centroids, never the corpus") {
    // centroids are O(#labels) — the only broadcast; the corpus reaches
    // the scoring join unshuffled and no cartesian appears (the
    // broadcast-nested-loop IS the per-row scoring loop, as in s44)
    val df = run("s50_label_centroid")
    val all = PlanInspect.executedNodes(df)
    assert(all.exists(n => n.getClass.getSimpleName.contains("BroadcastNestedLoopJoin")
      || n.getClass.getSimpleName.contains("BroadcastHashJoin")),
      all.map(_.getClass.getSimpleName))
    assert(!all.exists(_.getClass.getSimpleName.contains("CartesianProduct")),
      all.map(_.getClass.getSimpleName))
  }

  test("q152 JSON extraction prunes the events scan to the two used columns") {
    // only event_type + props are read — parsing happens post-scan, but
    // the scan must not drag the other four columns along
    val plan = PlanInspect.formatted(run("q152_props_json"))
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).get.group(1)
    assert(schema.count(_ == ':') === 2, plan)
    assert(schema.contains("props") && schema.contains("event_type"), plan)
  }

  test("q103 funnel is an aggregate chain — no window operators") {
    val nodes = PlanInspect.nodeNames(run("q103_funnel"))
    assert(!nodes.exists(_.contains("Window")), nodes)
  }

  test("d52 string join stays an equi-join on grams — no cartesian/nested-loop") {
    val nodes = PlanInspect.nodeNames(run("d52_editdist_join"))
    assert(!nodes.exists(_.contains("CartesianProduct")), nodes)
    assert(!nodes.exists(_.contains("BroadcastNestedLoopJoin")), nodes)
  }

  test("bucketed tables join without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a fresh metastore doesn't know about locations left by prior JVMs
    Seq("b_orders", "b_lineitem").foreach { t =>
      val loc = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists)
      }
    }
    graft.Tables.load(spark, sf0001, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    graft.Tables.load(spark, sf0001, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // disable auto-broadcast: at test scale Catalyst would broadcast the
    // tiny table and hide the property under test (bucketed co-location)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val names = PlanInspect.nodeNames(joined)
      assert(names.exists(_.contains("SortMergeJoin")), names)
      // the join inputs come straight from bucketed scans — the only
      // exchange allowed is the post-join aggregation shuffle
      val exchanges = names.count(_.contains("ShuffleExchange"))
      assert(exchanges <= 1, s"expected ≤1 exchange (post-join agg), got: $names")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q114 TPC-H Q6 pushes every predicate to the scan and never joins") {
    val plan = PlanInspect.formatted(run("q114_tpch_q6"))
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(plan).isDefined, plan)
    assert("PushedFilters: \\[[^\\]]*l_discount".r.findFirstIn(plan).isDefined, plan)
    assert(!PlanInspect.nodeNames(run("q114_tpch_q6")).exists(_.contains("Join")))
  }

  test("q115 TPC-H Q10 aggregates the fact side before the customer join") {
    // the revenue aggregate's shuffle must run on o_custkey BELOW the
    // customer join — i.e. some HashAggregate appears under the join —
    // and nation must be broadcast
    val names = PlanInspect.nodeNames(run("q115_tpch_q10"))
    assert(names.exists(_.contains("BroadcastHashJoin")), names)
    val plan = PlanInspect.formatted(run("q115_tpch_q10"))
    val cols = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
      .map(_.group(1).count(_ == ':')).toSeq
    // lineitem scan pruned to exactly (l_orderkey, l_extendedprice,
    // l_discount, l_returnflag)
    assert(cols.contains(4), s"no 4-column pruned scan in: $cols\n$plan")
  }

  test("q117 TPC-H Q18 top-N is TakeOrderedAndProject, not a global sort") {
    val names = PlanInspect.nodeNames(run("q117_tpch_q18"))
    assert(names.exists(_.contains("TakeOrderedAndProject")), names)
  }

  test("q118 TPC-H Q19 broadcasts the pruned part side; quantity range is pushed") {
    val plan = PlanInspect.formatted(run("q118_tpch_q19"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(plan).isDefined, plan)
  }

  test("q119 unpivot is an Expand — no join, no per-measure rescan") {
    val names = PlanInspect.nodeNames(run("q119_unpivot"))
    assert(names.exists(_.contains("Expand")), names)
    assert(!names.exists(_.contains("Join")), names)
    // one ordered output exchange; the melt itself adds none
    assert(names.count(_.contains("ShuffleExchange")) <= 1, names)
  }

  test("q121 moment stats run as ONE aggregation pass (partial+final), no join") {
    val names = PlanInspect.nodeNames(run("q121_moments"))
    assert(names.count(_.contains("HashAggregate")) === 2, names)
    assert(!names.exists(_.contains("Join")), names)
  }

  test("q120 gap-fill never degenerates to a cartesian spine join") {
    val names = PlanInspect.nodeNames(run("q120_gapfill"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
  }

  test("q124 TPC-H Q7 broadcasts the nation-restricted dimensions") {
    // sf0.01: at sf0.001 the nation-pair cut is empty and AQE collapses
    // the whole plan to EmptyRelationExec — nothing to assert on
    val names = PlanInspect.nodeNames(
      graft.SparkEntry.queries("q124_tpch_q7")(spark, sf001))
    // supplier and customer cuts (and their nation joins) broadcast;
    // no cartesian anywhere despite the pair disjunction
    assert(names.count(_.contains("BroadcastHashJoin")) >= 3, names)
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
  }

  test("q125 TPC-H Q8 pushes the part-type cut to the scan") {
    val plan = PlanInspect.formatted(run("q125_tpch_q8"))
    assert("PushedFilters: \\[[^\\]]*p_type".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q126 TPC-H Q13 keeps the join condition out of a post-join filter") {
    // the o_orderstatus <> 'P' predicate must be pushed to the orders
    // scan, not evaluated after the left join (which would turn the
    // LEFT join's semantics wrong or re-filter every joined row)
    val plan = PlanInspect.formatted(run("q126_tpch_q13"))
    assert("PushedFilters: \\[[^\\]]*o_orderstatus".r.findFirstIn(plan).isDefined, plan)
  }

  test("q127 TPC-H Q17 broadcasts both the part cut and the per-part averages") {
    val names = PlanInspect.nodeNames(run("q127_tpch_q17"))
    assert(names.count(_.contains("BroadcastHashJoin")) >= 2, names)
  }

  test("q129 TPC-H Q21 plans EXISTS/NOT EXISTS as semi/anti joins — no cartesian") {
    val names = PlanInspect.nodeNames(run("q129_tpch_q21"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
  }

  test("q123 heavy hitters recount is a semi-join against tiny candidates") {
    val names = PlanInspect.nodeNames(run("q123_heavy_hitters"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("SortMergeJoin")), names) // candidates broadcast
  }

  test("q144 TPC-H Q2 correlated min rewrites to joins — no cartesian, dims broadcast") {
    // sf0.01: at sf0.001 the region cut can empty the plan under AQE
    val names = PlanInspect.nodeNames(
      graft.SparkEntry.queries("q144_tpch_q2")(spark, sf001))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
    assert(names.exists(_.contains("BroadcastHashJoin")), names)
  }

  test("q146 TPC-H Q20 nested IN chain plans as semi joins — no cartesian") {
    val names = PlanInspect.nodeNames(run("q146_tpch_q20"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
  }

  test("q149 exact quantiles windows over the histogram, partitioned by group") {
    // every Window node must partition by the group key — an empty
    // partitionBy would move the whole histogram to one task (and at
    // scale, the data); the histogram aggregate precedes any window
    val plan = PlanInspect.formatted(run("q149_exact_quantiles"))
    assert(!plan.contains("WindowExec: No Partition Defined"), plan)
    val names = PlanInspect.nodeNames(run("q149_exact_quantiles"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
  }

  test("q150 transition matrix lags inside per-entity windows, no join at all") {
    val names = PlanInspect.nodeNames(run("q150_transition_matrix"))
    assert(!names.exists(_.contains("Join")), names)
  }

  test("q163 anomaly monitor aggregates hours BEFORE the window") {
    // the trailing window must run over the hourly rollup, never raw
    // events — the aggregate is what bounds window partitions at any
    // event volume. Both an Aggregate and a Window must appear, and
    // the window must be partitioned (no single-task fallback).
    val plan = PlanInspect.formatted(run("q163_volume_anomaly"))
    assert(!plan.contains("WindowExec: No Partition Defined"), plan)
    val names = PlanInspect.nodeNames(run("q163_volume_anomaly"))
    assert(names.exists(_.contains("Aggregate")), names)
    assert(names.exists(_.contains("Window")), names)
    assert(!names.exists(_.contains("Join")), names) // rollup + window only
  }

  test("q162 attribution joins conversions to touches as an equi-join, windows bounded") {
    // the user_id equi-join (with the time bound as a post-join filter)
    // must not degrade to a cartesian/nested-loop; rank windows
    // partition by conversion id
    val plan = PlanInspect.formatted(run("q162_attribution"))
    assert(!plan.contains("WindowExec: No Partition Defined"), plan)
    val names = PlanInspect.nodeNames(run("q162_attribution"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
  }

  test("t63 textrank assigns vocabulary ids with NO window — no single-partition sort") {
    // r9's defect: row_number().over(Window.orderBy(w)) funneled the
    // whole vocabulary through ONE partition. Ids are now
    // monotonically_increasing_id (per-partition offsets), so the
    // executed plan must contain no Window node at all, and no
    // cartesian can appear in the id joins.
    val names = PlanInspect.nodeNames(run("t63_textrank"))
    assert(!names.exists(_.contains("Window")), names)
    assert(!names.exists(_.contains("CartesianProduct")), names)
  }

  test("q171 basket lift broadcasts the item-count joins at gate scale (AQE-chosen)") {
    val names = PlanInspect.nodeNames(run("q171_basket_lift"))
    assert(names.exists(_.contains("BroadcastHashJoin")), names)
  }

  test("q171 item-count joins carry no forced broadcast hint (latent OOM guard)") {
    // with auto-broadcast disabled the two item-count equi-joins must
    // NOT plan as broadcast-hash — proving their broadcast above is
    // AQE's size-based choice, not a hint that would OOM on a 20M-item
    // domain. (The 1-row normalizer keeps its forced broadcast and
    // plans as BroadcastNestedLoop; that is the bounded exception.)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val names = PlanInspect.nodeNames(run("q171_basket_lift"))
      assert(!names.exists(_.contains("BroadcastHashJoin")), names)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q203 systematic resample: the corpus-side cumsum window is bucket-partitioned") {
    // the operator's whole point vs a naive global cumsum: the window
    // that sees corpus rows partitions by the id-range bucket; only the
    // ≤buckets-row offsets frame may run unpartitioned. Assert at least
    // one bkt-partitioned windowspec and that no window sorts the raw
    // id without a partition.
    val plan = PlanInspect.formatted(run("q203_systematic_resample"))
    val specs = "windowspecdefinition\\(([^)]*?)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.exists(_.contains("bkt")), specs)
    // the unpartitioned offsets window orders by bkt (bucket totals),
    // never by the per-row id — an id-ordered unpartitioned window
    // would be the r9 t63 defect reborn
    val unpartitionedOverId = specs.exists(s =>
      !s.contains("bkt#") && s.contains("id#") && !s.contains("partition"))
    assert(!unpartitionedOverId, specs)
  }

  test("q228 token packing: the offset cumsum window is bucket-partitioned") {
    // the rule-23 pin every new Prefix.cumsum consumer gets: the
    // window that sees document rows partitions by the id-range
    // bucket; no window may order raw doc_ids unpartitioned
    val plan = PlanInspect.formatted(run("q228_token_pack_spans"))
    val specs = "windowspecdefinition\\(([^)]*?)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.exists(_.contains("bkt")), specs)
    val unpartitionedOverId = specs.exists(s =>
      !s.contains("bkt#") && s.contains("doc_id#") && !s.contains("partition"))
    assert(!unpartitionedOverId, specs)
  }

  test("q204 consistent sharding assigns with NO join and no window — a per-row scan") {
    val names = PlanInspect.nodeNames(run("q204_consistent_sharding"))
    assert(!names.exists(_.contains("Join")), names)
    assert(!names.exists(_.contains("Window")), names)
    // one shuffle for the final per-shard rollup (plus AQE reads); the
    // assignment itself adds none
    assert(names.exists(_.contains("HashAggregate")), names)
  }

  test("d63 record linkage pairs stay an equi-join on the block — no cartesian") {
    val names = PlanInspect.nodeNames(run("d63_record_linkage"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
  }

  test("d62 winnowing pair join is an equi-join on fingerprints — no cartesian") {
    val names = PlanInspect.nodeNames(run("d62_winnowing"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
  }

  test("d68 CDC chunking is windowless and join-keyed (array lambdas only)") {
    // the operator's whole scale claim: boundary tests are per-doc array
    // lambdas, never a positional window; the only joins are keyed
    val plan = PlanInspect.formatted(run("d68_cdc_chunks"))
    assert(!plan.contains("windowspecdefinition"), "no window may appear")
    val names = PlanInspect.nodeNames(run("d68_cdc_chunks"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
  }

  test("t77 self-BLEU is windowless; gram joins are equi-joins") {
    val plan = PlanInspect.formatted(run("t77_self_bleu"))
    assert(!plan.contains("windowspecdefinition"), "no window may appear")
    val names = PlanInspect.nodeNames(run("t77_self_bleu"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
  }

  test("t78 phrase adjacency joins are equi-joins on (doc, start)") {
    val names = PlanInspect.nodeNames(run("t78_phrase_search"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names)
    assert(names.exists(n => n.contains("HashJoin") || n.contains("SortMergeJoin")), names)
  }

  test("s65 bitext windows all partition by a side id") {
    // the probe-vs-pool scan is a deliberate broadcast nested loop (the
    // s41 contract); the windows must never be unpartitioned
    val plan = PlanInspect.formatted(run("s65_bitext_mining"))
    val specs = "windowspecdefinition\\(([^)]*?)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty)
    assert(specs.forall(s => s.contains("x_id") || s.contains("y_id")), specs)
    val names = PlanInspect.nodeNames(run("s65_bitext_mining"))
    assert(!names.exists(_.contains("CartesianProduct")), names)
  }

  test("KS/Mann-Whitney/quantile-norm/split-drift windows are ALL bucket-partitioned") {
    // VERDICT r10 directive #2: the support cumsum used to run as an
    // unpartitioned window (`WindowExec: No Partition Defined`) — fine
    // for domain-bounded integral features, a single-partition corpus
    // sort for a high-cardinality caller. Prefix.cumsum replaces it with
    // the q203 bucketed prefix sum; pin that EVERY window in these plans
    // partitions by the bucket (the offsets frame uses a triangular
    // join, so no window at all may appear without p_bkt).
    // t73 joined the family in r11: its marginal doubled mid-ranks are
    // Prefix.cumsum consumers too (rule 23)
    for (q <- Seq("t66_ks_drift", "t68_mann_whitney", "t69_quantile_norm",
        "q207_split_drift", "t73_spearman")) {
      val plan = PlanInspect.formatted(run(q))
      val specs = "windowspecdefinition\\(([^)]*?)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(specs.nonEmpty, s"$q: expected bucketed cumsum windows")
      assert(specs.forall(_.contains("p_bkt")), s"$q: $specs")
    }
  }

  test("q160 SNM windows are bucket-partitioned — the no-global-sort contract") {
    // the whole point of the bucketed formulation: neither pass may
    // fall into an unpartitioned (single-task) window. The formatted
    // plan prints every windowspecdefinition with its partition
    // expressions — assert each one names the bucket.
    val plan = PlanInspect.formatted(run("q160_sorted_neighborhood"))
    val specs = "windowspecdefinition\\(([^,]*)," .r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty, plan)
    assert(specs.forall(_.contains("bucket")), specs)
  }

  test("q220 watermark audit: the running max windows by the range bucket") {
    // Prefix.cummax, the prefix-MAX sibling of rule 23's cumsum: the
    // window that sees event rows must partition by p_bkt; no window
    // may order the raw arrival hash without a partition (the r9 t63
    // defect shape).
    val plan = PlanInspect.formatted(run("q220_watermark_audit"))
    val specs = "windowspecdefinition\\(([^)]*?)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("p_bkt")), specs)
  }
}
