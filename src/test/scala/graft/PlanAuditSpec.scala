package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Automated plan-quality guard over the WHOLE query surface: no query
  * may regress into a non-broadcast cartesian product, and the
  * pushdown-sensitive scans must keep their filters at the reader.
  * Catches "works but reads everything" regressions that row-level
  * correctness checks cannot see.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("no query plans a non-broadcast cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark, sf).queryExecution.executedPlan.toString
          if (plan.contains("CartesianProduct")) Some(name) else None
        } catch { case _: Throwable => None } // runtime queries audit below
    }
    assert(offenders.isEmpty,
      s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("filter-pushdown queries keep predicates at the parquet scan") {
    val pushdownQueries = Seq("q1_agg", "q_scan_filtered", "q_join_multiway")
    pushdownQueries.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: ["), s"$name lost pushdown")
      assert(!plan.contains("PushedFilters: []"),
        s"$name has empty pushdown:\n${plan.take(400)}")
    }
  }

  test("star join broadcasts every dimension") {
    val plan = SparkEntry.queries("q_join_multiway")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.split("BroadcastHashJoin").length >= 4,
      "expected 3 broadcast joins")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("as-of join plans one key exchange, no product join") {
    val plan = SparkEntry.queries("q_asof_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of join regressed to a product join:\n${plan.take(600)}")
    assert(plan.contains("Window"), "as-of join lost its window form")
  }

  test("bucketized range join stays an equi-join (no nested loop)") {
    val plan = SparkEntry.queries("q_range_join_bucketed")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"range join regressed to a product join:\n${plan.take(600)}")
  }

  test("vocab heavy hitters plan TakeOrdered, never a global sort") {
    val plan = SparkEntry.queries("q_vocab_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 tokens regressed to a global sort:\n${plan.take(600)}")
  }

  test("mix manifest broadcasts the per-stratum rates") {
    val plan = SparkEntry.queries("q_mix_apply")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"rate join lost its broadcast (null-safe equi-key):\n${plan.take(600)}")
  }

  test("top-k per group keeps the WindowGroupLimit pushdown") {
    val plan = SparkEntry.queries("q_topk_per_group")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k no longer pushes a group limit below the exchange:\n${plan.take(600)}")
  }

  test("batched vector top-k broadcasts queries and keeps the " +
      "WindowGroupLimit pushdown") {
    val plan = SparkEntry.queries("q_vector_topk_batch")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-query rank<=k must prune before the exchange:\n${plan.take(600)}")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"the query block must broadcast:\n${plan.take(600)}")
  }

  test("batched ANN probes broadcast the probe table and keep the " +
      "WindowGroupLimit pushdown") {
    // Both persisted-index batch paths: the probe table broadcasts
    // into one shared index scan, and per-query rank<=k prunes before
    // the query-key exchange. (The entries are session-cached; the
    // InMemoryRelation's stringification carries the cached child
    // plan, so the pins see the real shape either way.)
    for (q <- Seq("q_vector_ann_batch", "q_vector_ivf_batch")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$q: per-query rank<=k must prune before the exchange:\n${plan.take(600)}")
      assert(plan.contains("BroadcastExchange"),
        s"$q: the probe table must broadcast:\n${plan.take(600)}")
    }
  }

  test("reservoir sample keeps the WindowGroupLimit pushdown") {
    val plan = SparkEntry.queries("q_sample_reservoir")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-stratum reservoir shuffles the corpus instead of k rows:\n${plan.take(600)}")
  }

  test("tf-idf top-5 keeps the WindowGroupLimit pushdown") {
    val plan = SparkEntry.queries("q_text_tfidf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"tf-idf rank filter shuffles all (doc,term) scores:\n${plan.take(600)}")
  }

  test("grouping sets plans one Expand, not a union of re-aggregations") {
    val plan = SparkEntry.queries("q_grouping_sets")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.split("Expand").length == 2,
      s"expected exactly one Expand:\n${plan.take(400)}")
    // One pass over the fact table: a rewrite into per-set unions would
    // scan orders once per grouping set.
    assert(plan.split("FileScan parquet").length == 2,
      "grouping sets must scan the fact table exactly once")
  }

  test("source keyness top-5 keeps the WindowGroupLimit pushdown") {
    val plan = SparkEntry.queries("q_source_keyness")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=5 lost its group-limit pushdown:\n${plan.take(400)}")
  }

  test("CMS build partial-aggregates map-side (mergeable-sketch shape)") {
    // The cell table must hash-aggregate with a partial phase so the
    // exchange carries <= d*w*partitions rows, never raw token cells.
    val plan = SparkEntry.queries("q_cms_counts")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(400))
    assert(!plan.contains("CartesianProduct"))
  }

  test("triangle wedge join carries the orientation predicate") {
    // The wedge self-join must join on the shared source WITH the
    // orientation-order condition ((bdg < cdg) or the id tie-break) —
    // an unoriented wedge join explodes around power-law hubs at 100x
    // scale. Catalyst keeps the predicate in the join condition, so
    // the ordering columns must be visible inside the executed plan's
    // join nodes, and the probe stays an equi-join. Audited on the
    // KERNEL (the driver entry serves the session-cached pinned
    // result, whose plan is just the cached scan).
    import spark.implicits._
    val edges = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("u", "v")
    val plan = graft.operators.GraphQueries.triangleCounts(edges)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bdg") && plan.contains("cdg"),
      s"orientation predicate missing from the wedge join:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("link prediction keeps the explicit wedge-leg repartition") {
    // The wedge pipeline's exchanges carry user-specified partition
    // counts (AQE sizes an exchange from the rows flowing in and
    // cannot see the Σ C(d,2) element fan-out inside the suffix
    // arrays — the documented O(block²) trap), and the non-edge cut
    // probes the single packed pair key.
    val plan = SparkEntry.queries("q_graph_link_predict")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"wedge legs lost the explicit partition count:\n${plan.take(600)}")
    assert(plan.contains("shiftleft"),
      s"packed pair key missing from the non-edge cut:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("link prediction ships suffix arrays and explodes AFTER the exchange") {
    // Round-17 wedge representation: the pair-count exchange carries
    // one (b, suffix-array) row per (center, pos) — ~20x fewer rows /
    // ~2x fewer bytes than exploded per-wedge longs — and the explode
    // runs where the rows land, hashpartitioning(b) already satisfying
    // groupBy(b, c)'s clustering. Pinned shape: (a) the explode's
    // Generate sits ABOVE the repartition exchange, and (b) no second
    // hash exchange exists between that exchange and the pair count
    // (a regression to pair-key partitioning would re-shuffle the
    // full wedge stream).
    val planTree = SparkEntry.queries("q_graph_link_predict")(spark, sf)
      .queryExecution.executedPlan
    val tree = planTree.toString
    // Exactly the adjacency-build exchange and the suffix-array
    // exchange repartition by number; the wedge stream itself never
    // crosses a third exchange.
    val numbered = "REPARTITION_BY_NUM".r.findAllIn(tree).length
    assert(numbered == 2,
      s"expected 2 user-numbered exchanges (adjacency, suffix arrays), " +
        s"got $numbered:\n${tree.take(800)}")
    // The explode of the suffix array (its generator output feeds the
    // pair count) must appear above an Exchange in the same subtree:
    // find the Generate(explode(cs)) node and require an Exchange
    // BELOW it, never between it and its aggregate.
    val idxGen = tree.indexOf("Generate explode(cs")
    assert(idxGen >= 0, s"suffix-array explode missing:\n${tree.take(800)}")
    // In toString order the aggregate PRINTS ABOVE the Generate that
    // feeds it: the pair count is the nearest HashAggregate before the
    // explode, and no hash exchange may sit between them.
    val idxAgg = tree.lastIndexOf("HashAggregate", idxGen)
    assert(idxAgg >= 0, s"pair-count aggregate missing:\n${tree.take(800)}")
    val between = tree.substring(idxAgg, idxGen)
    assert(!between.contains("Exchange hashpartitioning"),
      s"pair count re-shuffles the exploded wedge stream:\n$between")
  }

  test("BFS probes the pinned adjacency, never re-derives it per hop") {
    // Three hops over one pinned adjacency frame: the lineitem scan
    // that builds it must appear exactly once in the executed plan
    // (the seed aggregate is the only other fact scan).
    val plan = SparkEntry.queries("q_graph_bfs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.split("FileScan parquet").length <= 3,
      s"adjacency re-derived per hop:\n${plan.take(600)}")
  }

  test("column pruning reaches the scan for the pruned query") {
    val plan = SparkEntry.queries("q_scan_pruned")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"),
      s"scan not pruned:\n${plan.take(500)}")
  }

  test("quantization error pass is shuffle-free (codebook is driver-side)") {
    val plan = SparkEntry.queries("q_vector_quantize")(spark, sf)
      .queryExecution.executedPlan.toString
    // The quantize/dequantize arithmetic must stay map-side: the only
    // aggregation is the dim-bounded codebook collect, which happens
    // at build time, not in the returned plan.
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n${plan.take(600)}")
  }

  test("funnel's three chained windows share one exchange") {
    val plan = SparkEntry.queries("q_event_funnel")(spark, sf)
      .queryExecution.executedPlan.toString
    // All three min-over-user windows are partitioned identically —
    // more than one pre-aggregate exchange means Catalyst stopped
    // reusing the partitioning and the funnel re-shuffles the log.
    val exchanges = plan.split("Exchange hashpartitioning\\(user_id").length - 1
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges")
  }

  test("linkage best-match aggregates map-side and prunes the part scan") {
    val plan = SparkEntry.queries("q_fuzzy_jaro")(spark, sf)
      .queryExecution.executedPlan.toString
    // Best-match-per-record must be a partial min below the exchange —
    // the shuffle then carries one packed ordering long per record per
    // map task, never the blocked candidate set (the packed-long form
    // keeps the argmin hash-aggregable; min(struct) would force
    // Sort+SortAggregate over every candidate pair, and a row_number
    // window would shuffle the whole pair frame).
    assert(plan.contains("partial_min("),
      s"best-match lost its map-side partial aggregate:\n${plan.take(600)}")
    assert(plan.contains(
      "ReadSchema: struct<p_partkey:bigint,p_name:string,p_brand:string>"),
      "part scan reads more than the three linkage columns")
  }

  test("shared-subtree entries scan their pinned frame, not the corpus") {
    // q_source_overlap's distinct (source, token) set feeds both
    // self-join sides plus the size aggregate; q_colloc_lift's unigram
    // counts feed both lift joins plus the totals row. Each is pinned
    // (Checkpoint.pin) so the plan scans the materialized RDD instead
    // of re-planning the tokenize subtree per consumer.
    Seq("q_source_overlap", "q_colloc_lift").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD"),
        s"$name lost its pinned shared frame:\n${plan.take(600)}")
    }
  }

  test("interpolation's bracket windows share one exchange") {
    val plan = SparkEntry.queries("q_interpolate_linear")(spark, sf)
      .queryExecution.executedPlan.toString
    // Both bracket lookups (last-known-before, first-known-after) are
    // frames over the same (user, time) order — a second user_id
    // exchange means Catalyst stopped sharing the sort and the event
    // log shuffles twice.
    val exchanges = plan.split("Exchange hashpartitioning\\(user_id").length - 1
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges")
    assert(plan.contains("Window"), "interpolation lost its window form")
  }

  test("decontamination broadcasts the benchmark gram set (one corpus pass)") {
    val plan = SparkEntry.queries("q_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    // The corpus-side membership test must be a broadcast join — a
    // shuffled join here would move every corpus gram at 100 TB scale.
    assert(plan.contains("BroadcastHashJoin"), "benchmark set not broadcast")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      "corpus grams shuffled for the membership test")
  }

  test("snm ranking subtree executes once (checkpointed before self-join)") {
    val plan = SparkEntry.queries("q_dedup_snm")(spark, sf)
      .queryExecution.executedPlan.toString
    // sortedNeighborPairs localCheckpoint()s the ranked frame: the
    // self-join's two sides scan the materialized RDD, so the final
    // plan carries NO ranking window at all — it ran exactly once,
    // eagerly, instead of twice (once per join side, the r5 defect).
    assert(!plan.contains("Window"),
      s"ranking window re-planned into the join:\n${plan.take(600)}")
    assert(plan.contains("ExistingRDD"),
      "expected scans over the checkpointed ranked frame")
  }

  test("paragraph dedup picks winners by aggregation, never a digest window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val plan = SparkEntry.queries("q_dedup_paragraph")(spark, sf)
      .queryExecution.optimizedPlan
    // The global keep-first winner must be groupBy(digest).min(struct)
    // — partial aggregation absorbs a boilerplate paragraph's
    // occurrences map-side. A row_number window partitioned by the
    // digest would funnel every occurrence of a hot paragraph into one
    // task (the same Zipfian cliff dupSpans r5 had on grams).
    assert(!plan.exists(_.isInstanceOf[LWindow]),
      "expected no window in the paragraph-dedup plan")
  }

  test("char span entries shuffle hashed gram keys, not substrings") {
    Seq("q_dedup_spans_char", "q_dedup_spans_cut").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      // The occurrence count groups on the 128-bit (__h1, __h2) double
      // hash; if the raw substring column ever reaches an exchange the
      // shuffle pays ~k bytes per window position instead of 16.
      val exchanges = plan.split("Exchange hashpartitioning")
      exchanges.drop(1).foreach { ex =>
        val keys = ex.takeWhile(_ != ')')
        assert(!keys.contains("substr"),
          s"$name shuffles raw substrings: $keys")
      }
    }
  }

  test("pack_sequences has no data-sized single-partition running sum") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = SparkEntry.queries("q_pack_sequences")(spark, sf)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected the two-level running-sum windows")
    // Every window must either be bucket-parallel (stratum + bucket
    // key) or run over the per-bucket histogram (an Aggregate child) —
    // never a per-stratum window over raw docs (the r5 funnel).
    windows.foreach { w =>
      val overHistogram = w.child.exists(_.isInstanceOf[Aggregate])
      assert(w.partitionSpec.size >= 2 || overHistogram,
        s"data-sized window keyed by ${w.partitionSpec}")
    }
  }

  test("the approx profiler plans no Expand; the exact one keeps its documented trade") {
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    // q_profile_approx's whole point is replacing the exact profiler's
    // multi-countDistinct Expand (a per-column row replica) with
    // mergeable HLL++ state — one scan, no row multiplication.
    val approx = SparkEntry.queries("q_profile_approx")(spark, sf)
      .queryExecution.optimizedPlan
    assert(approx.collect { case e: Expand => e }.isEmpty,
      "the approx profiler must not multiply rows")
    // The exact profiler's Expand is the documented one-scan trade; if
    // it disappears, the scaladoc comparison is stale — update both.
    val exact = SparkEntry.queries("q_profile_columns")(spark, sf)
      .queryExecution.optimizedPlan
    assert(exact.collect { case e: Expand => e }.nonEmpty,
      "the exact profiler's documented Expand trade changed")
  }

  test("percentile-kernel entries never window one key's whole histogram") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // q_anomaly_mad runs the kernel on a CONTINUOUS column (histogram
    // ~ row count), so any single-key window over it would be the
    // exact funnel the two-level prefix sum exists to remove;
    // q_agg_stats_pack and q_budget_fill pin the discrete and
    // weighted shapes; q_string_quantiles, q_timestamp_quantiles and
    // q_date_quantiles pin the prefix-bucketed string and
    // epoch-bucketed temporal (unix_micros / unix_date) paths on the
    // real entry plans.
    Seq("q_anomaly_mad", "q_agg_stats_pack", "q_budget_fill",
        "q_string_quantiles", "q_timestamp_quantiles",
        "q_date_quantiles").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan
      plan.collect { case w: LWindow => w }.foreach { w =>
        val overHistogram = w.child.exists(_.isInstanceOf[Aggregate])
        assert(w.partitionSpec.size >= 2 || overHistogram,
          s"$name: data-sized window keyed by ${w.partitionSpec}")
      }
    }
  }

  test("upsert's affected-partition probe scans only the claim key") {
    import spark.implicits._
    // The partition-scoped upsert's cost story rests on this: the
    // old-locations semi-join must prune the hub's parquet read to
    // the key column (partition values come from the directory
    // layout) — a full-width ReadSchema would make the probe an
    // O(hub-bytes) scan and the scoping pointless.
    val dir = java.nio.file.Files.createTempDirectory("hub").toString
    graft.claims.HubStore.write(graft.claims.ClaimsEtl.canonicalize54(
      Seq(("K1", "2023", "10", "1"), ("K2", "2024", "1", "3"))
        .toDF("상담번호", "접수년", "접수월", "접수일")), dir)
    val probe = graft.claims.HubStore.oldLocations(
        spark.read.parquet(dir), Seq("K1").toDF("상담번호"))
      .select("접수년", "접수월").distinct()
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    // EXACT one-field schema: a full-width regression's ReadSchema is
    // abbreviated past maxMetadataStringLength with no closing '>', so
    // a contains-based check could silently match across the
    // truncation; every parquet scan in this plan must read the key
    // column and nothing else.
    val readSchemas = "ReadSchema: ([^\n]*)".r
      .findAllMatchIn(plan).map(_.group(1).trim).toSeq
    assert(readSchemas.nonEmpty, plan.take(400))
    assert(readSchemas.forall(_ == "struct<상담번호:string>"),
      s"hub probe must read only the key column, got: $readSchemas")
  }

  test("bucketed hub probe prunes to the batch keys' buckets, key column only") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The round-10 verdict's item 3: the flat layout's old-locations
    // probe scans the whole hub's key column per upsert. On the
    // bucketed layout the probe must carry a _key_bucket PARTITION
    // filter (only the batch keys' buckets are visited) on top of the
    // key-only ReadSchema.
    val dir = java.nio.file.Files.createTempDirectory("hubbp").toString
    val wide = graft.claims.ClaimsEtl.preprocess(
      graft.claims.ClaimsEtl.canonicalize54(
        graft.claims.ClaimsEtl.withIngestSeq(
          spark.range(64).select(
            concat(lit("K"), col("id")).as("상담번호"),
            lit("2023").as("접수년"), lit("10").as("접수월"),
            (col("id") % 28 + 1).cast("string").as("접수일")))))
    graft.claims.HubStore.writeBucketedHub(wide, dir, buckets = 8)
    val k7 = Seq("K7").toDF("상담번호")
    val probe = graft.claims.HubStore.oldLocationsBucketed(
        spark.read.parquet(dir), k7, k7.select(pmod(xxhash64(col("상담번호")),
          lit(8))).collect().map(_.getLong(0)).toSet)
      .select("접수년", "접수월", "_key_bucket").distinct()
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*_key_bucket".r
      .findFirstIn(plan).isDefined,
      s"probe must prune to the batch keys' buckets:\n${plan.take(600)}")
    val readSchemas = "ReadSchema: ([^\n]*)".r
      .findAllMatchIn(plan).map(_.group(1).trim).toSeq
    assert(readSchemas.nonEmpty, plan.take(400))
    assert(readSchemas.forall(_ == "struct<상담번호:string>"),
      s"bucketed probe must read only the key column, got: $readSchemas")
  }

  test("a MIGRATED hub's probe gets the same bucket pruning as one born bucketed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Round-11 verdict item 1: the bucket-pruned probe must not be a
    // privilege of hubs born bucketed — after migrateToBucketed, the
    // facade's existing flat hub pays the same nprobe-of-buckets I/O.
    val dir = java.nio.file.Files.createTempDirectory("hubmig").toString
    val wide = graft.claims.ClaimsEtl.preprocess(
      graft.claims.ClaimsEtl.canonicalize54(
        graft.claims.ClaimsEtl.withIngestSeq(
          spark.range(64).select(
            concat(lit("K"), col("id")).as("상담번호"),
            lit("2023").as("접수년"), lit("10").as("접수월"),
            (col("id") % 28 + 1).cast("string").as("접수일")))))
    graft.claims.HubStore.write(wide.drop(
      graft.claims.ClaimsSchema.ingestSeqCol), dir)  // born FLAT
    graft.claims.HubStore.migrateToBucketed(spark, dir, buckets = Some(8))
    val k7 = Seq("K7").toDF("상담번호")
    val probe = graft.claims.HubStore.oldLocationsBucketed(
        spark.read.parquet(dir), k7, k7.select(pmod(xxhash64(col("상담번호")),
          lit(8))).collect().map(_.getLong(0)).toSet)
      .select("접수년", "접수월", "_key_bucket").distinct()
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*_key_bucket".r
      .findFirstIn(plan).isDefined,
      s"migrated hub's probe must prune to buckets:\n${plan.take(600)}")
    val readSchemas = "ReadSchema: ([^\n]*)".r
      .findAllMatchIn(plan).map(_.group(1).trim).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(
      _ == "struct<상담번호:string>"),
      s"migrated probe must read only the key column, got: $readSchemas")
  }

  test("the upsert's fused old-side probe prunes to buckets and reads key + parent columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The upsert's old-side probe also carries the caller's mart key,
    // so the flow needs no separate prior-key scan of the hub. It must
    // keep the bucket pruning, and its scan may add only the three
    // parent columns the mart key is made of.
    val dir = java.nio.file.Files.createTempDirectory("hubfused").toString
    val wide = graft.claims.ClaimsEtl.preprocess(
      graft.claims.ClaimsEtl.canonicalize54(
        graft.claims.ClaimsEtl.withIngestSeq(
          spark.range(64).select(
            concat(lit("K"), col("id")).as("상담번호"),
            lit("2023").as("접수년"), lit("10").as("접수월"),
            (col("id") % 28 + 1).cast("string").as("접수일"),
            concat(lit("P"), col("id") % 3).as("플랜트")))))
    graft.claims.HubStore.writeBucketedHub(wide, dir, buckets = 8)
    val k7 = Seq("K7").toDF("상담번호")
    val bucketSet = k7.select(pmod(xxhash64(col("상담번호")), lit(8)))
      .collect().map(_.getLong(0)).toSet
    val probe = graft.claims.HubStore.oldLocationRows(
        spark.read.parquet(dir), k7, Some(bucketSet))
      .select(col("접수년"), col("접수월"), col("_key_bucket"),
        graft.claims.SeriesMart.martKey)
      .distinct()
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    val scans = plan.split("\n").filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty, plan.take(400))
    scans.foreach(s => assert(
      "PartitionFilters: \\[[^\\]]*_key_bucket".r.findFirstIn(s).isDefined,
      s"every probe scan must prune to buckets:\n$s"))
    val fields = "ReadSchema: struct<([^\n]*)>".r.findAllMatchIn(plan)
      .map(_.group(1).split(",").map(_.split(":")(0).trim).toSet).toSeq
    val keyed = Set("상담번호", "플랜트", "제품범주2", "대분류")
    assert(fields.contains(keyed),
      s"the keyed probe must read exactly the claim key + parent columns, got: $fields")
    assert(fields.forall(_.subsetOf(keyed)),
      s"no probe scan may read beyond the claim key + parent columns, got: $fields")
  }

  test("count replacement reads only the journaled hub partitions, narrow") {
    import org.apache.spark.sql.functions._
    // The delta-bounded maintenance story (round 11): per upload, the
    // ONLY hub read the mart pipeline performs beyond the upsert's own
    // probe is the count replacement — and it must be pruned BOTH ways:
    // partition-pruned to the journaled (접수년,접수월) set and
    // column-pruned to the seven count inputs. The refresh itself
    // takes no hub argument (refreshFromCounts), so there is no
    // refresh-time hub scan left to audit.
    val dir = java.nio.file.Files.createTempDirectory("cntplan").toString
    val hub0 = graft.claims.ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    graft.claims.HubStore.write(hub0.drop(
      graft.claims.ClaimsSchema.ingestSeqCol), dir)
    val frame = graft.claims.SeriesCounts.aggregate(
      spark.read.parquet(dir).filter(
        graft.claims.HubStore.partitionPredicate(Set(Seq(2023, 11)))))
    frame.collect()
    val plan = frame.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*접수년".r.findFirstIn(plan).isDefined,
      s"count replacement must prune to the journaled partitions:\n${plan.take(600)}")
    val allowed = Set("플랜트", "제품범주2", "대분류", "중분류",
      "접수일자", "Lag_Valid", "Lag_Days")
    val readSchemas = "ReadSchema: struct<([^\n]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty, plan.take(400))
    readSchemas.foreach { s =>
      val fields = s.split(",").map(_.split(":")(0).trim).toSet
      assert(fields.subsetOf(allowed),
        s"count replacement scan must be pruned to count inputs, got: $s")
    }
  }

  test("mart refresh's keep read prunes to the touched bucket partitions") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("martkeep").toString
    val hub0 = graft.claims.ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    graft.claims.SeriesMart.writeBucketedMart(
      graft.claims.SeriesMart.build(hub0, "2024-02-01"), dir, buckets = 64)
    val existing = spark.read.parquet(dir)
    val someBucket = existing
      .select(col("key_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).min
    val keep = graft.claims.SeriesMart.keepRows(existing,
      Set(someBucket), Set("PLANT_A_CAT2_X_MAJOR_P"))
    keep.collect()
    val plan = keep.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*key_bucket".r
      .findFirstIn(plan).isDefined,
      s"keep read must carry a key_bucket partition filter:\n${plan.take(600)}")
  }

  test("SHJ-by-default never ships with the AQE skew-join guard disabled") {
    // GraftSession sets spark.sql.join.preferSortMergeJoin=false, which
    // lets the planner pick shuffled-hash joins — a build-side skewed
    // partition can OOM an SHJ where sort-merge would spill. The guard
    // that makes the default acceptable is AQE's runtime skew-join
    // splitting. Two pins: (a) a session carrying GraftSession's SQL
    // settings has the SHJ default with AQE + skewJoin still enabled;
    // (b) no file under src/main builds a session other than through
    // GraftSession, so no main can drift from that config.
    val s = spark.newSession()
    GraftSession.sqlConf.foreach { case (k, v) => s.conf.set(k, v) }
    assert(s.conf.get("spark.sql.join.preferSortMergeJoin") === "false",
      "the measured SHJ default disappeared from GraftSession")
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true",
      "AQE must stay enabled — skew-join splitting rides on it")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true",
      "AQE skew-join splitting is the SHJ-by-default safety guard")
    val builders = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("SparkSession.builder"))
        .map(_.getFileName.toString).toSeq.sorted
      finally files.close()
    }
    assert(builders === Seq("GraftSession.scala"),
      "only GraftSession may call SparkSession.builder under src/main")
  }
}
