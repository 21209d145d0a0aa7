package graft

/** Whole-inventory plan audit: no registered query may plan a cartesian
  * product, and every parquet scan must prune columns (no scan reads a
  * table's full width unless the operator genuinely consumes it).
  * This is the automated sweep behind the per-operator plan assertions —
  * a regression that sneaks a cross join or kills pruning fails HERE.
  * Every test reads the one shared pass of [[InventoryAudit]].
  */
class PlanAuditSpec extends SparkSpec {

  // operators documented to consume (nearly) every column of a table
  private val fullWidthOk = Set(
    "q_profile", "q_dq_checks", "etl_normalize", "etl_quarantine",
    "q_sql_interface", "src_parquet")

  test("no registered query plans a cartesian product") {
    val offenders = InventoryAudit.built(sf).filter(_.cartesian).map(_.name)
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("no registered query's RESULT plan reads a cached relation") {
    // the r10/r11 lesson, regression-proofed: a cacheManager cache in
    // the result path builds the query as a CACHED plan with AQE
    // re-planning restricted (+25-35% task CPU measured) and leaks the
    // entry past the query. Training-time caches are fine ONLY if
    // released before the result frame is handed back; cross-consumer
    // reuse must ride localCheckpoint or a SessionMemo frame instead.
    // Every operator must also leave the cache EMPTY once its frame is
    // built (leaked entries pile up across a 300-query session).
    val offenders = InventoryAudit.built(sf).flatMap { f =>
      (if (f.cachedScan) Seq(s"${f.name} plans InMemoryTableScan") else Nil) ++
        (if (f.leaksCache) Seq(s"${f.name} leaks a cache entry") else Nil)
    }
    assert(offenders.isEmpty, s"cached-plan offenders:\n${offenders.mkString("\n")}")
  }

  // an UNPARTITIONED window funnels its whole input through ONE task —
  // fine over a provably bounded frame, a scale-killer over a fact- or
  // part-dimension-sized one (the r12 q_ks_test/q_mann_whitney/
  // q_skyline/q_equidepth_hist finding, since rewritten onto
  // Ranks.withGlobalRank / withGlobalPrefixAggs). Any REMAINING
  // unpartitioned window must be whitelisted here WITH its boundedness
  // argument; a new operator that re-introduces the pattern fails this
  // test by default. The stale-entry check keeps the list honest.
  private val unpartitionedWindowOk: Map[String, String] = Map(
    // two-level prefix scans: the unpartitioned window runs over the
    // per-partition OFFSET rows (≤ shuffle partitions), never the data
    "q_abc_analysis" -> "bucket-offset rows (≤32, two-level prefix)",
    "q_abc_xyz" -> "bucket-offset rows (≤32, two-level prefix)",
    "q_concurrency_peak" -> "bucket-offset rows (≤32, two-level prefix)",
    "q_theil_sen" -> "bucket offsets + per-calendar-day residual median",
    "text_pack_sequences" -> "bucket-offset rows (≤32, two-level prefix)",
    // calendar-bounded series: one row per day/month of a fixed span
    "q_moving_average" -> "calendar-day series",
    "q_control_chart" -> "calendar-day series",
    "q_cumulative_reach" -> "calendar-day series",
    "q_rolling_corr" -> "calendar-day series",
    "q_bollinger" -> "calendar-day series",
    "q_stl_decompose" -> "calendar-day/period series",
    "q_ordinal_patterns" -> "calendar-day series",
    "q_runs_test" -> "calendar-day sign series",
    "q_forecast_backtest" -> "calendar-month series",
    "q_kaplan_meier" -> "distinct duration days (calendar-span bounded)",
    "q_nelson_aalen" -> "distinct duration days (calendar-span bounded)",
    "q_gap_histogram" -> "distinct gap lengths (calendar-span bounded)",
    "graph_eff_diameter" -> "hop-count rows (≤ BFS rounds)",
    // small-dimension / post-aggregation frames
    "q_seasonality" -> "day-of-week / month dimension rows",
    "q_seasonal_strength" -> "period dimension rows",
    "q_residual_acf" -> "lag dimension (fixed max lag)",
    "q_benford" -> "9 leading-digit rows",
    "q_ratio_to_parent" -> "region/nation hierarchy dims",
    "q_allocation" -> "nation dimension (25 rows)",
    "q_benjamini_hochberg" -> "25-brand test family rank window",
    "q_equidepth_hist" -> "10-bucket post-agg revenue-share frame",
    "q_quantile_sketch_audit" -> "fixed-width sketch bucket histogram",
    "graph_degree_dist" -> "distinct-degree histogram rows",
    // post-limit top-k frames
    "text_vocab" -> "post-limit top-k vocab frame",
    "ann_hybrid_rrf" -> "post-limit top-k fusion frames",
    "ann_recall_report" -> "post-limit top-k frames",
    // composition of whitelisted stages (pack_sequences offsets + vocab)
    "pipeline_pretrain" -> "composed bounded stages (bucket offsets, top-k vocab)")

  test("no unpartitioned window outside the bounded-frame whitelist") {
    val offenders =
      InventoryAudit.built(sf).filter(_.unpartitionedWindows > 0).map(_.name).toSet
    val unexpected = offenders -- unpartitionedWindowOk.keySet
    val stale = unpartitionedWindowOk.keySet -- offenders
    assert(unexpected.isEmpty,
      s"unpartitioned windows need a boundedness justification: $unexpected")
    assert(stale.isEmpty, s"stale whitelist entries (no longer plan one): $stale")
  }

  test("every events/lineitem/documents scan prunes columns") {
    val offenders = InventoryAudit.built(sf).filterNot(f => fullWidthOk(f.name))
      .flatMap(_.unprunedScans)
    assert(offenders.isEmpty, s"unpruned scans:\n${offenders.mkString("\n")}")
  }
}
