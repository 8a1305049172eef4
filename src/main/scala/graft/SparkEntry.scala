package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.ops.{Analytics, Behavior, Graph, Layout, Merge, Pareto, Privacy, Profile, Quality,
  Relational, Resample, Sketches, Skew, TimeSeries, TpchClose, Training}
import graft.similarity.Similarity
import graft.streaming.EventStreams
import graft.text.{Curation, Decontam, Retrieval, TextAnalysis, Winnowing}

/** The query catalog (SURVEY.md §7).
  *
  * Every implemented operator registers here once, with its oracle: a
  * [[SparkEntry.Query]] pairs the Spark query with the DuckDB SQL that
  * must return the same rows. Column names are aliased identically on
  * both sides (the oracle compare sorts columns by name before hashing).
  * Cross-engine numeric determinism rules live in
  * [[graft.ops.Relational]]'s scaladoc.
  */
object SparkEntry {

  /** One catalog entry: the Spark query over an sf directory, and the
    * equivalent ANSI SQL that DuckDB runs on the same parquet tables. */
  final case class Query(name: String, run: (SparkSession, String) => DataFrame,
      oracle: String)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, built once. */
  val registry: Seq[Query] = register(
    // -- reference parity shapes (SURVEY §2.1-2.5)
    Query("q_scan_project", Relational.scanProject,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity < 5""".stripMargin),
    Query("q_filter_date_eq", Relational.filterDateEq,
      "SELECT * FROM orders WHERE o_orderdate = TIMESTAMP '1995-03-01 00:00:00'"),
    Query("q_union_snapshots", Relational.unionSnapshots,
      """SELECT * FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1995-02-01 00:00:00'
        |UNION ALL
        |SELECT * FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-02-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1995-03-01 00:00:00'""".stripMargin),
    Query("q_cast_types", Relational.castTypes,
      """SELECT CAST(l_orderkey AS VARCHAR) AS key_str,
        |       CAST(FLOOR(l_quantity) AS INTEGER) AS qty_int,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
        |       CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem""".stripMargin),
    Query("q_null_handling", Relational.nullHandling,
      """SELECT doc_id, nullif(lang, 'en') AS lang_or_null,
        |       coalesce(nullif(lang, 'en'), 'unknown') AS lang_norm,
        |       (lang IS NULL) AS was_null
        |FROM documents""".stripMargin),
    Query("q_distinct", Relational.distinctSegments, "SELECT DISTINCT c_mktsegment FROM customer"),
    // -- aggregation (SURVEY §2.7)
    Query("q1_agg", Relational.q1PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(count(l_quantity) AS DOUBLE) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(count(l_extendedprice) AS DOUBLE) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(count(l_discount) AS DOUBLE) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    // HAVING n > 0: over an EMPTY fact table Spark's ROLLUP/CUBE emit
    // zero rows while the standard (and DuckDB) still emit the
    // empty-grouping-set grand-total row (n = 0, total NULL) — the only
    // zero-count row either form can produce, so the clause is inert on
    // any non-empty input (empty-orders edge sweep)
    Query("q_rollup", Relational.rollupOrders,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |HAVING count(*) > 0""".stripMargin),
    Query("q_cube", Relational.cubeEvents,
      """SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour_of_day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY CUBE (event_type, hour_of_day)
        |HAVING count(*) > 0""".stripMargin),
    Query("q_case_when_agg", Relational.caseWhenAgg,
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_disc,
        |  CAST(sum(CASE WHEN l_tax = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_no_tax,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // -- joins
    Query("q3_top_revenue", Relational.q3ShippingPriority,
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
    Query("q5_local_supplier", Relational.q5LocalSupplierVolume,
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin),
    Query("q12_priority", Relational.q12PriorityBuckets,
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
        |    AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag""".stripMargin),
    Query("q14_promo", Relational.q14PromoRevenue,
      """SELECT
        |  CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS promo_revenue_pct,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'""".stripMargin),
    Query("q_star_join", Relational.starJoin,
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),
    Query("q_semi_join", Relational.semiJoin,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)""".stripMargin),
    Query("q_anti_join", Relational.antiJoin,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1995)""".stripMargin),
    Query("q_notin_null", Relational.notInNullAware, Relational.notInNullAwareSql),
    Query("q_outer_join_agg", Relational.outerJoinAgg,
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin),
    // -- windows
    Query("q_window_latest", Relational.windowLatestOrder,
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t WHERE rn = 1""".stripMargin),
    Query("q_window_running", Relational.windowRunningSum,
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
        |  lag(l_quantity, 1) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_qty
        |FROM lineitem WHERE l_suppkey <= 5""".stripMargin),
    Query("q_topk_per_group", Relational.windowTopKPerGroup,
      """SELECT o_orderstatus, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice, row_number() OVER (
        |    PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t WHERE rk <= 3""".stripMargin),
    // -- sort/limit/set ops
    Query("q_sort_limit", Relational.sortLimit,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
    Query("q_set_intersect", Relational.setIntersect,
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin),
    Query("q_set_except", Relational.setExcept,
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin),
    // -- scalar function batteries
    Query("q_scalar_strings", Relational.scalarStrings,
      """SELECT p_partkey, upper(p_name) AS name_upper, lower(p_brand) AS brand_lower,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  substr(p_type, 1, 5) AS type_prefix,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels,
        |  trim(p_name) AS name_trim,
        |  (p_name LIKE '%green%') AS is_green
        |FROM part""".stripMargin),
    Query("q_scalar_dates", Relational.scalarDates,
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  CAST(day(o_orderdate) AS INTEGER) AS o_day,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  o_orderdate + INTERVAL 30 DAY AS due_date,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER)
        |    AS days_to_2002
        |FROM orders""".stripMargin),
    Query("q_scalar_math", Relational.scalarMath,
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        |  CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
        |  sqrt(l_extendedprice) AS price_sqrt,
        |  l_orderkey % 7 AS key_mod7,
        |  l_quantity * l_extendedprice AS qty_price
        |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin),
    // -- subquery / semi-structured / time rollup
    Query("q_above_avg", Relational.aboveAvgOrders,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT count(*) FROM orders)
        |    > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)""".stripMargin),
    Query("q_events_json", Relational.eventsJson,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin),
    Query("q_events_hourly", Relational.eventsHourly,
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin),
    // -- LLM-pipeline: text analysis (north star §7.4)
    Query("q_text_stats", TextAnalysis.textStats, TextAnalysis.textStatsSql),
    Query("q_lang_id", TextAnalysis.langId, TextAnalysis.langIdSql),
    Query("q_lang_confusion", TextAnalysis.langConfusion, TextAnalysis.langConfusionSql),
    Query("q_lsh_plan", Dedup.lshPlanningTable, Dedup.lshPlanningTableSql),
    Query("q_decayed", TimeSeries.decayedPopularity, TimeSeries.decayedPopularitySql),
    Query("q_forecast_bt", TimeSeries.forecastBacktest, TimeSeries.forecastBacktestSql),
    Query("q_fingerprint", TextAnalysis.fingerprint, TextAnalysis.fingerprintSql),
    // -- LLM-pipeline: deduplication
    Query("q_dedup_exact", Dedup.exactDedup, Dedup.exactDedupSql),
    Query("q_dedup_jaccard", Dedup.ngramJaccard, Dedup.ngramJaccardSql),
    Query("q_dedup_minhash", Dedup.minhashLsh, Dedup.minhashLshSql),
    Query("q_minhash_calib", Dedup.minhashCalibration, Dedup.minhashCalibrationSql),
    Query("q_dedup_simhash", Dedup.simhashDedup, Dedup.simhashDedupSql),
    Query("q_span_dedup", Dedup.spanDedup, Dedup.spanDedupSql),
    Query("q_block_dedup", Dedup.blockDedup, Dedup.blockDedupSql),
    Query("q_winnow", Winnowing.winnowFingerprints, Winnowing.winnowFingerprintsSql),
    Query("q_seq_pack", Curation.seqPackCensus, Curation.seqPackCensusSql),
    Query("q_pad_waste", Curation.padWaste, Curation.padWasteSql),
    Query("q_bm25", Retrieval.bm25, Retrieval.bm25Sql),
    Query("q_temperature", Curation.temperatureMixture, Curation.temperatureMixtureSql),
    Query("q_mmr", Similarity.mmrSelect, Similarity.mmrSelectSql),
    Query("q_rrf", Retrieval.rrfFusion, Retrieval.rrfFusionSql),
    Query("q_ndcg", Retrieval.ndcgAtK, Retrieval.ndcgAtKSql),
    Query("q_boilerplate", Dedup.boilerplateRatio, Dedup.boilerplateRatioSql),
    Query("q_script_profile", TextAnalysis.scriptProfile, TextAnalysis.scriptProfileSql),
    Query("q_neighborhood", Graph.neighborhoodFunction, Graph.neighborhoodFunctionSql),
    Query("q_gnn_sample", Graph.neighborSample, Graph.neighborSampleSql),
    Query("q_degree_dist", Graph.degreeDistribution, Graph.degreeDistributionSql),
    Query("q_fd_histogram", Analytics.fdHistogram, Analytics.fdHistogramSql),
    Query("q_topk_merge", Analytics.topkMergeCheck, Analytics.topkMergeCheckSql),
    Query("q_mann_kendall", TimeSeries.mannKendall, TimeSeries.mannKendallSql),
    Query("q_zipf", TextAnalysis.zipfFit, TextAnalysis.zipfFitSql),
    Query("q_heaps", TextAnalysis.heapsLaw, TextAnalysis.heapsLawSql),
    Query("q_jsd", TextAnalysis.jsdSources, TextAnalysis.jsdSourcesSql),
    Query("q_growth_acct", Behavior.growthAccounting, Behavior.growthAccountingSql),
    Query("q_gini", Analytics.giniBySegment, Analytics.giniBySegmentSql),
    Query("q_hhi", Analytics.hhiByNation, Analytics.hhiByNationSql),
    Query("q_ohlc", TimeSeries.ohlcDaily, TimeSeries.ohlcDailySql),
    Query("q_stratified", Analytics.neymanAllocation, Analytics.neymanAllocationSql),
    Query("q_isotonic", Analytics.isotonicQtyByDiscount, Analytics.isotonicQtyByDiscountSql),
    Query("q_drawdown", TimeSeries.maxDrawdown, TimeSeries.maxDrawdownSql),
    Query("q_bollinger", TimeSeries.bollingerBreakouts, TimeSeries.bollingerBreakoutsSql),
    Query("q_rsi", TimeSeries.rsiDaily, TimeSeries.rsiDailySql),
    Query("q_anova", Analytics.anovaValueByType, Analytics.anovaValueByTypeSql),
    Query("q_levene", Analytics.leveneQtyByFlag, Analytics.leveneQtyByFlagSql),
    Query("q_burstiness", Behavior.burstinessPerUser, Behavior.burstinessPerUserSql),
    Query("q_ljung_box", TimeSeries.ljungBox, TimeSeries.ljungBoxSql),
    Query("q_link_pred", Graph.linkPrediction, Graph.linkPredictionSql),
    Query("q_eigencentrality", Graph.eigenCentrality, Graph.eigenCentralitySql),
    Query("q_hits", Graph.hitsBipartite, Graph.hitsBipartiteSql),
    Query("q_price_index", Analytics.priceIndices, Analytics.priceIndicesSql),
    Query("q_scale_diag", Analytics.scaleDiagnostics, Analytics.scaleDiagnosticsSql),
    Query("q_semdedup", Dedup.semDedup, Dedup.semDedupSql),
    Query("q_ngram_novelty", TextAnalysis.ngramNovelty, TextAnalysis.ngramNoveltySql),
    Query("q_perm_entropy", TimeSeries.permutationEntropy, TimeSeries.permutationEntropySql),
    Query("q_abc", Analytics.abcAnalysis, Analytics.abcAnalysisSql),
    Query("q_new_vs_repeat", Analytics.newVsRepeat, Analytics.newVsRepeatSql),
    Query("q_nelson_aalen", Behavior.nelsonAalen, Behavior.nelsonAalenSql),
    Query("q_cohort_ltv", Behavior.cohortLtv, Behavior.cohortLtvSql),
    Query("q_tukey_hsd", Analytics.tukeyHsdPairs, Analytics.tukeyHsdPairsSql),
    Query("q_hurst", TimeSeries.hurstExponent, TimeSeries.hurstExponentSql),
    Query("q_adf", TimeSeries.dickeyFuller, TimeSeries.dickeyFullerSql),
    Query("q_var_ratio", TimeSeries.varianceRatio, TimeSeries.varianceRatioSql),
    Query("q_ktruss", Graph.kTruss, Graph.kTrussSql),
    Query("q_span_corruption", Curation.spanCorruption, Curation.spanCorruptionSql),
    Query("q_mlm_mask", Curation.mlmMasking, Curation.mlmMaskingSql),
    Query("q_dataset_card", Curation.datasetCard, Curation.datasetCardSql),
    Query("q_sax", TimeSeries.saxSymbols, TimeSeries.saxSymbolsSql),
    Query("q_peaks", TimeSeries.peakDetection, TimeSeries.peakDetectionSql),
    Query("q_friedman", Analytics.friedmanTest, Analytics.friedmanTestSql),
    Query("q_mutual_info", Analytics.mutualInfoTypeHour, Analytics.mutualInfoTypeHourSql),
    Query("q_kruskal", Behavior.kruskalWallis, Behavior.kruskalWallisSql),
    Query("q_dunn", Behavior.dunnPosthoc, Behavior.dunnPosthocSql),
    Query("q_mcnemar", Behavior.mcnemarTest, Behavior.mcnemarTestSql),
    Query("q_cochran_q", Behavior.cochranQ, Behavior.cochranQSql),
    Query("q_mood_median", Behavior.moodMedianTest, Behavior.moodMedianTestSql),
    Query("q_jonckheere", Analytics.jonckheereTerpstra, Analytics.jonckheereTerpstraSql),
    Query("q_durbin_watson", TimeSeries.durbinWatson, TimeSeries.durbinWatsonSql),
    Query("q_readability", TextAnalysis.readability, TextAnalysis.readabilitySql),
    Query("q_cem", Behavior.cemAtt, Behavior.cemAttSql),
    Query("q_mase", TimeSeries.maseForecast, TimeSeries.maseForecastSql),
    Query("q_textrank", TextAnalysis.textRank, TextAnalysis.textRankSql),
    Query("q_changepoint", TimeSeries.changepoint, TimeSeries.changepointSql),
    Query("q_capture_recapture", Behavior.captureRecapture, Behavior.captureRecaptureSql),
    Query("q_rate_test", Behavior.poissonRateTest, Behavior.poissonRateTestSql),
    // -- round 9: the last six TPC-H shapes over the derived partsupp /
    //    receipt-commit relations (TpchClose object doc)
    Query("q2_min_cost", TpchClose.q2MinCostSupplier, TpchClose.q2MinCostSupplierSql),
    Query("q9_product_profit", TpchClose.q9ProductProfit, TpchClose.q9ProductProfitSql),
    Query("q11_important_stock", TpchClose.q11ImportantStock, TpchClose.q11ImportantStockSql),
    Query("q16_parts_suppliers", TpchClose.q16PartsSupplierRel, TpchClose.q16PartsSupplierRelSql),
    Query("q20_potential_promo", TpchClose.q20PotentialPromo, TpchClose.q20PotentialPromoSql),
    Query("q21_waiting_supp", TpchClose.q21WaitingSuppliers, TpchClose.q21WaitingSuppliersSql),
    // -- round 9: robust/inequality statistics, drift, retrieval LM,
    //    state-space filtering, vocabulary richness
    Query("q_gini_dist", Analytics.giniRevenue, Analytics.giniRevenueSql),
    Query("q_trimmed_mean", Analytics.winsorizedStats, Analytics.winsorizedStatsSql),
    Query("q_kalman", TimeSeries.kalmanLevel, TimeSeries.kalmanLevelSql),
    Query("q_query_likelihood", Retrieval.queryLikelihood, Retrieval.queryLikelihoodSql),
    Query("q_js_div", Behavior.jsDivergence, Behavior.jsDivergenceSql),
    Query("q_chao1", TextAnalysis.vocabRichness, TextAnalysis.vocabRichnessSql),
    Query("q_fleiss", TextAnalysis.fleissKappa, TextAnalysis.fleissKappaSql),
    Query("q_rmst", Behavior.rmst, Behavior.rmstSql),
    Query("q_ego_betweenness", Graph.egoBetweenness, Graph.egoBetweennessSql),
    Query("q_pacf", TimeSeries.pacfDailyRevenue, TimeSeries.pacfDailyRevenueSql),
    Query("q_bradley_terry", Analytics.bradleyTerry, Analytics.bradleyTerrySql),
    Query("q_cvm", Behavior.cvmTest, Behavior.cvmTestSql),
    Query("q_logit", Analytics.logisticRegression, Analytics.logisticRegressionSql),
    Query("q_rich_club", Graph.richClub, Graph.richClubSql),
    Query("q_kneser_ney", TextAnalysis.knBigramScore, TextAnalysis.knBigramScoreSql),
    Query("q_dsir", Curation.dsirWeights, Curation.dsirWeightsSql),
    Query("q_theil_u", TimeSeries.theilU, TimeSeries.theilUSql),
    Query("q_sampen", TimeSeries.sampleEntropy, TimeSeries.sampleEntropySql),
    Query("q_ansari", Behavior.ansariBradley, Behavior.ansariBradleySql),
    Query("q_pr_auc", TextAnalysis.prAuc, TextAnalysis.prAucSql),
    Query("q_cronbach", TextAnalysis.cronbachAlpha, TextAnalysis.cronbachAlphaSql),
    Query("q_icc", Behavior.iccDesignEffect, Behavior.iccDesignEffectSql),
    Query("q_curation_funnel", Curation.curationFunnel, Curation.curationFunnelSql),
    Query("q_odds_ratio", Behavior.oddsRatioConversion, Behavior.oddsRatioConversionSql),
    Query("q_ca_trend", Analytics.cochranArmitageTrend, Analytics.cochranArmitageTrendSql),
    Query("q_classifier_metrics", TextAnalysis.classifierMetrics,
      TextAnalysis.classifierMetricsSql),
    Query("q_audio_census", Multimodal.audioCensus, Multimodal.audioCensusSql),
    Query("q_stl_strength", TimeSeries.seasonalStrength, TimeSeries.seasonalStrengthSql),
    Query("q_did", Behavior.diffInDiff, Behavior.diffInDiffSql),
    Query("q_sequential", Behavior.sequentialTest, Behavior.sequentialTestSql),
    Query("q_reco_eval", Graph.recommenderEval, Graph.recommenderEvalSql),
    // -- LLM-pipeline: similarity search
    Query("q_knn_brute", Similarity.bruteForceTopK, Similarity.bruteForceTopKSql),
    Query("q_bitext_mine", Similarity.bitextMining, Similarity.bitextMiningSql),
    Query("q_triplet_mine", Similarity.tripletMining, Similarity.tripletMiningSql),
    Query("q_lof", Similarity.lofOutliers, Similarity.lofOutliersSql),
    // The approximate operators (ANN, sketches, heavy hitters) are graded
    // through their deterministic CONTRACTS: DuckDB cannot reproduce
    // bucket/centroid/sketch internals, so those queries emit exact
    // companion values plus bound-check booleans the oracle asserts as
    // constants.
    Query("q_knn_lsh", Similarity.lshRecallCheck, Similarity.recallCheckSql),
    Query("q_knn_ivf", Similarity.ivfRecallCheck, Similarity.recallCheckSql),
    Query("q_centroids", Similarity.labelCentroids, Similarity.labelCentroidsSql),
    Query("q_cov_matrix", Similarity.covarianceMatrix, Similarity.covarianceMatrixSql),
    Query("q_pca_power", Similarity.pcaPowerCheck, Similarity.pcaPowerCheckSql),
    Query("q_dbscan", Similarity.dbscanEmbeddingsBlocked, Similarity.dbscanEmbeddingsBlockedSql),
    // -- LLM-pipeline: multimodal + sessionization
    Query("q_media_meta", Multimodal.mediaMeta, Multimodal.mediaMetaSql),
    Query("q_frame_census", Multimodal.frameCensus, Multimodal.frameCensusSql),
    Query("q_media_decode", Multimodal.decodeCensus, Multimodal.decodeCensusSql),
    Query("q_media_resize", Multimodal.resizeCensus, Multimodal.resizeCensusSql),
    Query("q_media_ahash", Multimodal.ahashCensus, Multimodal.ahashCensusSql),
    Query("q_media_neardup", Multimodal.ahashNearDup, Multimodal.ahashNearDupSql),
    Query("q_media_funnel", Multimodal.mediaCurationFunnel, Multimodal.mediaCurationFunnelSql),
    Query("q_media_hist", Multimodal.histogramCensus, Multimodal.histogramCensusSql),
    Query("q_frame_checksum", Multimodal.frameChecksum, Multimodal.frameChecksumSql),
    Query("q_silhouette", Similarity.silhouette, Similarity.silhouetteSql),
    Query("q_cuped", Behavior.cupedReadout, Behavior.cupedReadoutSql),
    Query("q_power", Behavior.powerAnalysis, Behavior.powerAnalysisSql),
    Query("q_markov", Behavior.markovStationary, Behavior.markovStationarySql),
    Query("q_matryoshka", Similarity.matryoshkaRecall, Similarity.matryoshkaRecallSql),
    Query("q_sessionize", EventStreams.sessionizeBatch, EventStreams.sessionizeBatchSql),
    // -- embedding near-dup + approximate sketches
    Query("q_dedup_embed", Dedup.embeddingNearDup, Dedup.embeddingNearDupSql),
    Query("q_dedup_embed_blocked", Dedup.embeddingNearDupBlocked, Dedup.embeddingNearDupBlockedSql),
    Query("q_sketches", Sketches.orderSketches, Sketches.orderSketchesSql),
    Query("q_cms", Sketches.cmsFrequencies, Sketches.cmsFrequenciesSql),
    Query("q_overlap_sketch", Sketches.audienceOverlap, Sketches.audienceOverlapSql),
    Query("q_hll_det", Sketches.detHll, Sketches.detHllSql),
    Query("q_kmv", Sketches.kmvDistinct, Sketches.kmvDistinctSql),
    Query("q_ams_f2", Sketches.amsF2, Sketches.amsF2Sql),
    // -- time-series joins/windows + ranking battery
    Query("q_asof_join", TimeSeries.asofLatestClick, TimeSeries.asofLatestClickSql),
    Query("q_range_join", TimeSeries.eventPairsWithin30Min, TimeSeries.eventPairsWithin30MinSql),
    Query("q_window_range", TimeSeries.trailingWindowStats, TimeSeries.trailingWindowStatsSql),
    Query("q_window_rank", Relational.windowRankBattery,
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin),
    // -- deterministic corpus splitting + corpus audits
    Query("q_train_split", TextAnalysis.trainSplit, TextAnalysis.trainSplitSql),
    Query("q_top_bigrams", TextAnalysis.topBigrams, TextAnalysis.topBigramsSql),
    Query("q_len_histogram", TextAnalysis.lengthHistogram, TextAnalysis.lengthHistogramSql),
    // -- analytics widening: reshaping, grouping sets, percentiles,
    //    moments, ordered string agg, window frames
    Query("q_pivot", Analytics.pivotOrderCounts, Analytics.pivotOrderCountsSql),
    Query("q_unpivot", Analytics.unpivotOrderMeasures, Analytics.unpivotOrderMeasuresSql),
    Query("q_grouping_sets", Analytics.groupingSetsCustomers, Analytics.groupingSetsCustomersSql),
    Query("q_percentiles", Analytics.percentilesByStatus, Analytics.percentilesByStatusSql),
    Query("q_moments", Analytics.momentsByReturnFlag, Analytics.momentsByReturnFlagSql),
    Query("q_string_agg", Analytics.nationsPerRegion, Analytics.nationsPerRegionSql),
    Query("q_window_frames", Analytics.windowFrameBattery, Analytics.windowFrameBatterySql),
    // -- deep TPC-H shapes + conditional aggs + UDAF + regexp
    Query("q10_returned", Relational.q10ReturnedCustomers,
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    Query("q17_small_qty", Relational.q17SmallQtyRevenue,
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |           / CAST(count(l2.l_quantity) AS DOUBLE) * 0.2
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),
    Query("q_cond_agg", Analytics.conditionalAggBattery, Analytics.conditionalAggBatterySql),
    Query("q_checksum", Analytics.checksumAudit, Analytics.checksumAuditSql),
    Query("q_regexp", Analytics.regexpBattery, Analytics.regexpBatterySql),
    // -- array HOFs + remaining set/join variants
    Query("q_array_hof", Analytics.arrayHofBattery, Analytics.arrayHofBatterySql),
    Query("q_union_distinct", Relational.unionDistinct,
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |UNION
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin),
    Query("q_nullsafe_join", Relational.nullSafeJoin,
      """WITH even AS (
        |  SELECT lang, count(*) AS n_even FROM documents
        |  WHERE doc_id % 2 = 0 GROUP BY lang),
        |odd AS (
        |  SELECT lang, count(*) AS n_odd FROM documents
        |  WHERE doc_id % 2 = 1 GROUP BY lang)
        |SELECT even.lang AS lang, n_even, n_odd
        |FROM even JOIN odd ON even.lang IS NOT DISTINCT FROM odd.lang""".stripMargin),
    // -- dedup clustering, fuzzy matching, curation/history/privacy
    Query("q_dedup_clusters", Dedup.dedupClusters, Dedup.dedupClustersSql),
    Query("q_fuzzy_names", Dedup.fuzzyNames, Dedup.fuzzyNamesSql),
    Query("q_tfidf", TextAnalysis.tfIdfTopTerms, TextAnalysis.tfIdfTopTermsSql),
    Query("q_scd2", TimeSeries.scd2StatusHistory, TimeSeries.scd2StatusHistorySql),
    Query("q_scd2_pit", TimeSeries.pitStatusLookup, TimeSeries.pitStatusLookupSql),
    Query("q_canonical_docs", Curation.canonicalDocs, Curation.canonicalDocsSql),
    Query("q_source_cap", Curation.sourceCap, Curation.sourceCapSql),
    Query("q_greedy_cover", Curation.greedyCoverage, Curation.greedyCoverageSql),
    Query("q_pii_kanon", Privacy.kAnonymize, Privacy.kAnonymizeSql),
    Query("q_skew_agg", Skew.skewAggByFlag, Skew.skewAggByFlagSql),
    Query("q_sample_strat", Relational.stratifiedSample, Relational.stratifiedSampleSql),
    Query("q_profile", Profile.profileCustomer, Profile.profileCustomerSql),
    Query("q_join_size", Profile.joinSizeStats, Profile.joinSizeStatsSql),
    Query("q_map_funcs", Analytics.mapFuncsBattery, Analytics.mapFuncsBatterySql),
    Query("q_session_window", EventStreams.sessionWindowAgg, EventStreams.sessionWindowAggSql),
    // -- round 3: TPC-H subquery shapes, CDC merge, behavioral analytics,
    //    feature standardization, repetition quality filters
    Query("q4_priority_exists", Relational.q4PriorityExists, Relational.q4PriorityExistsSql),
    Query("q7_nation_volume", Relational.q7NationVolume, Relational.q7NationVolumeSql),
    Query("q18_big_orders", Relational.q18BigOrders, Relational.q18BigOrdersSql),
    Query("q_merge_upsert", Merge.cdcMerge, Merge.cdcMergeSql),
    Query("q_snapshot_diff", Merge.snapshotDiff, Merge.snapshotDiffSql),
    Query("q_funnel", Behavior.funnelCounts, Behavior.funnelCountsSql),
    Query("q_cohort", Behavior.cohortRetention, Behavior.cohortRetentionSql),
    Query("q_zscore", Analytics.zscorePrices, Analytics.zscorePricesSql),
    Query("q_repetition", TextAnalysis.repetitionStats, TextAnalysis.repetitionStatsSql),
    Query("q_share_of_total", Analytics.revenueShareByNation, Analytics.revenueShareByNationSql),
    Query("q_vector_norms", Similarity.vectorNorms, Similarity.vectorNormsSql),
    Query("q_deciles", Analytics.decileStats, Analytics.decileStatsSql),
    // same oracle on purpose: the driver proves the distributed
    // range-partition rendering row-equal to the single-reducer window
    Query("q_deciles_dist", Analytics.decileStatsDistributed, Analytics.decileStatsSql),
    Query("q_window_distinct", Analytics.windowDistinctCount, Analytics.windowDistinctCountSql),
    // same oracle on purpose: the custom broadcast as-of operator must
    // reproduce the window rendering's contract row-for-row
    Query("q_asof_broadcast", TimeSeries.asofLatestClickBroadcast, TimeSeries.asofLatestClickSql),
    Query("q_winsorize", Analytics.winsorizedPrices, Analytics.winsorizedPricesSql),
    Query("q_udtf_ngrams", TextAnalysis.ngramGenerate, TextAnalysis.ngramGenerateSql),
    Query("q_entropy", TextAnalysis.tokenEntropy, TextAnalysis.tokenEntropySql),
    Query("q_traffic_matrix", Behavior.trafficMatrix, Behavior.trafficMatrixSql),
    Query("q_sample_weighted", Relational.weightedSample, Relational.weightedSampleSql),
    Query("q_mad", Analytics.madByStatus, Analytics.madByStatusSql),
    Query("q_iqr_outliers", Analytics.iqrOutliers, Analytics.iqrOutliersSql),
    // -- round 4: time-series repair, tolerance as-of, path/transition
    //    analytics, basket pairs, weighted median, RFM, data-quality audits
    Query("q_gapfill", TimeSeries.gapFillDailyOrders, TimeSeries.gapFillDailyOrdersSql),
    Query("q_asof_tolerance", TimeSeries.asofClickWithTolerance,
      TimeSeries.asofClickWithToleranceSql),
    Query("q_interpolate", TimeSeries.interpolateDailyPrice, TimeSeries.interpolateDailyPriceSql),
    Query("q_event_paths", Behavior.topEventPaths, Behavior.topEventPathsSql),
    Query("q_transitions", Behavior.transitionMatrix, Behavior.transitionMatrixSql),
    Query("q_copurchase", Behavior.coPurchasePairs, Behavior.coPurchasePairsSql),
    Query("q_weighted_median", Analytics.weightedMedianPrice, Analytics.weightedMedianPriceSql),
    // _dist siblings: the range-partition prefix-sum renderings, proven
    // row-equal by sharing their window forms' oracles (the deciles
    // precedent — window parallelism is by KEY, these are parallel by RANGE)
    Query("q_weighted_median_dist", Analytics.weightedMedianPriceDist,
      Analytics.weightedMedianPriceSql),
    Query("q_spearman_dist", Analytics.spearmanPriceQtyDist, Analytics.spearmanPriceQtySql),
    Query("q_pack_shards_dist", Curation.packShardsDist, Curation.packShardsSql),
    Query("q_rfm", Analytics.rfmSegments, Analytics.rfmSegmentsSql),
    Query("q_rfm_dist", Analytics.rfmSegmentsDist, Analytics.rfmSegmentsSql),
    Query("q_dq_audit", Quality.dqAudit, Quality.dqAuditSql),
    Query("q_benford", Quality.benfordAudit, Quality.benfordAuditSql),
    Query("q_psi_drift", Quality.psiDrift, Quality.psiDriftSql),
    Query("q_anomaly", Quality.revenueAnomalies, Quality.revenueAnomaliesSql),
    Query("q6_forecast", Relational.q6Forecast, Relational.q6ForecastSql),
    Query("q8_market_share", Relational.q8MarketShare, Relational.q8MarketShareSql),
    Query("q13_custdist", Relational.q13CustomerDistribution,
      Relational.q13CustomerDistributionSql),
    Query("q15_top_supplier", Relational.q15TopSupplier, Relational.q15TopSupplierSql),
    Query("q19_disjunctive", Relational.q19Disjunctive, Relational.q19DisjunctiveSql),
    Query("q22_global_sales", Relational.q22GlobalSales, Relational.q22GlobalSalesSql),
    Query("q_intersect_all", Relational.setIntersectAll, Relational.setIntersectAllSql),
    Query("q_except_all", Relational.setExceptAll, Relational.setExceptAllSql),
    Query("q_mode", Analytics.modeSegmentByNation, Analytics.modeSegmentByNationSql),
    Query("q_wau", Behavior.rollingActiveUsers, Behavior.rollingActiveUsersSql),
    Query("q_bounce", Behavior.bounceRate, Behavior.bounceRateSql),
    Query("q_streaks", Behavior.activityStreaks, Behavior.activityStreaksSql),
    Query("q_bitmap_activity", Behavior.activityBitmap, Behavior.activityBitmapSql),
    Query("q_wilson", Behavior.wilsonDailyCtr, Behavior.wilsonDailyCtrSql),
    // same oracle on purpose: the driver proves the banded
    // (user_id, time-bucket) join row-equal to the per-user form
    Query("q_range_banded", TimeSeries.eventPairsWithin30MinBanded,
      TimeSeries.eventPairsWithin30MinSql),
    Query("q_oov", TextAnalysis.oovRate, TextAnalysis.oovRateSql),
    Query("q_pack_shards", Curation.packShards, Curation.packShardsSql),
    Query("q_wau_sketch", Behavior.rollingActiveUsersSketch, Behavior.rollingActiveUsersSketchSql),
    Query("q_spearman", Analytics.spearmanPriceQty, Analytics.spearmanPriceQtySql),
    Query("q_mom_growth", Analytics.monthlyGrowth, Analytics.monthlyGrowthSql),
    Query("q_chi2", Analytics.chiSquareStatusPriority, Analytics.chiSquareStatusPrioritySql),
    Query("q_trend", Analytics.revenueTrend, Analytics.revenueTrendSql),
    Query("q_theilsen", Analytics.theilSenTrend, Analytics.theilSenTrendSql),
    Query("q_kendall", Analytics.kendallTauQtyDiscount, Analytics.kendallTauQtyDiscountSql),
    Query("q_kaplan_meier", Behavior.kaplanMeier, Behavior.kaplanMeierSql),
    Query("q_hodges_lehmann", Analytics.hodgesLehmannQty, Analytics.hodgesLehmannQtySql),
    Query("q_collocations", TextAnalysis.collocations, TextAnalysis.collocationsSql),
    Query("q_rolling_ols", TimeSeries.rollingOlsDaily, TimeSeries.rollingOlsDailySql),
    Query("q_dispersion", TimeSeries.dispersionDaily, TimeSeries.dispersionDailySql),
    Query("q_elasticity", Analytics.discountElasticity, Analytics.discountElasticitySql),
    Query("q_gumbel", Analytics.gumbelMonthlyMax, Analytics.gumbelMonthlyMaxSql),
    Query("q_runs_test", TimeSeries.runsTestDaily, TimeSeries.runsTestDailySql),
    Query("q_label_prop", Graph.labelPropagation, Graph.labelPropagationSql),
    Query("q_neg_sample", Training.negativeSampling, Training.negativeSamplingSql),
    Query("q_harmonic", Graph.harmonicCentrality, Graph.harmonicCentralitySql),
    Query("q_assortativity", Graph.degreeAssortativity, Graph.degreeAssortativitySql),
    Query("q_clustering_coef", Graph.clusteringCoefficient, Graph.clusteringCoefficientSql),
    Query("q_srm", Behavior.sampleRatioCheck, Behavior.sampleRatioCheckSql),
    Query("q_octile_shape", Analytics.octileShapeByFlag, Analytics.octileShapeByFlagSql),
    Query("q_dp_histogram", Privacy.dpNoisyHistogram, Privacy.dpNoisyHistogramSql),
    Query("q_lexicon_audit", TextAnalysis.lexiconAudit, TextAnalysis.lexiconAuditSql),
    Query("q_heavy_hitters", Analytics.heavyHitterParts, Analytics.heavyHitterPartsSql),
    // -- round 5: decontamination, mixture planning, quality cascade
    Query("q_decontam", Decontam.ngramOverlap, Decontam.ngramOverlapSql),
    Query("q_decontam_fuzzy", Decontam.minhashDecontam, Decontam.minhashDecontamSql),
    Query("q_mixture", Curation.mixturePlan, Curation.mixturePlanSql),
    Query("q_quality_filter", TextAnalysis.qualityFilter, TextAnalysis.qualityFilterSql),
    Query("q_rater_agreement", TextAnalysis.classifierAgreement,
      TextAnalysis.classifierAgreementSql),
    Query("q_lm_auc", TextAnalysis.lmAuc, TextAnalysis.lmAucSql),
    Query("q_lm_score", TextAnalysis.lmScore, TextAnalysis.lmScoreSql),
    Query("q_lm_calibration", TextAnalysis.lmCalibration, TextAnalysis.lmCalibrationSql),
    Query("q_lm_bigram", TextAnalysis.bigramLmScore, TextAnalysis.bigramLmScoreSql),
    Query("q_quantize", Similarity.quantizeAudit, Similarity.quantizeAuditSql),
    // -- round 5 late: chunking, scrub, corpus diff, skyline, graph, layout
    Query("q_chunk", Curation.chunkDocuments, Curation.chunkDocumentsSql),
    Query("q_pii_scrub", Privacy.piiScrub, Privacy.piiScrubSql),
    Query("q_coverage_overlap", TextAnalysis.sourceOverlap, TextAnalysis.sourceOverlapSql),
    Query("q_skyline", Pareto.skylineParts, Pareto.skylinePartsSql),
    Query("q_triangles", Graph.coPurchaseTriangles, Graph.coPurchaseTrianglesSql),
    Query("q_zorder", Layout.zorderAudit, Layout.zorderAuditSql),
    Query("q_lag_features", Behavior.lagFeatures, Behavior.lagFeaturesSql),
    Query("q_pagerank", Graph.pageRank, Graph.pageRankSql),
    Query("q_ppr_seeds", Graph.personalizedPageRank, Graph.personalizedPageRankSql),
    Query("q_bfs", Graph.bfsHops, Graph.bfsHopsSql),
    Query("q_sssp", Graph.ssspBounded, Graph.ssspBoundedSql),
    Query("q_kcore", Graph.kCorePeeling, Graph.kCorePeelingSql),
    Query("q_bpe_merges", TextAnalysis.bpePairCensus, TextAnalysis.bpePairCensusSql),
    Query("q_phrase_search", TextAnalysis.phraseSearch, TextAnalysis.phraseSearchSql),
    // -- round 5 continuation: incremental MV maintenance, interval
    //    overlap join, l-diversity audit
    Query("q_incr_agg", Merge.incrementalAgg, Merge.incrementalAggSql),
    Query("q_interval_overlap", TimeSeries.intervalOverlap, TimeSeries.intervalOverlapSql),
    Query("q_ldiversity", Privacy.lDiversity, Privacy.lDiversitySql),
    Query("q_tcloseness", Privacy.tClosenessAudit, Privacy.tClosenessAuditSql),
    Query("q_containment", Dedup.containment, Dedup.containmentSql),
    Query("q_text_norm", TextAnalysis.textNormalize, TextAnalysis.textNormalizeSql),
    Query("q_bootstrap", Resample.bootstrapOrderPrice, Resample.bootstrapOrderPriceSql),
    Query("q_quantile_sketch", Sketches.quantileSketchCheck, Sketches.quantileSketchCheckSql),
    Query("q_kmeans", Similarity.kmeansCheck, Similarity.kmeansCheckSql),
    Query("q_salted_join", Skew.saltedJoinAudit, Skew.saltedJoinAuditSql),
    Query("q_hist2d", Analytics.hist2dPriceQty, Analytics.hist2dPriceQtySql),
    Query("q_pq", Similarity.pqAudit, Similarity.pqAuditSql),
    Query("q_percentile_disc", Analytics.percentileDiscByStatus,
      Analytics.percentileDiscByStatusSql),
    Query("q_corr_matrix", Analytics.corrMatrixLineitem, Analytics.corrMatrixLineitemSql),
    Query("q_lorenz", Analytics.lorenzCustomerRevenue, Analytics.lorenzCustomerRevenueSql),
    Query("q_attribution", Behavior.clickAttribution, Behavior.clickAttributionSql),
    Query("q_shapley", Behavior.shapleyAttribution, Behavior.shapleyAttributionSql),
    Query("q_conformal", Analytics.conformalIntervals, Analytics.conformalIntervalsSql),
    Query("q_pinball", Analytics.pinballBacktest, Analytics.pinballBacktestSql),
    Query("q_jackknife", Analytics.jackknifeClusterSe, Analytics.jackknifeClusterSeSql),
    Query("q_brier", Behavior.brierCalibration, Behavior.brierCalibrationSql),
    Query("q_time_to_convert", Behavior.timeToConvert, Behavior.timeToConvertSql),
    Query("q_ab_test", Behavior.abTestRevenue, Behavior.abTestRevenueSql),
    Query("q_mannwhitney", Behavior.mannWhitney, Behavior.mannWhitneySql),
    Query("q_cliff_delta", Behavior.cliffDelta, Behavior.cliffDeltaSql),
    Query("q_wasserstein", Behavior.wassersteinDistance, Behavior.wassersteinDistanceSql),
    Query("q_aa_calib", Behavior.aaCalibration, Behavior.aaCalibrationSql),
    Query("q_perm_test", Behavior.permutationTest, Behavior.permutationTestSql),
    Query("q_sprt", Behavior.sprtMonitor, Behavior.sprtMonitorSql),
    Query("q_tost", Behavior.tostEquivalence, Behavior.tostEquivalenceSql),
    Query("q_cramer", Behavior.cramerDistance, Behavior.cramerDistanceSql),
    Query("q_qte", Behavior.quantileTreatmentEffects, Behavior.quantileTreatmentEffectsSql),
    Query("q_wilcoxon", Behavior.wilcoxonSignedRank, Behavior.wilcoxonSignedRankSql),
    Query("q_strat_ate", Behavior.stratifiedAte, Behavior.stratifiedAteSql),
    Query("q_logrank", Behavior.logRank, Behavior.logRankSql),
    Query("q_xyz", Analytics.xyzAnalysis, Analytics.xyzAnalysisSql),
    Query("q_bh_fdr", Analytics.bhFdrScreen, Analytics.bhFdrScreenSql),
    Query("q_holt", TimeSeries.holtForecast, TimeSeries.holtForecastSql),
    Query("q_croston", TimeSeries.crostonForecast, TimeSeries.crostonForecastSql),
    Query("q_cointegration", TimeSeries.cointegration, TimeSeries.cointegrationSql),
    Query("q_granger", TimeSeries.grangerCausality, TimeSeries.grangerCausalitySql),
    Query("q_dtw", TimeSeries.dtwDistance, TimeSeries.dtwDistanceSql),
    Query("q_mahalanobis", Analytics.mahalanobisOutliers, Analytics.mahalanobisOutliersSql),
    Query("q_seqpattern", Behavior.sequencePattern, Behavior.sequencePatternSql),
    Query("q_ks_test", Behavior.ksTest, Behavior.ksTestSql),
    Query("q_assoc_rules", Behavior.associationRules, Behavior.associationRulesSql),
    Query("q_concurrency", TimeSeries.intervalConcurrency, TimeSeries.intervalConcurrencySql),
    Query("q_ewma", TimeSeries.ewmaDaily, TimeSeries.ewmaDailySql),
    Query("q_seasonal", TimeSeries.seasonalDow, TimeSeries.seasonalDowSql),
    Query("q_cusum", TimeSeries.cusumChangepoint, TimeSeries.cusumChangepointSql),
    Query("q_clamped_balance", TimeSeries.clampedBalance, TimeSeries.clampedBalanceSql),
    Query("q_timed_funnel", TimeSeries.timedFunnel, TimeSeries.timedFunnelSql),
    Query("q_cv_folds", TimeSeries.cvFolds, TimeSeries.cvFoldsSql),
    Query("q_acf", TimeSeries.acfDailyRevenue, TimeSeries.acfDailyRevenueSql),
    // -- round 9, session 2: CDF-gap + block-rank family completions
    Query("q_anderson_darling", Behavior.andersonDarling, Behavior.andersonDarlingSql),
    Query("q_kendall_w", Analytics.kendallW, Analytics.kendallWSql),
    Query("q_page_trend", Analytics.pageTrend, Analytics.pageTrendSql),
    Query("q_jaro_winkler", Dedup.jaroWinklerPairs, Dedup.jaroWinklerPairsSql),
    Query("q_good_turing", TextAnalysis.goodTuring, TextAnalysis.goodTuringSql),
    Query("q_fertility", TextAnalysis.tokenizerFertility, TextAnalysis.tokenizerFertilitySql),
    Query("q_burrows_delta", TextAnalysis.burrowsDelta, TextAnalysis.burrowsDeltaSql),
    Query("q_ecod", Similarity.ecodOutliers, Similarity.ecodOutliersSql),
    Query("q_ccf", TimeSeries.ccfClicksPurchases, TimeSeries.ccfClicksPurchasesSql),
    Query("q_ipw_ate", Analytics.ipwAte, Analytics.ipwAteSql),
    Query("q_brunner_munzel", Behavior.brunnerMunzel, Behavior.brunnerMunzelSql),
    Query("q_meta_fixed", Behavior.metaFixedEffect, Behavior.metaFixedEffectSql),
    Query("q_welch_anova", Analytics.welchAnova, Analytics.welchAnovaSql),
    Query("q_bartlett", Analytics.bartlettQtyByFlag, Analytics.bartlettQtyByFlagSql),
    Query("q_dr_ate", Analytics.drAte, Analytics.drAteSql),
    Query("q_arch", TimeSeries.archTest, TimeSeries.archTestSql),
    Query("q_periodogram", TimeSeries.periodogram, TimeSeries.periodogramSql),
    Query("q_mrr", Retrieval.mrrAtK, Retrieval.mrrAtKSql),
    Query("q_hubness", Similarity.hubnessAudit, Similarity.hubnessAuditSql),
    Query("q_isotropy", Similarity.isotropyAudit, Similarity.isotropyAuditSql),
    Query("q_cluster_validity", Similarity.clusterValidity, Similarity.clusterValiditySql),
    Query("q_g_test", TextAnalysis.gTestLangSource, TextAnalysis.gTestLangSourceSql),
    Query("q_mantel_haenszel", Behavior.mantelHaenszel, Behavior.mantelHaenszelSql),
    Query("q_hoeffding_d", Analytics.hoeffdingD, Analytics.hoeffdingDSql),
    Query("q_kuiper", Behavior.kuiperTest, Behavior.kuiperTestSql),
    Query("q_cox_ph", Behavior.coxPh, Behavior.coxPhSql),
    Query("q_holt_winters", TimeSeries.holtWinters, TimeSeries.holtWintersSql),
    Query("q_games_howell", Analytics.gamesHowellPairs, Analytics.gamesHowellPairsSql),
    Query("q_chow", TimeSeries.chowTest, TimeSeries.chowTestSql),
    Query("q_dedup_eval", Dedup.dedupEval, Dedup.dedupEvalSql),
    Query("q_poisson_glm", Analytics.poissonGlm, Analytics.poissonGlmSql),
    Query("q_schoenfeld", Behavior.schoenfeldPh, Behavior.schoenfeldPhSql),
    Query("q_breusch_pagan", TimeSeries.breuschPagan, TimeSeries.breuschPaganSql),
    Query("q_jarque_bera", TimeSeries.jarqueBera, TimeSeries.jarqueBeraSql),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap
  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap

  /** The entries as given; fails on a repeated name, which a name-keyed
    * map would silently collapse to its last entry. */
  private[graft] def register(entries: Query*): Seq[Query] = {
    val repeated = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty, s"query registered twice: ${repeated.toSeq.sorted.mkString(", ")}")
    entries
  }

  /** The one query-name filter of every driver. Each element may hold a
    * comma-separated list; names are trimmed and blanks dropped. No name
    * selects the whole catalog. Returns registry entries sorted by name
    * and rejects unknown names, naming them. */
  def select(filter: Seq[String]): Seq[Query] = {
    val wanted = filter.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    registry.filter(q => wanted.isEmpty || wanted(q.name)).sortBy(_.name)
  }
}
