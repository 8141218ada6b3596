package graft.agg

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

import graft.parse.ParseOps
import graft.route.Router

/** The aggregate plane (SURVEY.md §2B/§2E): windowed counts, metric
  * extraction, windowed stats with int/double fidelity, sampling, dedup,
  * salted two-phase aggregation for hot keys.
  *
  * The reference's interval aggregators are processing-time tumbling windows
  * flushed by wall-clock tickers (logcountprocessor/processor.go:164-177);
  * in deterministic batch form they become event-time tumbling windows over
  * `ts` — `window($"ts", interval)` — with no cross-window state (counter
  * maps reset on flush, counter/counter.go:47-50).
  */
object AggOps {

  /** Tumbling-window start aligned to epoch — equals DuckDB's
    * time_bucket(INTERVAL, ts) for the same width.
    */
  def windowStart(ts: Column, width: String): Column =
    window(ts, width).getField("start")

  // -------------------------------------------------------------------
  // logcountprocessor — predicate match → group by extracted attrs →
  // count per interval, emitted as gauge `log.count`
  // (processor/logcountprocessor/processor.go:107-132, 197-226)
  // -------------------------------------------------------------------
  def logCount(t: DataFrame, interval: String = "1 hour"): DataFrame =
    t.groupBy(
        windowStart(col("ts"), interval).as("window_start"),
        col("role"))
      .agg(count(lit(1)).as("log_count"))

  // -------------------------------------------------------------------
  // datapointcountprocessor — same, over metric datapoints
  // (processor/datapointcountprocessor/processor.go:112-119)
  // -------------------------------------------------------------------
  def datapointCount(t: DataFrame, interval: String = "1 hour"): DataFrame =
    metricExtract(t)
      .groupBy(windowStart(col("ts"), interval).as("window_start"), col("level"))
      .agg(count(lit(1)).as("datapoint_count"))

  // -------------------------------------------------------------------
  // Five-shape datapoint plane — eachDatapoint parity: the reference's
  // datapoint traversal visits Gauge, Sum, Histogram, ExponentialHistogram
  // and Summary points alike (datapointcountprocessor/processor.go:241-278;
  // lookupprocessor/processor.go:228-239 enriches every shape's attributes).
  // One row per datapoint; number-point columns are null on the aggregate
  // shapes and vice versa. The shapes are synthesized deterministically
  // from the JSON turns (pure column arithmetic, so the DuckDB oracle can
  // mirror every value), and the whole plane is ONE scan: the five shapes
  // explode out of a literal-constructed array, never five passes over t.
  // -------------------------------------------------------------------
  def allDatapoints(t: DataFrame): DataFrame = {
    val parsed = t.filter(ParseOps.isJson)
      .withColumn("p", from_json(col("text"), ParseOps.JsonBodySchema))
    val lat = col("p.latency_ms").cast("long")
    val nullL = lit(null).cast("long")
    val nullD = lit(null).cast("double")
    val nullI = lit(null).cast("int")
    val nullAL = lit(null).cast("array<bigint>")
    val nullAD = lit(null).cast("array<double>")
    def shape(tpe: String, name: String, vInt: Column, vDbl: Column,
              bounds: Column, counts: Column, scale: Column, pos: Column,
              q50: Column, q95: Column, dpSum: Column, dpCount: Column) =
      struct(
        lit(name).as("metric_name"), lit(tpe).as("metric_type"),
        vInt.cast("long").as("value_int"), vDbl.cast("double").as("value_double"),
        bounds.as("explicit_bounds"), counts.as("bucket_counts"),
        scale.cast("int").as("scale"), pos.as("positive_counts"),
        q50.cast("double").as("quantile_50"), q95.cast("double").as("quantile_95"),
        dpSum.cast("double").as("dp_sum"), dpCount.cast("long").as("dp_count"))
    val histCounts = array(lat % 3, lat % 5, lat % 7, lat % 11)
    val expCounts = array(lat % 2 + 1, lat % 3 + 1, lat % 5)
    parsed.select(
        col("conv_id"), col("turn_idx"), col("ts"), col("p.level").as("level"),
        explode(array(
          shape("gauge", "request.latency_ms",
            lat, lat.cast("double"), nullAD, nullAL, nullI, nullAL,
            nullD, nullD, nullD, nullL),
          shape("sum", "request.latency_total",
            lat, lat.cast("double"), nullAD, nullAL, nullI, nullAL,
            nullD, nullD, nullD, nullL),
          shape("histogram", "request.latency_hist",
            nullL, nullD,
            array(lit(50.0), lit(200.0), lit(500.0)), histCounts,
            nullI, nullAL, nullD, nullD,
            lat.cast("double"), lat % 3 + lat % 5 + lat % 7 + lat % 11),
          shape("exponential_histogram", "request.latency_exphist",
            nullL, nullD, nullAD, nullAL,
            (lat % 4).cast("int"), expCounts, nullD, nullD,
            (lat * 2).cast("double"), lat % 2 + 1 + lat % 3 + 1 + lat % 5),
          shape("summary", "request.latency_summary",
            nullL, nullD, nullAD, nullAL, nullI, nullAL,
            lat.cast("double") / 2.0, lat.cast("double") * 0.95,
            lat.cast("double"), lat % 13)
        )).as("dp"))
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("level"),
        col("dp.*"))
  }

  /** datapointcount over ALL five shapes — a histogram/summary datapoint
    * counts exactly like a number point (eachDatapoint parity).
    */
  def datapointCountTyped(t: DataFrame, interval: String = "1 hour"): DataFrame =
    allDatapoints(t)
      .groupBy(windowStart(col("ts"), interval).as("window_start"),
        col("metric_type"))
      .agg(count(lit(1)).as("datapoint_count"))

  /** The aggregate shapes' payloads are first-class: fold the bucket-count
    * arrays on the datapoint rows (map-side, codegen'd `aggregate`), never
    * by re-deriving from the source record.
    */
  def datapointShapeStats(t: DataFrame, interval: String = "1 hour"): DataFrame = {
    val dps = allDatapoints(t)
    val arraySum = (c: Column) =>
      aggregate(c, lit(0L), (acc, x) => acc + x)
    dps.groupBy(windowStart(col("ts"), interval).as("window_start"))
      .agg(
        sum(when(col("metric_type") === "histogram",
          arraySum(col("bucket_counts")))).as("hist_bucket_total"),
        sum(when(col("metric_type") === "exponential_histogram",
          arraySum(col("positive_counts")))).as("exp_bucket_total"),
        max(when(col("metric_type") === "exponential_histogram",
          col("scale"))).as("max_scale"),
        max(when(col("metric_type") === "summary",
          col("quantile_95"))).as("max_q95"),
        sum(when(col("metric_type") === "summary",
          col("dp_count"))).as("summary_count"))
  }

  // -------------------------------------------------------------------
  // metricextractprocessor — matching records → numeric datapoints with
  // extracted attrs and the record timestamp
  // (processor/metricextractprocessor/processor_ottl.go:87-186; ts fallback
  // chain observed→now at :196-206 — here ts is always present)
  // -------------------------------------------------------------------
  def metricExtract(t: DataFrame): DataFrame = metricExtract(t, lit(false))

  /** `orKeep` exists for the STREAMING caller (StreamingPipeline.
    * streamingMetricStats): OR-ing a reference to the watermark column into
    * the gate makes the predicate un-splittable and watermark-referencing,
    * which pins the Filter ABOVE an upstream EventTimeWatermark node —
    * Catalyst's PushPredicateThroughNonJoin otherwise pushes it below,
    * where the rows it drops can no longer advance event time. Batch
    * callers pass lit(false), which BooleanSimplification folds away.
    */
  private[graft] def metricExtract(t: DataFrame, orKeep: Column): DataFrame =
    t.filter(ParseOps.isJson || orKeep)
      .withColumn("p", from_json(col("text"), ParseOps.JsonBodySchema))
      .select(
        col("conv_id"), col("turn_idx"),
        lit("request.latency_ms").as("metric_name"),
        col("p.latency_ms").cast("long").as("value_int"),
        col("p.latency_ms").cast("double").as("value_double"),
        col("p.level").as("level"), col("ts"))

  /** Full metricextract config surface (metricextractprocessor/config.go:
    * 67-78, Validate :83-103): match gate, extract expression, metric
    * name/unit, FOUR metric types (gauge_double/gauge_int/counter_double/
    * counter_int — counter ⇒ monotonic sum), attribute expressions, and the
    * same expr-vs-OTTL field exclusivity as logcount. The int types
    * truncate the extracted value; the double types keep it floating.
    */
  case class MetricExtractConfig(
      route: String = "",
      exprMatch: Option[String] = None,
      ottlMatch: Option[String] = None,
      extract: String = "",
      ottlExtract: String = "",
      metricName: String = "extracted.metric",
      metricUnit: String = "{units}",
      metricType: String = "gauge_double",
      exprAttrs: Option[Seq[(String, String)]] = None,
      ottlAttrs: Option[Seq[(String, String)]] = None)

  def metricExtractConfigured(t: DataFrame, cfg: MetricExtractConfig): DataFrame = {
    val usesExpr = cfg.extract.nonEmpty || cfg.exprMatch.isDefined || cfg.exprAttrs.isDefined
    val usesOttl = cfg.ottlExtract.nonEmpty || cfg.ottlMatch.isDefined || cfg.ottlAttrs.isDefined
    require(!(usesExpr && usesOttl),
      "cannot use ottl fields (ottl_match, ottl_extract, ottl_attributes) " +
        "and expr fields (match, extract, attributes)")
    require(Seq("gauge_double", "gauge_int", "counter_double", "counter_int")
      .contains(cfg.metricType), "invalid metric type")
    val extractSrc =
      if (usesOttl) { require(cfg.ottlExtract.nonEmpty, "ottl_extract expression is required"); cfg.ottlExtract }
      else { require(cfg.extract.nonEmpty, "extract expression is required"); cfg.extract }
    val cols = t.columns.toSet
    val matched = cfg.exprMatch.orElse(cfg.ottlMatch)
      .map(m => t.filter(
        coalesce(graft.expr.ExprLang.boolExpr(m, cols), lit(false))))
      .getOrElse(t)
    val raw = graft.expr.ExprLang.valueExpr(extractSrc, cols)
    // int/double duality per configured type (processor_ottl.go value
    // switch); records whose extract is null/uncastable drop (nil → skip)
    val isInt = cfg.metricType.endsWith("_int")
    val value = if (isInt) raw.try_cast("double").try_cast("long")
      else raw.try_cast("double")
    val attrs = graft.expr.ExprLang.expressionMap(
      cfg.exprAttrs.orElse(cfg.ottlAttrs).getOrElse(Seq.empty), cols)
    matched
      .withColumn("__v", value).filter(col("__v").isNotNull)
      .select(
        col("conv_id"), col("turn_idx"),
        lit(cfg.metricName).as("metric_name"),
        lit(cfg.metricUnit).as("metric_unit"),
        lit(cfg.metricType).as("metric_type"),
        lit(cfg.metricType.startsWith("counter")).as("is_monotonic"),
        (if (isInt) col("__v") else lit(null).cast("long")).as("value_int"),
        (if (isInt) lit(null).cast("double") else col("__v")).as("value_double"),
        to_json(map_from_entries(array_sort(map_entries(attrs)))).as("attrs_json"),
        lit(cfg.route).as("route"), col("ts"))
  }

  // -------------------------------------------------------------------
  // metricstatsprocessor — windowed {min,max,avg,first,last} per (metric,
  // attrs); avg keeps int math int (stats/avg_statistic.go:49-66: integer
  // division); first/last by arrival order — batch order = (ts, conv, turn)
  // (processor/metricstatsprocessor/processor.go:142-199, 237-302)
  // -------------------------------------------------------------------
  /** Arrival-order key: orders identically to the oracle's printf string
    * (zero-padded micros, conv, turn, SPACE-separated) but allocates nothing
    * per row — struct comparison is field-wise, on the 10^12-row path.
    * The separator must sort BELOW every conv_id character (space 0x20 <
    * '-' 0x2D): with '|' (0x7C), a conv_id that is a proper prefix of
    * another ("c5-1" vs "c5-10") ordered OPPOSITE ways in tuple vs string
    * space whenever two rows shared an epoch-microsecond.
    */
  def arrivalKey: Column = struct(
    unix_micros(col("ts").cast("timestamp")).as("tsu"),
    col("conv_id").as("conv"), col("turn_idx").as("turn"))

  def metricStats(t: DataFrame, interval: String = "1 hour"): DataFrame = {
    val dp = metricExtract(t)
    dp.withColumn("arrival", arrivalKey)
      .groupBy(windowStart(col("ts"), interval).as("window_start"), col("level"))
      .agg(
        min(col("value_int")).as("stat_min"),
        max(col("value_int")).as("stat_max"),
        sum(col("value_int")).as("stat_sum"),
        count(lit(1)).as("stat_count"),
        min_by(col("value_int"), col("arrival")).as("stat_first"),
        max_by(col("value_int"), col("arrival")).as("stat_last"))
      .select(
        col("window_start"), col("level"),
        col("stat_min"), col("stat_max"),
        // integer-avg fidelity: true integer division, not double promotion
        expr("stat_sum div stat_count").as("stat_avg_int"),
        (col("stat_sum").cast("double") / col("stat_count")).as("stat_avg_double"),
        col("stat_first"), col("stat_last"), col("stat_count"))
  }

  /** The metricstats flush contract over the typed single-pass Aggregator,
    * SHARED by the batch query surface (q_metric_stats_agg) and
    * `StreamingPipeline.streamingMetricStats`: stats.Statistic
    * accumulate/finalize over the caller's (window, level) grouping of a
    * metricExtract frame, projected to the oracle columns. One buffer,
    * partial-merge capable, so map-side combine (batch) and incremental
    * state updates (streaming) both work off the same aggregator.
    */
  private[graft] def metricStatsFlush(grouped: RelationalGroupedDataset,
                                      windowCol: Column): DataFrame =
    grouped
      .agg(MetricStatsAgg.metricStats(col("value_int"),
        unix_micros(col("ts").cast("timestamp")), col("conv_id"),
        col("turn_idx")).as("s"))
      .select(windowCol.as("window_start"), col("level"),
        col("s.stat_min").as("stat_min"), col("s.stat_max").as("stat_max"),
        col("s.stat_avg_int").as("stat_avg_int"),
        col("s.stat_first").as("stat_first"), col("s.stat_last").as("stat_last"),
        col("s.stat_count").as("stat_count"))

  /** Two metrics per matching record (latency + status gauges) — gives the
    * include-regex gate real multi-metric work (metricextractprocessor can
    * emit several metrics from one record).
    */
  def metricExtractMulti(t: DataFrame): DataFrame =
    t.filter(ParseOps.isJson)
      .withColumn("p", from_json(col("text"), ParseOps.JsonBodySchema))
      .select(col("conv_id"), col("turn_idx"),
        explode(array(
          struct(lit("request.latency_ms").as("metric_name"),
            col("p.latency_ms").cast("long").as("value_int")),
          struct(lit("http.status").as("metric_name"),
            col("p.status").cast("long").as("value_int")))).as("m"),
        col("p.level").as("level"), col("ts"))
      .select(col("conv_id"), col("turn_idx"),
        col("m.metric_name").as("metric_name"), col("m.value_int").as("value_int"),
        col("level"), col("ts"))

  /** metricstats include-regex gate + consumed-vs-passthrough split
    * (metricstatsprocessor/processor.go:110-128: only metrics matching
    * `include` enter the stats, and those datapoints are REMOVED from the
    * stream; :320-339 non-matching datapoints pass through untouched).
    * Returns (stats, passthrough).
    */
  def metricStatsSplit(t: DataFrame, includeRegex: String,
                       interval: String = "1 hour"): (DataFrame, DataFrame) = {
    val dp = metricExtractMulti(t)
    val matched = dp.filter(col("metric_name").rlike(includeRegex))
    val passthrough = dp.filter(!col("metric_name").rlike(includeRegex))
    val stats = matched.withColumn("arrival", arrivalKey)
      .groupBy(windowStart(col("ts"), interval).as("window_start"),
        col("metric_name"), col("level"))
      .agg(
        min(col("value_int")).as("stat_min"),
        max(col("value_int")).as("stat_max"),
        count(lit(1)).as("stat_count"),
        min_by(col("value_int"), col("arrival")).as("stat_first"),
        max_by(col("value_int"), col("arrival")).as("stat_last"))
    (stats, passthrough)
  }

  // -------------------------------------------------------------------
  // samplingprocessor — drop with prob `drop_ratio` where condition holds;
  // fast paths ratio∈{0,1} (processor/samplingprocessor/processor.go:122-131;
  // sampleFunc :79-82). Seeded rand for deterministic tests (SURVEY §4.4).
  // -------------------------------------------------------------------
  def sample(t: DataFrame, condition: Column, dropRatio: Double, seed: Long = 42L): DataFrame = {
    // config.go Validate(): out-of-range ratio is a config-time ERROR, not
    // a clamp (errInvalidDropRatio)
    require(dropRatio >= 0.0 && dropRatio <= 1.0,
      "drop_ratio must be between 0.0 and 1.0")
    if (dropRatio <= 0.0) t // keep-all fast path
    // false-on-error: an unevaluable (NULL) condition keeps the record
    else if (dropRatio >= 1.0) t.filter(!coalesce(condition, lit(false)))
    else t.filter(!coalesce(condition && rand(seed) <= dropRatio, lit(false)))
  }

  /** Hash-gated sampling: the drop decision is md5-derived from the record
    * key instead of RNG state — deterministic across engines, re-runs, and
    * partitionings (the reproducible-pipeline variant of the seeded path;
    * a re-run of a resumed job samples the same records).
    */
  def sampleHashed(t: DataFrame, condition: Column, dropRatio: Double): DataFrame = {
    require(dropRatio >= 0.0 && dropRatio <= 1.0,
      "drop_ratio must be between 0.0 and 1.0")
    if (dropRatio <= 0.0) t
    else if (dropRatio >= 1.0) t.filter(!coalesce(condition, lit(false)))
    else {
      // ppm-granular gate: a percent-granular one silently floored 0.005
      // to a keep-all and 0.125 to 0.12
      val gate = pmod(graft.data.Dedup.md5Hash64(
        concat_ws(":", col("conv_id"), col("turn_idx"))), lit(1000000L)) <
        math.round(dropRatio * 1000000L)
      t.filter(!coalesce(condition && gate, lit(false)))
    }
  }

  // -------------------------------------------------------------------
  // logdedupprocessor (manifest.yaml:100) — dedup IDENTICAL log records
  // (by body digest + attrs) within an interval; the first occurrence is
  // kept with a duplicate-count attribute
  // (processor/logdeduplicationprocessor semantics: records equal on
  // body+attributes within the interval collapse to one + match_count)
  // -------------------------------------------------------------------
  /** Record-identity dedup over the transcripts themselves: group on
    * (window, md5(text), role), keep the first arrival, attach the count.
    * Hash-groupBy on the digest — one shuffle on a short key; scales.
    */
  def logDedup(t: DataFrame, interval: String = "1 hour"): DataFrame =
    dedupFlush(
      t.withColumn("arrival", arrivalKey)
        .groupBy(windowStart(col("ts"), interval).as("window_start"),
          md5(col("text")).as("body_md5"), col("role")),
      col("window_start"), col("body_md5"), col("role"))

  /** The first-arrival dedup flush contract, SHARED by every variant —
    * logDedup, logDedupExcluding, datapointFirst, and
    * `StreamingPipeline.streamingLogDedup`: count + first-arrival min over
    * the caller's grouping, projected to the caller's identity columns.
    * The zero-padded first_arrival format lives ONLY here — revising it
    * revises all four together (it has been revised before; a drifting
    * copy would be a silent parity break). first_arrival is formatted once
    * per OUTPUT row, not per input row.
    */
  private[graft] def dedupFlush(grouped: RelationalGroupedDataset,
                                keyCols: Column*): DataFrame =
    grouped
      .agg(count(lit(1)).as("dedup_count"), min(col("arrival")).as("first"))
      .select(keyCols ++ Seq(col("dedup_count"),
        format_string("%019d %s %010d",
          col("first.tsu"), col("first.conv"), col("first.turn")).as("first_arrival")): _*)

  /** logdedup `exclude_fields` parity: the named body sub-fields do NOT
    * participate in the dedup identity — records identical everywhere else
    * collapse even when the excluded fields differ (the canonical use:
    * exclude a timestamp or latency field embedded in the body). The
    * exclusion rewrites the body to its identity form before hashing.
    */
  def logDedupExcluding(t: DataFrame, excludeFields: Seq[String],
                        interval: String = "1 hour"): DataFrame = {
    // ONE regex pass with a field-name alternation instead of one
    // regexp_replace per excluded field (N passes over every body):
    // members are disjoint non-overlapping matches, so the single
    // alternation removes exactly the set the sequential folds removed
    val identityBody =
      if (excludeFields.isEmpty) col("text")
      else regexp_replace(col("text"),
        "\"(?:" + excludeFields.mkString("|") +
          ")\":(\"[^\"]*\"|[0-9.]+|true|false|null),?", "")
    dedupFlush(
      t.withColumn("arrival", arrivalKey)
        .groupBy(
          windowStart(col("ts"), interval).as("window_start"),
          md5(identityBody).as("identity_md5"), col("role")),
      col("window_start"), col("identity_md5"), col("role"))
  }

  /** The pre-round-2 q_dedup shape (datapoint family + first arrival),
    * kept as its own operator: first-arrival tracking per datapoint group.
    */
  def datapointFirst(t: DataFrame, interval: String = "1 hour"): DataFrame = {
    val j = metricExtract(t)
    dedupFlush(
      j.withColumn("arrival", arrivalKey)
        .groupBy(
          windowStart(col("ts"), interval).as("window_start"),
          col("level"), col("metric_name")),
      col("window_start"), col("level"), col("metric_name"))
  }

  // -------------------------------------------------------------------
  // Salted two-phase aggregation (SURVEY §4.3): hot conv_ids absorbed by a
  // salt in phase 1; phase 2 merges partials. Result ≡ plain groupBy-count,
  // but no single reducer sees a whole hot key.
  // -------------------------------------------------------------------
  def saltedCountByConv(t: DataFrame, salts: Int = 16): DataFrame =
    t.withColumn("salt", pmod(hash(col("turn_idx")), lit(salts)))
      .groupBy(col("conv_id"), col("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("conv_id"))
      .agg(sum(col("partial")).as("n_turns"))

  // -------------------------------------------------------------------
  // throughputmeasurementprocessor — batch byte/record counters
  // (processor/throughputmeasurementprocessor/processor.go:93-102;
  // internal/measurements/throughput.go:54-131). Spark-native: `observe` /
  // aggregate without mutating the data plane.
  // -------------------------------------------------------------------
  def throughput(t: DataFrame): DataFrame =
    Router.tagged(t)
      .groupBy(col("route"))
      .agg(
        count(lit(1)).as("log_count"),
        sum(octet_length(col("text"))).as("log_raw_bytes"))

  /** Full throughputmeasurement config surface (config.go:28-43): enabled
    * gate, sampling_ratio over PAYLOADS (rand <= ratio per payload,
    * processor.go:94-99 — here the deterministic hash-gate stand-in over
    * the hour-partition payload), extra_labels attached to every
    * measurement, and measure_log_raw_bytes opt-in (raw bytes are the
    * expensive extra measurement, default off).
    */
  case class ThroughputConfig(
      enabled: Boolean = true,
      samplingRatio: Double = 1.0,
      extraLabels: Map[String, String] = Map.empty,
      measureLogRawBytes: Boolean = false)

  def throughputConfigured(tagged: DataFrame, cfg: ThroughputConfig): DataFrame = {
    require(cfg.samplingRatio >= 0.0 && cfg.samplingRatio <= 1.0,
      "sampling_ratio must be between 0.0 and 1.0")
    val base = if (cfg.enabled) tagged else tagged.filter(lit(false))
    // payload = hour partition; keyed on epoch micros so the gate string is
    // engine-portable (timestamp rendering differs between engines)
    val payloadKey = unix_micros(date_trunc("hour", col("ts"))
      .cast("timestamp")).cast("string")
    val gate = pmod(graft.data.Dedup.md5Hash64(payloadKey), lit(1000000L)) <
      math.round(cfg.samplingRatio * 1000000L)
    val grouped = base.filter(gate).groupBy(col("route")).agg(
      count(lit(1)).as("log_count"),
      (if (cfg.measureLogRawBytes) sum(octet_length(col("text")))
       else lit(null).cast("long")).as("log_raw_bytes"))
    cfg.extraLabels.toSeq.sortBy(_._1).foldLeft(grouped) {
      case (df, (k, v)) => df.withColumn(s"label_$k", lit(v))
    }
  }

  // -------------------------------------------------------------------
  // counter.TelemetryCounter dimension keys — the reference groups by the
  // JSON-serialized attribute map (counter/counter.go:114-118); relationally:
  // canonicalize the map (sorted entries → JSON) and group by that string.
  // -------------------------------------------------------------------
  def logCountByAttrs(t: DataFrame, interval: String = "1 hour"): DataFrame = {
    val attrs = map(
      lit("role"), col("role"),
      lit("has_tool"), when(col("tool") =!= "", "true").otherwise("false"))
    val canonicalKey = to_json(map_from_entries(array_sort(map_entries(attrs))))
    t.groupBy(
        windowStart(col("ts"), interval).as("window_start"),
        canonicalKey.as("attrs_json"))
      .agg(count(lit(1)).as("log_count"))
  }

  /** CONFIG-DRIVEN attrs extraction: the reference evaluates an
    * ExpressionMap of named expr-lang programs per record
    * (logcount processor.go:121-132 `attrs.Extract`), failed/nil entries
    * silently absent, then counts per canonical attr set. */
  def logCountExprAttrs(t: DataFrame, specs: Seq[(String, String)],
                        interval: String = "1 hour"): DataFrame = {
    val attrs = graft.expr.ExprLang.expressionMap(specs, t.columns.toSet)
    val canonicalKey = to_json(map_from_entries(array_sort(map_entries(attrs))))
    t.groupBy(
        windowStart(col("ts"), interval).as("window_start"),
        canonicalKey.as("attrs_json"))
      .agg(count(lit(1)).as("log_count"))
  }

  /** Full logcount config surface: the reference accepts EITHER the
    * expr-lang fields (match/attributes) OR the OTTL fields (ottl_match/
    * ottl_attributes) and rejects any mix at config-validation time
    * (logcountprocessor/config.go:49-51, 56-70). Both surfaces compile to
    * the same windowed count; a match that errors counts as false
    * (expression.go false-on-error).
    */
  case class LogCountConfig(
      exprMatch: Option[String] = None,
      exprAttrs: Option[Seq[(String, String)]] = None,
      ottlMatch: Option[String] = None,
      ottlAttrs: Option[Seq[(String, String)]] = None)

  def logCountConfigured(t: DataFrame, cfg: LogCountConfig,
                         interval: String = "1 hour"): DataFrame = {
    // config.go:56-70: the four cross-surface combinations are errors
    require(!(cfg.exprMatch.isDefined && cfg.ottlMatch.isDefined),
      "match and ottl_match cannot both be set")
    require(!(cfg.exprAttrs.isDefined && cfg.ottlAttrs.isDefined),
      "attributes and ottl_attributes cannot both be set")
    require(!(cfg.exprMatch.isDefined && cfg.ottlAttrs.isDefined),
      "match and ottl_attributes cannot both be set")
    require(!(cfg.ottlMatch.isDefined && cfg.exprAttrs.isDefined),
      "ottl_match and attributes cannot both be set")
    val cols = t.columns.toSet
    val matched = cfg.exprMatch.orElse(cfg.ottlMatch)
      .map(m => t.filter(
        coalesce(graft.expr.ExprLang.boolExpr(m, cols), lit(false))))
      .getOrElse(t)
    cfg.exprAttrs.orElse(cfg.ottlAttrs) match {
      case Some(specs) => logCountExprAttrs(matched, specs, interval)
      case None => matched
        .groupBy(windowStart(col("ts"), interval).as("window_start"))
        .agg(count(lit(1)).as("log_count"))
    }
  }

  // -------------------------------------------------------------------
  // Span expression environment — expr/span.go:22-56: a span presents to
  // the expr engine as a flat env with four trace-specific fields beyond
  // resource/attributes: span_duration_ms (end-start in millis, :51),
  // trace_kind (SpanKind rendered via spanKindToString, :29-36),
  // trace_status_code ("ok"/"error"/"unset" via spanStatusCodeToString,
  // :38-42) and trace_status_message (:54). Spans here ≅ the JSON request
  // turns of a transcript (a request/response round-trip is the span);
  // the env fields derive deterministically from the turn so every span
  // predicate stays oracle-checkable.
  // -------------------------------------------------------------------
  /** The span-view relation: one row per span with the four expr env fields
    * as first-class columns, so `ExprLang.boolExpr("span_duration_ms > N",
    * sv.columns.toSet)` resolves them exactly like Record env fields.
    *  - span_duration_ms: the request latency (the reference computes
    *    EndTimestamp-StartTimestamp; our round-trip duration IS latency_ms)
    *  - trace_kind: from the turn's role — tool→client (the agent calls
    *    out), assistant→server (it serves the reply), user→consumer,
    *    system→internal; the five reference kind strings (span.go:29-36)
    *  - trace_status_code: HTTP status → ok(<400) / unset(4xx, no explicit
    *    status set) / error(5xx) per spanStatusCodeToString's value set.
    *    Deliberate modeling deviation: an absent/null JSON status maps to
    *    'ok' (the `.otherwise` arm), whereas the reference's pcommon default
    *    span status is 'unset' — the oracle mirrors 'ok', so parity holds;
    *    flagged here so the deviation is visible, not accidental
    *  - trace_status_message: the body msg field
    */
  def spanView(t: DataFrame): DataFrame =
    t.filter(ParseOps.isJson)
      .withColumn("p", from_json(col("text"), ParseOps.JsonBodySchema))
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"), col("ts"),
        col("p.latency_ms").cast("long").as("span_duration_ms"),
        when(col("role") === "tool", "client")
          .when(col("role") === "assistant", "server")
          .when(col("role") === "user", "consumer")
          .otherwise("internal").as("trace_kind"),
        when(col("p.status") >= 500, "error")
          .when(col("p.status") >= 400, "unset")
          .otherwise("ok").as("trace_status_code"),
        col("p.msg").as("trace_status_message"))

  /** Span identity + hierarchy over the span view: trace = conversation
    * (trace_id from conv_id), span ids are deterministic 16-hex digests of
    * (conv_id, turn_idx), and each span's parent is the PREVIOUS span of
    * its trace (lag over the conv_id window) — the first span of a trace
    * has an empty parent id, which is exactly the root-span contract the
    * upstream IsRootSpan converter tests (ParentSpanID().IsEmpty()).
    * Separate from spanView so the count/attr planes stay window-free; the
    * one window here partitions on conv_id (bounded groups, scale-safe).
    */
  def spanHierarchy(t: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy("turn_idx")
    spanView(t)
      .withColumn("trace_id", md5(col("conv_id")))
      .withColumn("span_id",
        substring(md5(concat_ws(":", col("conv_id"), col("turn_idx"))), 1, 16))
      .withColumn("parent_span_id", coalesce(lag(col("span_id"), 1).over(w), lit("")))
  }

  /** spancountprocessor with a first-class span predicate through the expr
    * engine (spancountprocessor/processor.go:78-105 consumeTraces matches
    * each expr.Span env against the compiled config match expression, then
    * counts per interval grouped by extracted attrs — here trace_kind).
    */
  def spanCountMatched(t: DataFrame, matchExpr: String,
                       interval: String = "1 hour"): DataFrame = {
    val sv = spanView(t)
    sv.filter(coalesce(
        graft.expr.ExprLang.boolExpr(matchExpr, sv.columns.toSet), lit(false)))
      .groupBy(windowStart(col("ts"), interval).as("window_start"),
        col("trace_kind"))
      .agg(count(lit(1)).as("span_count"))
  }

  /** spancount's attributes surface: the same ExpressionMap extraction the
    * log plane uses (attrs.Extract), evaluated over the SPAN env — named
    * expr programs resolve span_duration_ms / trace_* exactly like Record
    * fields, failed/nil entries silently absent, count per canonical attr
    * set per interval (spancountprocessor/processor.go consumeTraces →
    * countSpans over expr.Span envs).
    */
  def spanCountAttrs(t: DataFrame, specs: Seq[(String, String)],
                     matchExpr: Option[String] = None,
                     interval: String = "1 hour"): DataFrame = {
    val sv = spanView(t)
    val matched = matchExpr.map(m => sv.filter(coalesce(
        graft.expr.ExprLang.boolExpr(m, sv.columns.toSet), lit(false))))
      .getOrElse(sv)
    val attrs = graft.expr.ExprLang.expressionMap(specs, sv.columns.toSet)
    matched.groupBy(
        windowStart(col("ts"), interval).as("window_start"),
        to_json(map_from_entries(array_sort(map_entries(attrs))))
          .as("attrs_json"))
      .agg(count(lit(1)).as("span_count"))
  }
}
