"""Aggregations (SURVEY.md §2.6 A1-A5).

Collector parity targets:

- obsreport receiver/exporter counters (obsreport/obsreport_receiver.go,
  obsreport_exporter.go ~approx): every receiver counts accepted records,
  every exporter counts sent records, tagged by component name.  Spark: hash
  aggregates with automatic partial (map-side) + final phases — the count
  never moves raw rows, only per-partition partials, so it scales linearly.
- batch processor size stats (processor/batchprocessor ~approx).
- prometheus exporter accumulator (exporter/prometheusexporter/accumulator.go
  ~approx): latest point per (metric, label-set) = max_by(value, ts).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def counts_by_source(df: DataFrame, source_col: str = "source", size_col: str | None = "n_tok") -> DataFrame:
    """Receiver-side accepted counts (…_accepted_spans analog)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if size_col is not None and size_col in df.columns:
        aggs.append(F.sum(F.col(size_col)).alias(f"{size_col}_sum"))
    return df.groupBy(source_col).agg(*aggs)


def counts_by_sink(tagged: DataFrame, sink_col: str = "sink", size_col: str | None = "n_tok") -> DataFrame:
    """Exporter-side sent counts (…_sent_spans analog) over the tagged frame."""
    return counts_by_source(tagged, sink_col, size_col)


def rollup_counts(df: DataFrame, keys: list[str]) -> DataFrame:
    """Engine extension (SURVEY.md §2.6): per-key subtotals + grand total via
    ROLLUP — free in Spark, absent in the reference."""
    return df.rollup(*keys).agg(F.count(F.lit(1)).alias("n_rows"))


def latest_by_key(
    df: DataFrame, keys: list[str], ts_col: str, value_col: str, tiebreak: str | None = None
) -> DataFrame:
    """Prometheus-accumulator latest-wins: the value of the max-(ts, tiebreak)
    row per key.  Window row_number (not max_by) so ties are deterministic."""
    order = [F.col(ts_col).desc()] + ([F.col(tiebreak).desc()] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, F.col(ts_col).alias("latest_ts"), F.col(value_col).alias("latest_value"))
    )


def batch_size_stats(
    df: DataFrame, id_col: str, batch_size: int = 8192, value_col: str | None = None
) -> DataFrame:
    """Batch-processor observability: per-batch row counts + value stats.

    The reference accumulates until send_batch_size (default 8192) then
    ships; batch membership here is id-range bucketing (floor(id/size)), the
    deterministic batch analog.
    """
    batch = F.floor(F.col(id_col).cast("long") / F.lit(batch_size)).alias("batch_id")
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 4).alias("value_sum"))
    return df.groupBy(batch).agg(*aggs)


def approx_distinct_audit(
    df: DataFrame,
    key: str,
    value_col: str,
    rsd: float = 0.02,
    tolerance: float = 0.05,
) -> DataFrame:
    """Sketch-accuracy contract for the 100 TB scale path: per *key*, the
    exact distinct count next to a boolean asserting the HyperLogLog++
    estimate (`approx_count_distinct`, mergeable, one pass, O(1) state)
    lands within *tolerance* of it.  At scale the exact form is the one you
    drop; this audit keeps the sketch honest in the gate — if the estimate
    drifts out of tolerance the value-hash mismatches and the gate goes red."""
    exact = F.countDistinct(value_col)
    approx = F.approx_count_distinct(value_col, rsd)
    ok = (F.abs(approx - exact) <= F.lit(tolerance) * exact)
    # 0/1 instead of boolean: renders identically in every engine the gate
    # compares through (DuckDB bool vs Spark boolean dtype names differ)
    return df.groupBy(key).agg(
        exact.alias("n_exact"),
        ok.cast("bigint").alias("sketch_ok"),
    )


def approx_quantile_audit(
    df: DataFrame,
    key: str,
    value_col: str,
    qs: list[float],
    accuracy: int = 10000,
    tolerance: float = 0.10,
) -> DataFrame:
    """Same contract for quantile sketches: exact interpolated percentiles
    per *key* plus booleans asserting `percentile_approx` (KLL-style
    mergeable sketch) lands within relative *tolerance* of each.  The exact
    percentile is what the oracle reproduces (quantile_cont); the sketch is
    what a 100 TB run would actually execute.  Tolerance default is 10%:
    percentile_approx returns a real data point (nearest rank) while the
    exact form interpolates, and at gate-scale group sizes (~25 rows) that
    discretization gap alone measures up to ~7% — at scale both converge
    and the slack is all sketch-error headroom."""
    aggs = []
    for q in qs:
        tag = str(q).replace(".", "_")
        exact = F.percentile(value_col, F.lit(q))
        approx = F.percentile_approx(value_col, F.lit(q), F.lit(accuracy))
        aggs.append(F.round(exact, 4).alias(f"p{tag}"))
        aggs.append(
            (F.abs(approx - exact) <= F.lit(tolerance) * F.abs(exact))
            .cast("bigint").alias(f"ok_p{tag}")
        )
    return df.groupBy(key).agg(*aggs)


def funnel_steps(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered-funnel conversion over an event stream: a user reaches step
    *i* when an event of ``steps[i]`` occurs at-or-after their earliest
    completion of step *i−1* (ties allowed — same-timestamp events count).
    The per-step reach counts and step-over-step conversion rates are the
    product-analytics shape a telemetry pipeline feeds (signup → activate →
    convert), and the per-edge analog of the servicegraph connector's
    client→server pairing.

    Scale shape: step 0 is one map-side-combinable conditional-min
    aggregate; each later step is the event stream filtered to ONE type,
    equi-joined on the uniform user key to the (user, t_prev) frame
    (#reached-users rows, shrinking monotonically per step), then min-
    aggregated again.  Per step: one filtered scan + one user-keyed shuffle
    of pre-aggregated rows — no window over the raw stream, no skew (user
    keys are uniform).  The final frame is #steps rows; the lag() for
    conversion rates runs on that scalar-sized frame only.

    Returns (step_idx, step, n_users, conv_from_prev)."""
    reached = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col).alias("_u"))
        .agg(F.min(ts_col).alias("_t"))
    )
    counts = [
        reached.agg(
            F.lit(0).cast("bigint").alias("step_idx"),
            F.lit(steps[0]).alias("step"),
            F.count(F.lit(1)).alias("n_users"),
        )
    ]
    for i, s in enumerate(steps[1:], 1):
        ev = df.filter(F.col(type_col) == s).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
        )
        reached = (
            ev.join(reached, "_u")
            .filter(F.col("_ts") >= F.col("_t"))
            .groupBy("_u")
            .agg(F.min("_ts").alias("_t"))
        )
        counts.append(
            reached.agg(
                F.lit(i).cast("bigint").alias("step_idx"),
                F.lit(s).alias("step"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    w = Window.orderBy("step_idx")  # #steps rows — bounded by config
    return out.select(
        "step_idx",
        "step",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.lag("n_users").over(w), 6
        ).alias("conv_from_prev"),
    )


def cohort_retention(df: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Weekly cohort-retention matrix: users are cohorted by the epoch-week
    of their first event (floor(epoch_seconds / 604800) — calendar-agnostic,
    so every engine agrees on boundaries without week-anchor conventions),
    and each (cohort, week_offset) cell counts users from that cohort active
    that week, with retention relative to the cohort's week-0 size.

    Scale shape: two map-side-combinable aggregates over the stream (first-
    week per user; distinct (user, week) pairs), one equi-join on the
    uniform user key, then a (cohort, offset) hash aggregate — cells =
    #cohorts × #weeks, tiny.  The week-0 denominator is a window over that
    cell table only.

    Returns (cohort_week, week_offset, n_active, retention)."""
    wk = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
        / F.lit(604_800_000_000)
    )
    ev = df.select(F.col(user_col).alias("_u"), wk.alias("_wk")).distinct()
    first = ev.groupBy("_u").agg(F.min("_wk").alias("cohort_week"))
    cells = (
        ev.join(first, "_u")
        .groupBy("cohort_week", (F.col("_wk") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    return cells.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(
            F.col("n_active").cast("double") / F.first("n_active").over(w), 6
        ).alias("retention"),
    )


def mad_outlier_audit(
    df: DataFrame, key: str, value_col: str, k_sigma: float = 3.0
) -> DataFrame:
    """Robust outlier audit per *key*: median / MAD (median absolute
    deviation, consistency constant 1.4826) and the count of values beyond
    ``k_sigma`` robust sigmas — the heavy-tail-safe complement to the
    z-score burst detector (a mean/stddev scorer is dragged by the very
    outliers it should flag; the median/MAD pair is 50 %-breakdown robust).

    Plan: three passes over the column — median per key, deviation vs a
    broadcast #keys-row median table, MAD per key, then the outlier count
    against a second broadcast — all hash aggregates and broadcast joins;
    nothing wider than (key, value) ever shuffles.  The medians are EXACT
    interpolated percentiles so the DuckDB oracle reproduces them
    bit-for-bit; exact percentile buffers each group's values on one task,
    so a 100 TB run swaps in ``percentile_approx`` exactly as
    ``approx_quantile_audit`` demonstrates (same API, sketch-mergeable) —
    the audit that validates that swap is that operator's job.

    Returns (key, n, med, mad, n_outliers, outlier_rate)."""
    med = df.groupBy(key).agg(F.percentile(value_col, F.lit(0.5)).alias("_med"))
    dev = df.join(F.broadcast(med), key).select(
        key, "_med", F.abs(F.col(value_col) - F.col("_med")).alias("_dev")
    )
    mad = dev.groupBy(key).agg(F.percentile("_dev", F.lit(0.5)).alias("_mad"))
    thr = F.lit(k_sigma) * F.lit(1.4826) * F.col("_mad")
    out = F.sum(F.when(F.col("_dev") > thr, 1).otherwise(0))
    return (
        dev.join(F.broadcast(mad), key)
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("_med"), 6).alias("med"),
            F.round(F.min("_mad"), 6).alias("mad"),
            out.alias("n_outliers"),
            F.round(out.cast("double") / F.count(F.lit(1)), 6).alias("outlier_rate"),
        )
    )


def transition_matrix(
    df: DataFrame, user_col: str, ts_col: str, type_col: str, tiebreak: str
) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    counts and row-normalized probabilities of (previous type → current
    type) — the event-stream analog of a token bigram LM, the prior behind
    next-event prediction and the funnel's unordered complement.

    Scale shape: the lag runs per user (uniform key; a user's events sort
    within one task — the same accepted window as the servicegraph
    parent pairing); the counts aggregate is map-side combinable down to
    #types² rows, and the row normalization joins two #types-sized frames.

    Returns (prev, cur, n, p)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak)
    pairs = df.select(
        F.lag(type_col).over(w).alias("prev"), F.col(type_col).alias("cur")
    ).filter(F.col("prev").isNotNull())
    counts = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("prev").agg(F.sum("n").alias("_tot"))
    return counts.join(F.broadcast(totals), "prev").select(
        "prev",
        "cur",
        "n",
        F.round(F.col("n").cast("double") / F.col("_tot"), 6).alias("p"),
    )


def key_skew_audit(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Hot-key skew audit via the count-of-counts histogram — the diagnostic
    run BEFORE any ``key_col``-keyed shuffle at 100 TB (a user/tenant whose
    row count dwarfs the median pins one reducer; this table says whether
    salting or an AQE skew hint is needed, per ``group_col``).

    Scale shape: two cascaded hash aggregates, both map-side combinable —
    (group, key) → c, then (group, c) → #keys-at-c.  The second output (the
    histogram) is bounded by the number of DISTINCT per-key counts, not by
    the number of keys, so the window pass that extracts quantiles runs over
    a table that stays tiny no matter how many keys exist.  Discrete lower
    quantiles (smallest c whose cumulative key coverage reaches q) are exact
    and oracle-reproducible — no value-list collection anywhere.

    Returns (group, n_keys, n_rows, p50_c, p90_c, p99_c, max_c, max_share).
    """
    per_key = df.groupBy(group_col, key_col).agg(F.count(F.lit(1)).alias("c"))
    hist = per_key.groupBy(group_col, "c").agg(F.count(F.lit(1)).alias("u"))
    cum = Window.partitionBy(group_col).orderBy("c")
    tot = Window.partitionBy(group_col)
    h2 = (
        hist.withColumn("cum_u", F.sum("u").over(cum))
        .withColumn("n_keys", F.sum("u").over(tot))
        .withColumn("n_rows", F.sum(F.col("c") * F.col("u")).over(tot))
    )

    def _q_at(p: float):
        return F.min(
            F.when(
                F.col("cum_u") >= F.ceil(F.lit(p) * F.col("n_keys")), F.col("c")
            )
        )

    return (
        h2.groupBy(group_col)
        .agg(
            F.max("n_keys").alias("n_keys"),
            F.max("n_rows").alias("n_rows"),
            _q_at(0.5).alias("p50_c"),
            _q_at(0.9).alias("p90_c"),
            _q_at(0.99).alias("p99_c"),
            F.max("c").alias("max_c"),
        )
        .withColumn(
            "max_share",
            F.round(F.col("max_c").cast("double") / F.col("n_rows"), 6),
        )
    )


def funnel_latencies(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Time-to-convert per funnel edge: for every user who completes step
    *i* (earliest step-*i* event at-or-after their earliest step-(i−1)
    completion — the same reach semantics as :func:`funnel_steps`), the
    latency t_i − t_{i−1}; reported per edge as count + exact p50/p90 +
    mean seconds.  The latency half of the funnel report — reach says HOW
    MANY convert, this says HOW FAST.

    Scale shape: identical join/min ladder to funnel_steps (per step one
    filtered scan + one uniform user-keyed shuffle of pre-aggregated
    rows); the percentile aggregate runs over the per-user EDGE frame
    (#converting-users rows, shrinking per step).  Exact interpolated
    percentiles for oracle parity — at 100 TB swap percentile →
    percentile_approx exactly as len_quantiles_by_source documents.
    Timestamps go through unix_micros over an ltz cast (NTZ-safe, session
    TZ pinned UTC) so the DuckDB epoch_us replay is integer-exact.

    Returns (edge_idx, edge, n_users, p50_s, p90_s, avg_s)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    ev = df.select(
        F.col(user_col).alias("_u"), F.col(type_col).alias("_e"), us.alias("_us")
    )
    reached = (
        ev.filter(F.col("_e") == steps[0]).groupBy("_u").agg(F.min("_us").alias("_t"))
    )
    edges = []
    for i, s in enumerate(steps[1:], 1):
        nxt = (
            ev.filter(F.col("_e") == s)
            .join(reached, "_u")
            .filter(F.col("_us") >= F.col("_t"))
            .groupBy("_u")
            # _t is constant per user in the joined frame: min() just carries it
            .agg(F.min("_us").alias("_t2"), F.min("_t").alias("_tp"))
        )
        lat = (F.col("_t2") - F.col("_tp")) / F.lit(1e6)
        edges.append(
            nxt.select(lat.alias("_lat")).agg(
                F.lit(i).cast("bigint").alias("edge_idx"),
                F.lit(f"{steps[i - 1]}->{s}").alias("edge"),
                F.count(F.lit(1)).alias("n_users"),
                F.round(F.percentile("_lat", F.lit(0.5)), 3).alias("p50_s"),
                F.round(F.percentile("_lat", F.lit(0.9)), 3).alias("p90_s"),
                F.round(F.avg("_lat"), 3).alias("avg_s"),
            )
        )
        reached = nxt.select("_u", F.col("_t2").alias("_t"))
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


def cooccurrence_lift(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Market-basket co-occurrence with lift over (basket, item) pairs:
    for every unordered item pair, the number of baskets containing BOTH
    and lift = P(a∧b)/(P(a)·P(b)) — the unordered complement to
    :func:`transition_matrix` (which orders by time).  Lift > 1 = the
    event types travel together across users; the signal behind alert
    correlation and "users who did X also did Y".

    Scale shape: after ``distinct (basket, item)`` an item's multiplicity
    per basket is 1, so the per-basket self-join fans out ≤ #items² per
    basket no matter how active the basket — the same bounded-fan-out
    argument as source_fingerprint_overlap.  Marginals are an #items-row
    broadcast; the basket total is the 1-row broadcast scalar.

    Returns (item_a, item_b, n_both, lift)."""
    d = df.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    pairs = (
        d.alias("x")
        .join(d.alias("y"), "_b")
        .filter(F.col("x._i") < F.col("y._i"))
        .select(F.col("x._i").alias("item_a"), F.col("y._i").alias("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    marg = d.groupBy(F.col("_i")).agg(F.count(F.lit(1)).alias("_n"))
    total = d.select("_b").distinct().agg(F.count(F.lit(1)).alias("_nb"))
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("_i").alias("item_a"), F.col("_n").alias("_na"))),
            "item_a",
        )
        .join(
            F.broadcast(marg.select(F.col("_i").alias("item_b"), F.col("_n").alias("_nc"))),
            "item_b",
        )
        .join(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double") * F.col("_nb")
                / (F.col("_na") * F.col("_nc")),
                6,
            ).alias("lift"),
        )
    )


def hourly_profile(df: DataFrame, group_col: str, ts_col: str) -> DataFrame:
    """Hour-of-day seasonality profile per group: total volume, the peak
    hour (smallest hour on ties — deterministic across engines, unlike
    arg_max), its share, and the χ² statistic against a uniform 24-hour
    profile — large χ² = strongly diurnal traffic (batch jobs, business
    hours), χ² ≈ 0 = flat (machine noise).  The seasonality complement to
    the trailing-window burst detector: bursts find anomalies, this finds
    the baseline shape they must be judged against.

    χ² folds algebraically to 24·Σc²/T − T (Σ(c−e)²/e with e = T/24 and
    the zero-count hours' contribution absorbed), so the whole statistic
    comes from the same (group, hour) count table — two cascaded map-side-
    combinable aggregates over ≤ 24 rows per group, plus an equi-join of
    two #groups-sized frames for the deterministic peak pick."""
    hc = df.groupBy(
        F.col(group_col), F.hour(F.col(ts_col)).alias("_h")
    ).agg(F.count(F.lit(1)).alias("_c"))
    agg1 = hc.groupBy(group_col).agg(
        F.sum("_c").alias("n"),
        F.max("_c").alias("_mx"),
        F.sum(F.col("_c").cast("double") * F.col("_c")).alias("_ss"),
    )
    peak = (
        hc.join(F.broadcast(agg1.select(group_col, "_mx")), group_col)
        .filter(F.col("_c") == F.col("_mx"))
        .groupBy(group_col)
        .agg(F.min("_h").alias("peak_hour"))
    )
    return (
        agg1.join(peak, group_col)
        .select(
            group_col,
            "n",
            "peak_hour",
            F.round(F.col("_mx").cast("double") / F.col("n"), 6).alias("peak_share"),
            F.round(
                F.lit(24.0) * F.col("_ss") / F.col("n") - F.col("n"), 4
            ).alias("chi2_uniform"),
        )
    )


def countmin_audit(
    df: DataFrame,
    text_col: str,
    depth: int = 4,
    width: int = 1024,
    k: int = 20,
) -> DataFrame:
    """Count-Min sketch (Cormode/Muthukrishnan 2005, public) with an
    exactness audit: build the d×w sketch over the corpus token stream,
    then report, for the k most frequent tokens, the exact count next to
    the sketch estimate and the (provably ≥ 0) overcount — the mergeable-
    sketch companion to the HLL and KLL audits (`approx_distinct_audit`,
    `approx_quantile_audit`), for the frequency side.

    Hash family: bucket_j(tok) = int(md5("j:" ++ tok)[:12 hex]) mod w —
    portable (md5 and hex→int exist in any engine), deterministic, and
    row-independent, so the whole audit value-checks exactly instead of
    through an ok-bit.

    Scale shape: cells[j][b] = Σ_{tok: h_j(tok)=b} freq(tok) is computed
    from the VOCAB table (one corpus explode → map-side-combinable token
    counts), which is mathematically identical to sketching the raw
    stream but shuffles vocabulary-sized rows, not corpus-sized; at
    100 TB the exact side disappears and the d×w cells build directly
    from the stream with ONE combinable aggregate (each executor holds a
    d×w integer grid — that is the entire point of the sketch).  The
    sketch table is d·w rows (4096 default) and broadcasts; the top-k
    probe frame is k·d rows.  The vocab frame is persisted (three
    consumers: d cell aggregates share it, plus the top-k cut) —
    caller-owned lifetime, same contract as the textstats vocab caches.

    Returns (tok, n_exact, n_est, overcount) with n_est ≥ n_exact always
    (CM never undercounts) and E[overcount] ≤ total_tokens/width."""
    toks = df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()

    def bucket(j: int, col):
        h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 12), 16, 10)
        return F.pmod(h.cast("bigint"), F.lit(width))

    cells = None
    for j in range(depth):
        cj = (
            vocab.groupBy(bucket(j, F.col("tok")).alias("b"))
            .agg(F.sum("c").alias("cell"))
            .withColumn("j", F.lit(j))
        )
        cells = cj if cells is None else cells.unionByName(cj)
    top = vocab.orderBy(F.desc("c"), F.asc("tok")).limit(k)
    probes = None
    for j in range(depth):
        pj = top.select(
            "tok", "c", F.lit(j).alias("j"), bucket(j, F.col("tok")).alias("b")
        )
        probes = pj if probes is None else probes.unionByName(pj)
    est = (
        cells.join(F.broadcast(probes), ["j", "b"])
        .groupBy("tok", "c")
        .agg(F.min("cell").alias("n_est"))
    )
    return est.select(
        "tok",
        F.col("c").alias("n_exact"),
        "n_est",
        (F.col("n_est") - F.col("c")).alias("overcount"),
    )
