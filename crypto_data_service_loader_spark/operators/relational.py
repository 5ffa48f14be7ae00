"""Relational EXT operators (SURVEY.md §2B): joins, aggs, windows, top-k,
set ops.

Scale notes baked into each operator:
- small-dimension joins broadcast explicitly (no shuffle of the fact table);
- large-large joins stay sort-merge with AQE skew splitting;
- aggregations rely on Catalyst's partial (map-side) aggregation — the
  operator only declares groupBy/agg;
- top-k is orderBy+limit so Spark plans TakeOrderedAndProject (no global
  sort materialization);
- cross-engine-verified money aggregates accumulate in DECIMAL then cast to
  DOUBLE: double summation order differs between engines/partitions, decimal
  accumulation is exact, the final decimal->double rounding is IEEE-identical
  everywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.windows import bounded_partition_key


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent exact sum, returned as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent mean: exact decimal sum / count, as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double") / F.count(c)


def broadcast_join(
    fact: DataFrame, dim: DataFrame, on: Sequence[str] | Column, how: str = "inner"
) -> DataFrame:
    """Broadcast-hash join: ships the dim to every executor, zero shuffle of
    the fact side. The right call whenever dim << executor memory (TPC-H
    nation/region/part at any SF)."""
    return fact.join(F.broadcast(dim), on, how)


def sortmerge_join(
    left: DataFrame, right: DataFrame, on: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Large-large join pinned to sort-merge (both sides shuffle on the key;
    AQE splits skewed partitions). Use when neither side broadcasts."""
    return left.hint("merge").join(right.hint("merge"), on, how)


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """EXISTS — left rows with at least one match; right never duplicates
    output rows and only its join key is shuffled."""
    return left.join(right, on, "left_semi")


def top_k(df: DataFrame, order_col: str, k: int, ascending: bool = False) -> DataFrame:
    """Global top-k: planned as TakeOrderedAndProject — each partition keeps
    a k-row heap, driver merges; no full sort at any scale."""
    c = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    return df.orderBy(c).limit(k)


def top_k_per_group(
    df: DataFrame, group_cols: Sequence[str], order_col: str, k: int
) -> DataFrame:
    """Top-k per group via row_number window (one shuffle on the group key)."""
    w = Window.partitionBy(*group_cols).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    time_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Sessionization: a new session starts when the gap since the previous
    event of the same key exceeds the threshold. lag + conditional cumsum —
    one shuffle on the key, no UDF (the classic pattern; in streaming the
    same semantics come from F.session_window). Gaps are measured in
    microseconds, the timestamp's own precision: a whole-second cast would
    keep a 1800.5 s gap inside a 30-minute session."""
    w = Window.partitionBy(key_col).orderBy(time_col)
    us = F.unix_micros(F.col(time_col))
    gap = us - F.lag(us).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60 * 10**6), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bin_width_sec: int = 6 * 3600,
    how: str = "inner",
) -> DataFrame:
    """Interval containment join (`start <= ts < end`) without an equi key,
    rewritten to stay shuffle-partitionable at scale.

    The naive form is a nested-loop theta join — O(|L|·|R|) and a single
    task in Spark. Rewrite: each left row maps to its one time bin
    (`floor(epoch/width)`), each right interval explodes to the bins it
    overlaps (fan-out ≈ interval_len/width + 1), the bin equi-join
    co-locates candidates (hash/SMJ, AQE-eligible), and the exact
    timestamp predicate filters. Each (row, interval) candidate meets in
    exactly one bin — the row's own — so no post-dedup is needed.
    Pick `bin_width_sec` near the median interval length: wider bins cut
    the explode fan-out but widen candidate lists.

    `unix_timestamp` truncates to seconds; truncation only ever widens the
    covered-bin range (start rounds down, end's bin is kept), so bins
    over-cover and the exact predicate — evaluated on full-precision
    timestamps — stays correct.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"range_join does not support how={how!r}: the interval side is "
            "replicated once per covered bin, so right/full outer would emit "
            "unmatched interval rows multiple times"
        )
    lbin = F.floor(F.unix_timestamp(F.col(ts_col)) / bin_width_sec)
    rbins = F.sequence(
        F.floor(F.unix_timestamp(F.col(start_col)) / bin_width_sec),
        F.floor(F.unix_timestamp(F.col(end_col)) / bin_width_sec),
    )
    lb = left.withColumn("_bin", lbin)
    rb = right.withColumn("_bin", F.explode(rbins))
    out = lb.join(
        rb,
        (lb["_bin"] == rb["_bin"])
        & (F.col(ts_col) >= F.col(start_col))
        & (F.col(ts_col) < F.col(end_col)),
        how,
    )
    return out.drop(lb["_bin"]).drop(rb["_bin"])


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (hot) left key into `salt`
    sub-keys and replicate the right side once per salt value.

    Use when one key dominates (power-law corpora) and AQE skew splitting
    isn't available/enough. Cost: right side × salt — keep for
    moderate-size right sides. Columns are preserved; the salt is internal.

    Only inner/left-flavored joins: the right side is replicated per salt,
    so right/full-outer would emit unmatched right rows `salt` times.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"salted_join does not support how={how!r}: "
                         "right-side replication breaks right/full outer")
    l = left.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l.join(r, [on, "_salt"], how).drop("_salt")


def zscore_outliers(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    z_threshold: float = 2.5,
) -> DataFrame:
    """Per-group z-score outlier flags: |z| >= threshold vs the group's own
    mean/stddev — the standard distributional data-validation gate (flag
    anomalous metric values per series before they poison downstream aggs).

    Group moments come from exact decimal sums (the q_agg_stats trick:
    decimal addition is associative, so the result is independent of
    partition merge order — the double formula var=(ssq-s²/n)/(n-1) then
    evaluates identically everywhere). Stats are one partial-aggregated
    groupBy over the keys (tiny), broadcast back onto the scan — the fact
    table is read once and never shuffled.
    """
    s = F.sum(F.col(value_col).cast("decimal(38,6)")).cast("double")
    ssq = F.sum(
        (F.col(value_col) * F.col(value_col)).cast("decimal(38,12)")
    ).cast("double")
    n = F.count(value_col)
    var = (ssq - s * s / n) / (n - 1)
    # degenerate groups (n == 1: no sample stddev; zero variance: z is
    # undefined) get _std = null -> z = null, is_outlier = false — a
    # single-member series is never "anomalous vs itself"
    stats = df.groupBy(key_col).agg(
        (s / n).alias("_mean"),
        F.when(n > 1, F.sqrt(var)).alias("_std"),
    )
    z = F.when(
        F.col("_std") > 0,
        F.round((F.col(value_col) - F.col("_mean")) / F.col("_std"), 6),
    )
    return (
        df.join(F.broadcast(stats), [key_col])
        .select(
            id_col,
            key_col,
            value_col,
            z.alias("z"),
            F.coalesce(F.abs(z) >= z_threshold, F.lit(False)).alias(
                "is_outlier"
            ),
        )
    )


def funnel(
    df: DataFrame,
    stages: Sequence[str] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis: how far each user progresses through the
    stage sequence, where stage k+1 only counts if it happens strictly
    AFTER the user's first qualifying stage-k event.

    One shuffle total: chained full-frame window minimums over the same
    user partitioning (each stage's first-time refers to the previous
    stage's column — Catalyst plans all of them after a single exchange),
    then a per-user rollup. No self-joins — the classic k-way-join funnel
    formulation shuffles the fact k times; this shuffles it once.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col)
    out = df
    prev: str | None = None
    for i, stage in enumerate(stages):
        cond = F.col(type_col) == stage
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        col = f"_t{i}"
        out = out.withColumn(col, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = col
    stage_expr = F.lit(0)
    for i in range(len(stages)):
        stage_expr = F.when(F.col(f"_t{i}").isNotNull(), i + 1).otherwise(
            stage_expr
        )
    # evaluate deepest stage first: _t{i} non-null implies all earlier
    agg_cols = [F.max(f"_t{i}").alias(f"_t{i}") for i in range(len(stages))]
    rolled = out.groupBy(user_col).agg(*agg_cols)
    return rolled.select(
        user_col,
        *[
            F.col(f"_t{i}").isNotNull().alias(f"reached_{s}")
            for i, s in enumerate(stages)
        ],
        stage_expr.cast("int").alias("funnel_stage"),
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: users grouped by first-activity date; for each
    (cohort_date, day_offset) the count of cohort members active that day.

    Two narrow shuffles (first-day agg on user, final agg on cohort/offset)
    plus one user-keyed join — at scale both aggs are partial-combined and
    the join co-partitions on user_id. The activity set is de-duplicated to
    (user, day) before joining, so the join input is bounded by
    users x active-days, not raw events.
    """
    day = F.to_date(F.col(ts_col))
    first = df.groupBy(user_col).agg(F.min(day).alias("cohort_date"))
    active = df.select(F.col(user_col), day.alias("_day")).distinct()
    return (
        active.join(first, [user_col])
        .select(
            "cohort_date",
            F.datediff(F.col("_day"), F.col("cohort_date")).alias("day_offset"),
            F.col(user_col),
        )
        .groupBy("cohort_date", "day_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum deterministic sampling — the standard corpus rebalancing
    step (e.g. downweight a dominant source before training).

    Membership is a SEEDED id-hash gate (the `corpus_mix` technique with
    the seed folded into the multiplicative hash): keep a row iff
    (pmod(id + seed, 2^31) * KNUTH) mod 2^32 mod 1000 < fraction * 1000.
    Scan-local (no shuffle, no collect), identical on reruns by
    construction, different seeds draw genuinely different samples, and —
    unlike `sampleBy`'s engine-private Bernoulli RNG — the gate is plain
    integer arithmetic, so the DuckDB oracle reproduces it bit-for-bit.
    Stratum proportions hold to binomial-like tolerance because the Knuth
    hash spreads sequential ids uniformly (property-tested). For
    engine-RNG sampling semantics use `sample_stratified_bernoulli`.

    Id contract: `id_col` must cast to a 64-bit integer. The id is
    pre-reduced with pmod into [0, 2^31) BEFORE the multiply, so the gate
    never overflows int64 (max product (2^31-1) * KNUTH < 2^63) — any
    long id, including negative ones, gets a well-defined bucket on both
    engines. A non-numeric id casts to NULL and the row is dropped (a
    null bucket satisfies no threshold); pass a numeric surrogate for
    string keys. An empty `fractions` dict selects nothing.
    """
    from .training import _BUCKETS, _KNUTH

    if not fractions:
        return df.filter(F.lit(False))
    bucket = F.pmod(
        F.pmod(F.col(id_col).cast("long") + F.lit(int(seed)), F.lit(2**31))
        * F.lit(_KNUTH),
        F.lit(2**32),
    ) % F.lit(_BUCKETS)
    rate = None
    for stratum, frac in sorted(fractions.items()):
        thresh = int(max(0.0, min(1.0, float(frac))) * _BUCKETS)
        cond = F.col(strata_col) == stratum
        rate = F.when(cond, thresh) if rate is None else rate.when(cond, thresh)
    rate = rate.otherwise(0)
    return df.filter(bucket < rate)


def sample_reservoir(
    df: DataFrame,
    group_col: str,
    k: int,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fixed-SIZE per-group sample — the batch twin of
    reservoir sampling (`sample_stratified` draws a fixed RATE; dataset
    cards and eval pulls usually want "exactly k docs per source").

    Rows rank by a seeded multiplicative id hash within their group
    (id asc tie-break) and the first k win. Pure function of (id, seed):
    rerun-stable, engine-portable (the DuckDB oracle replays the same
    integer arithmetic), and growing the corpus only ever displaces
    ranks — no RNG state. Same id contract as `sample_stratified`
    (pmod pre-reduction, int64-safe for any long id; non-numeric ids
    rank last as null). One window shuffle on the group key; emits
    `sample_rank` (1..k).
    """
    from .training import _KNUTH

    h = F.pmod(
        F.pmod(F.col(id_col).cast("long") + F.lit(int(seed)), F.lit(2**31))
        * F.lit(_KNUTH),
        F.lit(2**32),
    )
    w = Window.partitionBy(group_col).orderBy(
        h.asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= int(k))
    )


def sample_stratified_bernoulli(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (`sampleBy`): deterministic per
    (seed, row) within an engine but not across engines — kept for callers
    who want Spark's native sampling RNG; the hash-gated
    `sample_stratified` is the oracle-exact default."""
    return df.sampleBy(strata_col, fractions, seed)


def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """UNION ALL by name — no shuffle, pure concatenation of partitions."""
    return a.unionByName(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT ALL (bag difference)."""
    return a.exceptAll(b)


def intersect_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT (set semantics)."""
    return a.intersect(b)


def scd2_history(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    attr_cols: list[str],
    ts_col: str | None = None,
) -> DataFrame:
    """Derive SCD-type-2 version history from an event/change stream: per
    key, consecutive rows with identical tracked attributes collapse into
    one version row with [valid_from, valid_to) validity, a version
    number, and an is_current flag (valid_to null). The
    warehouse-standard way to turn an append-only change log into a
    point-in-time dimension — the generalization of this repo's registry
    status log (latest-wins compaction is SCD1; this keeps the history).

    `order_cols` must totally order each key's timeline (e.g. [ts,
    event_id]) or version boundaries are nondeterministic; `ts_col`
    (default order_cols[0]) supplies the validity timestamps. Change
    detection is null-safe (a NULL attribute is a value, not a wildcard).

    One shuffle on the key; three window passes (lag-compare, lead, and
    row_number) share the same sorted partition — no re-exchange.
    """
    if not order_cols:
        raise ValueError("order_cols must totally order each key's timeline")
    if not attr_cols:
        raise ValueError("attr_cols must name the tracked attributes")
    ts_col = ts_col or order_cols[0]
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    changed = F.lit(False)
    for a in attr_cols:
        # null-safe inequality: NOT (a <=> lag(a))
        changed = changed | ~F.col(a).eqNullSafe(F.lag(F.col(a)).over(w))
    first = F.row_number().over(w) == 1
    versions = df.withColumn("_new_version", first | changed).filter(
        F.col("_new_version")
    )
    wv = Window.partitionBy(key_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    return versions.select(
        F.col(key_col),
        *[F.col(a) for a in attr_cols],
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(wv).alias("valid_to"),
        F.row_number().over(wv).cast("int").alias("version"),
        F.lead(F.col(ts_col)).over(wv).isNull().alias("is_current"),
    )


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key_col: str,
    attr_cols: list[str],
    ts_col: str,
    change_order_cols: list[str] | None = None,
) -> DataFrame:
    """Incrementally apply a change batch to an existing SCD2 dimension
    (the output of `scd2_history`): affected current rows close, new
    versions append — touching ONLY the keys present in the batch. The
    merge-increment a 100-TB dimension needs: a full rebuild re-shuffles
    the entire history every batch; this prunes to the changed keys with
    one semi-join and passes every other key's rows through untouched
    (anti-join, no window).

    Per affected key the stored versions are folded back into change
    events (one per version, at its `valid_from`, ordered by version)
    and re-derived together with the batch — the SCD2 invariant
    (consecutive versions differ) makes that fold exact, so the result
    EQUALS `scd2_history` on the full event union (equality-tested).
    Version numbers for affected keys renumber from 1, exactly as a full
    rebuild would.

    Contracts: `dim` must satisfy SCD2 invariants (the `scd2_history`
    output does); `ts_col` names the change batch's event timestamp; the
    combined (key, timestamp) timeline should be unique per key — a new
    change co-timestamped with a stored version orders AFTER it
    (documented tie semantic, the only case where apply and full rebuild
    can disagree, because the rebuild interleaves by the original
    order_cols the dimension no longer carries). `change_order_cols`
    tie-breaks same-timestamp rows WITHIN the batch (late-arriving data
    is handled: a batch row older than the key's current version slots
    into place, because the affected key's whole timeline re-derives).

    Scale shape: distinct-keys agg on the (small) batch, one semi- and
    one anti-join on the key (AQE broadcasts the key set when small),
    and the three-window re-derive runs only over affected keys' rows.
    """
    ckeys = changes.select(key_col).distinct()
    untouched = dim.join(ckeys, [key_col], "left_anti")
    affected = dim.join(ckeys, [key_col], "left_semi")
    old_ev = affected.select(
        F.col(key_col),
        *[F.col(a) for a in attr_cols],
        F.col("valid_from").alias("_ts"),
        F.lit(0).alias("_src"),
        F.col("version").cast("long").alias("_seq"),
    )
    if change_order_cols:
        wb = Window.partitionBy(key_col).orderBy(
            *[F.col(c).asc() for c in change_order_cols]
        )
        new_seq = F.row_number().over(wb).cast("long")
    else:
        new_seq = F.lit(0).cast("long")
    new_ev = changes.select(
        F.col(key_col),
        *[F.col(a) for a in attr_cols],
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_src"),
        new_seq.alias("_seq"),
    )
    rebuilt = scd2_history(
        old_ev.unionByName(new_ev),
        key_col,
        order_cols=["_ts", "_src", "_seq"],
        attr_cols=attr_cols,
        ts_col="_ts",
    )
    return untouched.unionByName(rebuilt)


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot reconciliation: classify every key across two dataset
    versions as added / removed / changed (unchanged rows are dropped —
    at 100 TB the diff is the output you can afford to look at). The
    release-to-release audit step every dataset card needs ("what moved
    since v1"), and the verification side of any migration.

    One full-outer join on the key (sort-merge, AQE-eligible); change
    detection is null-safe per compared column (NULL is a value). Emits
    the key columns, change_type, and each compared column's old/new
    pair (old_<c>, new_<c>) so the diff is actionable without a second
    lookup join.
    """
    o = old.select(
        *[F.col(c) for c in key_cols],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(c) for c in key_cols],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(True).alias("_in_new"),
    )
    joined = o.join(n, key_cols, "full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change_type = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(changed, "changed")
    )
    return (
        joined.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            *[c for cc in compare_cols for c in (f"old_{cc}", f"new_{cc}")],
        )
    )


def rolling_corr(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    x_col: str,
    y_col: str,
    window: int = 20,
) -> DataFrame:
    """Trailing-window Pearson correlation per key — the co-movement
    monitor quant pipelines run beside EWMA/VWAP (does quantity still
    track price over the last N ticks?). Appends `rolling_corr` to every
    row from the five decimal-accumulated moments over a ROWS frame
    (built-in corr() over a window accumulates doubles in frame order —
    fine — but partition merge order bites its partial aggregates;
    decimal sums make the result engine-exact). Degenerate windows
    (n < 2 or zero variance on either side) yield NULL via explicit
    guards (Spark div-by-zero NULL vs DuckDB inf).

    One shuffle on the key; all five moments share a single sorted
    window pass. The frame is row-bounded, so state per position is
    O(1) — safe for arbitrarily long keys.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(int(window) - 1), 0)
    )
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(x.cast("decimal(38,6)")).over(w).cast("double")
    sy = F.sum(y.cast("decimal(38,6)")).over(w).cast("double")
    sxy = F.sum((x * y).cast("decimal(38,10)")).over(w).cast("double")
    sxx = F.sum((x * x).cast("decimal(38,10)")).over(w).cast("double")
    syy = F.sum((y * y).cast("decimal(38,10)")).over(w).cast("double")
    dxx = n * sxx - sx * sx
    dyy = n * syy - sy * sy
    dxy = n * sxy - sx * sy
    corr = F.when(
        (n >= 2) & (dxx > 0) & (dyy > 0),
        dxy / (F.sqrt(dxx) * F.sqrt(dyy)),
    )
    # + 0.0 maps IEEE -0.0 to +0.0 (cross-engine comparators
    # distinguish the signs; fuzzer-found class)
    return df.withColumn("rolling_corr", F.round(corr, 6) + F.lit(0.0))


def sample_pps(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
    n_buckets: int = 64,
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling: lay the
    items on a line in deterministic hash order, each occupying a
    segment of length = its (integer) weight, then pick the k items
    whose segments contain the k evenly-spaced grid points
    offset + j * (W / k). An item's inclusion probability is exactly
    k * w / W; items heavier than the stride W/k are picked multiple
    times — `multiplicity` records how often (so Σ multiplicity == k
    whenever some weight is positive, tested). This is the classic
    token-budget-proportional corpus draw (pick k shards/documents
    proportional to token counts) without any RNG state.

    Exactness/portability: the usual u^(1/w) weighted draws (Efraimidis
    & Spirakis) need pow/log, whose last-ulp behavior differs per
    engine. Here EVERYTHING is int64: weights must be integers (scale
    fractional weights up-front), cumulative positions are exact sums,
    the grid test is multiplied through by k — multiplicity =
    floor((k*C - r + W)/W) - floor((k*(C-w) - r + W)/W) — and the
    offset r derives from md5(seed), so Spark, DuckDB, and a pocket
    calculator agree bit-for-bit.

    Scale shape: NO global-window prefix sum (the classic single-task
    trap). The hash order is (bucket, md5, id) with bucket = md5 % 64:
    per-bucket cumulative sums run in parallel window partitions, the
    64 bucket totals get a 64-row running offset, and a broadcast join
    stitches global positions — two bounded shuffles, one 64-row
    window. W itself is one scalar aggregate (bounded driver collect,
    same pattern as the IVF centroid pull).
    """
    import hashlib

    if n_buckets < 1 or 256 % n_buckets != 0:
        # bucket = (first 2 md5 hex chars: uniform over 0..255) % n_buckets
        # is uniform only when n_buckets divides 256
        raise ValueError(
            f"n_buckets must divide 256 for a uniform bucket draw, got {n_buckets}"
        )
    w = F.col(weight_col).cast("long")
    hx = F.md5(F.concat(F.lit(str(seed)), F.lit("|"), F.col(id_col).cast("string")))
    bucket = F.conv(F.substring(hx, 1, 2), 16, 10).cast("int") % n_buckets
    base = df.where(w > 0).select(
        "*", w.alias("_w"), hx.alias("_h"), bucket.alias("_b")
    )
    total = base.agg(F.sum("_w")).collect()[0][0]
    if not total:
        return df.select("*", F.lit(0).cast("long").alias("multiplicity")).limit(0)
    if (int(k) + 1) * int(total) >= 2**63:
        # the grid expression peaks at k*_c - r + W <= (k+1)*W, which must
        # stay inside int64 (ANSI Spark aborts the job mid-flight on the
        # wrap; non-ANSI engines corrupt the draw silently)
        raise ValueError(
            f"(k+1) * total_weight = {(int(k) + 1) * int(total)} overflows "
            "int64; rescale the integer weights (e.g. weight DIV 1024) first"
        )
    r = int(hashlib.md5(str(seed).encode()).hexdigest()[:12], 16) % int(total)

    win_intra = (
        Window.partitionBy("_b")
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = base.groupBy("_b").agg(F.sum("_w").alias("_tw"))
    offsets = totals.select(
        "_b",
        F.coalesce(
            F.sum("_tw").over(
                # per-bucket totals — bounded by the bucket count, not
                # the data; pinned single partition (r13 #8)
                Window.partitionBy(bounded_partition_key("_b"))
                .orderBy("_b")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ).alias("_off"),
    )
    cur = (
        base.withColumn("_cum_in", F.sum("_w").over(win_intra))
        .join(F.broadcast(offsets), "_b")
        .withColumn("_c", F.col("_off") + F.col("_cum_in"))
    )
    kk, ww, rr = int(k), int(total), int(r)
    mult = F.expr(
        f"(({kk} * _c - {rr} + {ww}) DIV {ww})"
        f" - (({kk} * (_c - _w) - {rr} + {ww}) DIV {ww})"
    )
    return (
        cur.withColumn("multiplicity", mult.cast("long"))
        .where(F.col("multiplicity") >= 1)
        .drop("_w", "_h", "_b", "_cum_in", "_off", "_c")
    )


def merge_grouped_sums(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Incremental aggregate maintenance: fold a delta batch of grouped
    partials into a persisted state of the same shape. Every non-key
    column must be an ADDITIVE partial (counts, DECIMAL sums, sums of
    squares) — then union + re-sum is exactly the merge step of
    distributed partial aggregation, and the result equals a full
    recompute over (history + delta) without rescanning history.

    The 100-TB contract: history is touched only through its
    aggregate (|keys| rows, not |rows|); each batch shuffles
    state + delta partials, both already key-sized. Persist the state
    bucketed by the keys (writer.bucketBy) and the groupBy reuses the
    bucketing instead of shuffling at all. Non-additive metrics (min /
    max / HLL registers) merge the same way with their own combiner —
    see operators/sketch.py for the mergeable-sketch variants.
    """
    if set(state.columns) != set(delta.columns):
        raise ValueError(
            f"state/delta schemas differ: {sorted(state.columns)} vs "
            f"{sorted(delta.columns)}"
        )
    u = state.unionByName(delta)
    aggs = [F.sum(c).alias(c) for c in u.columns if c not in keys]
    if not aggs:
        raise ValueError("no partial columns to merge (all columns are keys)")
    return u.groupBy(*keys).agg(*aggs)


def merge_intervals(
    df: DataFrame,
    key_cols: Sequence[str],
    start_col: str,
    end_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Gaps-and-islands: collapse overlapping/touching [start, end)
    intervals per key into maximal islands — validity-period merging,
    sensor-uptime coverage, calendar consolidation (the classic SQL
    islands problem, solved the classic way).

    Technique: order intervals by (start, end, tiebreaks); an interval
    starts a NEW island iff its start lies strictly after the running
    max of all previous ends (so touching intervals, start == prev end,
    merge); the island id is the running count of starts, and one
    groupBy collapses each island. Two window passes + one aggregation,
    all on the same (key, start) ordering — one shuffle end-to-end.
    Returns (key..., island_start, island_end, n_intervals).

    At 100 TB: the window partitions by key, so per-key interval counts
    bound task memory (same contract as sessionize — a single key with
    billions of intervals would need pre-splitting by coarse time range
    first; islands crossing the split then merge in a second, much
    smaller pass over the per-range results)."""
    keys = list(key_cols)
    order = [F.col(start_col), F.col(end_col),
             *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(*keys).orderBy(*order)
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end)
    ).cast("int")
    island = F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.select(*keys, start_col, end_col,
                  *[c for c in tiebreak_cols if c not in keys])
        .withColumn("_island", island)
        .groupBy(*keys, "_island")
        .agg(
            F.min(start_col).alias("island_start"),
            F.max(end_col).alias("island_end"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .drop("_island")
    )


def vwap_bars(
    df: DataFrame,
    key_cols: Sequence[str] = ("l_returnflag",),
    ts_col: str = "l_shipdate",
    price_col: str = "l_extendedprice",
    qty_col: str = "l_quantity",
    bar: str = "month",
) -> DataFrame:
    """Volume-weighted average price per (key..., bar). Both the weighted
    sum and the weight accumulate in DECIMAL(38,6) (order-independent),
    the division is a single double op; a zero-volume bar yields NULL
    (ANSI Spark aborts on the raw 0/0, DuckDB yields NaN — lineitem
    fuzzer catch, round 8). One shuffle with map-side partials. Returns
    (key..., bar_start, vwap, volume, n_trades). Factored out of the
    registered q_vwap_bars (round 11) so the streaming twin pins against
    the same batch operator on any input."""
    keys = list(key_cols)
    num = F.sum(
        (F.col(price_col) * F.col(qty_col)).cast("decimal(38,6)")
    ).cast("double")
    den = F.sum(F.col(qty_col).cast("decimal(38,6)")).cast("double")
    return df.groupBy(
        *keys, F.date_trunc(bar, ts_col).alias("bar_start")
    ).agg(
        F.when(den > 0, F.round(num / den, 6)).alias("vwap"),
        dsum(qty_col).alias("volume"),
        F.count(F.lit(1)).alias("n_trades"),
    )


def ohlc_bars(
    df: DataFrame,
    key_cols: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    bar: str = "hour",
) -> DataFrame:
    """OHLC downsampling per (key..., bar): open/close = first/last value
    by (ts, id) (composite key makes ties impossible), high/low, exact
    decimal volume, tick count. One shuffle, map-side partials. Returns
    (key..., bar_start, open, high, low, close, volume, n_ticks).
    Factored out of the registered q_ohlc_bars (round 11) so the
    streaming twin pins against the same batch operator on any input."""
    okey = F.struct(F.col(ts_col), F.col(id_col))
    return df.groupBy(
        F.col(key_cols[0]).alias("series"),
        *[F.col(k) for k in key_cols[1:]],
        F.date_trunc(bar, ts_col).alias("bar_start"),
    ).agg(
        F.min_by(value_col, okey).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(value_col, okey).alias("close"),
        dsum(value_col).alias("volume"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


def twap_bars(
    events: DataFrame,
    key_cols: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
    bar: str = "hour",
) -> DataFrame:
    """Time-weighted average value per (key..., bar) — TWAP: each
    observation's value holds from its timestamp to the next observation
    in the bar (the last holds to bar end). Weights are EXACT microsecond
    integers (unix_micros), the weighted sum accumulates in
    DECIMAL(38,6), the division is one double op. One window pass + one
    grouped aggregation on the same (key, bar) partitioning: two
    shuffles end to end. Returns (key..., bar_start, twap, held_us,
    n_obs). Factored out of the registered q_twap_bars so the streaming
    twin (streaming/stateful.start_twap_stream) pins against the same
    batch operator on any input."""
    keys = list(key_cols)
    bar_col = F.date_trunc(bar, ts_col)
    base = events.select(
        *keys, order_tiebreak, value_col,
        bar_col.alias("bar_start"),
        F.unix_micros(ts_col).alias("_us"),
        F.unix_micros(bar_col + F.expr(f"INTERVAL 1 {bar}")).alias("_end_us"),
    )
    w = Window.partitionBy(*keys, "bar_start").orderBy("_us", order_tiebreak)
    dt = (F.coalesce(F.lead("_us").over(w), F.col("_end_us")) - F.col("_us"))
    num = F.sum(
        (F.col(value_col) * F.col("_dt")).cast("decimal(38,6)")
    ).cast("double")
    den = F.sum("_dt")  # exact int64 microseconds
    return (
        base.withColumn("_dt", dt)
        .groupBy(*keys, "bar_start")
        .agg(
            F.when(den > 0, F.round(num / den.cast("double"), 6)).alias("twap"),
            den.alias("held_us"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


def interval_gaps(
    df: DataFrame,
    key_cols: Sequence[str],
    start_col: str,
    end_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """The islands' complement: per key, the GAPS between consecutive
    merged intervals — downtime windows, coverage holes, missing
    validity ranges. One lead() over the (already tiny) islands table,
    so the marginal cost over merge_intervals is nil.
    Returns (key..., gap_start, gap_end, gap_secs)."""
    keys = list(key_cols)
    islands = merge_intervals(df, keys, start_col, end_col, tiebreak_cols)
    w = Window.partitionBy(*keys).orderBy("island_start")
    nxt = F.lead("island_start").over(w)
    return (
        islands.select(
            *keys,
            F.col("island_end").alias("gap_start"),
            nxt.alias("gap_end"),
        )
        .where(F.col("gap_end").isNotNull())
        .withColumn(
            "gap_secs",
            (
                F.unix_timestamp("gap_end") - F.unix_timestamp("gap_start")
            ).cast("long"),
        )
    )
