"""GRETA trend aggregation — aggregate over ALL Kleene trend matches
WITHOUT enumerating them.

Reference: `.trend_aggregate(c: count_trends(), n: count_events(f), ...)`
(ast.rs:321-323,343-350) implemented by the GRETA dynamic program
(crates/varpulis-runtime/src/greta.rs:1-41, GretaAggregate greta.rs:238-252;
after Poppe et al., "GRETA: Graph-based Real-time Event Trend Aggregation",
VLDB'17). A trend is a match of `E+` under skip-till-any-match with an
optional adjacency predicate (e.g. rising: next.value > prev.value) and an
optional `within` span; the number of trends is exponential in the event
count, but per-event propagated counts give every aggregate in O(n²):

    cnt[i] = 1 + Σ_{j<i, adjacent(j,i)} cnt[j]       (trends ending at i)
    count_trends  = Σ cnt[i]
    count_events  = Σ_i cnt[i]·... — here: Σ over trends of trend length,
                    propagated as len_sum[i] = cnt[i] + Σ len_sum[j]
    sum_trends(f) = Σ over trends of Σ f(e), propagated the same way.

Spark lowering: per partition key the DP runs on the key's numpy column
slices under `partition_driver.apply_per_key` (one keyed shuffle, one sort
per partition); the event-type prefilter pushes into the scan, and the
shuffle is pinned at default parallelism (spread_keys) so AQE's size-based
coalescing can't serialize the CPU-bound stage. The DP itself is
vectorized:

- no predicate, no `within`  → closed form (every non-empty ordered subset
  is a trend): count = 2^n − 1, events = n·2^(n−1), Σf = (Σ f)·2^(n−1) —
  O(n), no loop at all.
- `within` only              → the j-window is a searchsorted slice;
  cnt[i] = 1 + cnt[lo:i].sum() — one numpy reduction per i.
- vectorized predicate       → `adjacent_vec(cols, i)` returns the bool
  mask over j < i; combined with the within slice, one masked reduction
  per i.
- row-callable `adjacent`    → per-pair fallback (API parity), still
  bounded to the within slice.

Caps: the reference bounds Kleene state (MAX_KLEENE_EVENTS=20 applies to
ENUMERATION, sase.rs:36-39); GRETA's whole point is no enumeration, so no
cap is applied here. Counts can exceed int64 for adversarial inputs
(2^n growth) — computed in float64 like the reference's f64 accumulators.
"""

from __future__ import annotations

from typing import Callable

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from varpulis_spark.functions import duration_ns


def _greta_dp(
    ts: np.ndarray,
    vals: np.ndarray | None,
    cols: dict | None,
    adjacent: Callable | None,
    adjacent_vec: Callable | None,
    within_ns: int | None,
) -> tuple[float, float, np.ndarray]:
    """Run the GRETA DP over one sorted group; returns
    (trend_count, event_count, value_sums).

    `vals` may be an (n, F) matrix — one column per value field. The count
    and length propagations are query-independent (the shared graphlet
    counts of Hamlet, hamlet/graphlet.rs:40-67: count = coeff·snapshot +
    local_sum with query-independent coefficients); every value column
    rides the SAME masked reductions, so F queries over the same Kleene
    sub-pattern cost one DP, not F."""
    nf = 0 if vals is None else (vals.shape[1] if vals.ndim == 2 else 1)
    if vals is not None and vals.ndim == 1:
        vals = vals.reshape(-1, 1)
    n = len(ts)
    zf = np.zeros(nf)
    if n == 0:
        return 0.0, 0.0, zf
    if adjacent is None and adjacent_vec is None and within_ns is None:
        # closed form: every pair is adjacent
        p = float(2.0 ** (n - 1))
        return 2.0 * p - 1.0, n * p, (vals.sum(axis=0) * p if nf else zf)

    cnt = np.zeros(n)
    len_sum = np.zeros(n)
    val_sum = np.zeros((n, nf)) if nf else None
    _greta_dp_extend(
        ts, vals, cols, adjacent, adjacent_vec, within_ns, cnt, len_sum, val_sum
    )
    return (
        float(cnt.sum()),
        float(len_sum.sum()),
        val_sum.sum(axis=0) if nf else zf,
    )


def _greta_dp_extend(
    ts: np.ndarray,
    vals: np.ndarray | None,
    cols: dict | None,
    adjacent: Callable | None,
    adjacent_vec: Callable | None,
    within_ns: int | None,
    cnt: np.ndarray,
    len_sum: np.ndarray,
    val_sum: np.ndarray | None,
    start: int = 0,
) -> None:
    """Fill the DP rows for i in [start, n) in place; rows [0, start) are
    PRIOR state (the streaming incremental extension: a new event's trends
    extend only earlier events, so append-only arrival lets each event be
    processed exactly once — the reference's push-loop shape,
    engine/pattern_analyzer.rs:1-80)."""
    n = len(ts)
    nf = 0 if val_sum is None else val_sum.shape[1]
    zf = np.zeros(nf)
    lo_all = (
        np.searchsorted(ts, ts - within_ns, side="left")
        if within_ns is not None
        else np.zeros(n, dtype=np.int64)
    )
    events = None
    if adjacent is not None and adjacent_vec is None and cols is not None:
        from varpulis_spark.operators.sase import _EventView

        events = [_EventView(cols, i) for i in range(n)]
    for i in range(start, n):
        lo = int(lo_all[i])
        if lo >= i:
            c, ls, vs = 1.0, 0.0, zf
        elif adjacent_vec is not None:
            m = np.asarray(adjacent_vec(cols, i))[lo:i]
            c = 1.0 + float(cnt[lo:i][m].sum())
            ls = float(len_sum[lo:i][m].sum())
            vs = val_sum[lo:i][m].sum(axis=0) if nf else zf
        elif adjacent is not None:
            c, ls, vs = 1.0, 0.0, np.zeros(nf)
            ei = events[i]
            for j in range(lo, i):
                if adjacent(events[j], ei):
                    c += cnt[j]
                    ls += len_sum[j]
                    if nf:
                        vs = vs + val_sum[j]
        else:
            c = 1.0 + float(cnt[lo:i].sum())
            ls = float(len_sum[lo:i].sum())
            vs = val_sum[lo:i].sum(axis=0) if nf else zf
        cnt[i] = c
        len_sum[i] = ls + c  # every trend ending at i gains event i
        if nf:
            val_sum[i] = vs + vals[i] * c


def trend_aggregate_multi(
    stream,
    queries: dict[str, dict],
    optimizer=None,
) -> DataFrame:
    """Hamlet-style MULTI-QUERY trend aggregation (runtime/src/hamlet/,
    SIGMOD'21): N concurrent trend queries answered in ONE pass per key.

    What is shared (the Hamlet idea, adapted to Spark): the scan, the
    event-type prefilter (union of all queries' types), the shuffle, the
    per-key sort, and the Arrow materialization — the dominant costs at
    scale. Each query then runs its GRETA DP over its own type/predicate
    view of the sorted batch. Additionally, queries that agree on
    (event_type, adjacent, within) but differ in aggregates share ONE DP run
    (graphlet-count sharing, hamlet/optimizer.rs:33-56 semantics — the DP
    counts ARE the graphlet counts).

    `queries`: name → {event_type?, adjacent?, adjacent_vec?, value_field?,
    within?}. Output: one row per (key, query) with the same aggregates as
    `trend_aggregate`.

    Cross-query graphlet-count sharing (hamlet/optimizer.rs semantics):
    queries are grouped by their Kleene sub-pattern identity (event_type,
    adjacency, within) — the graphlet counts (cnt / len_sum propagations)
    are query-independent within a group, so the group runs ONE DP with all
    of its queries' value fields stacked as matrix columns. N queries over
    K distinct sub-patterns cost K DPs (K ≤ N), not N.

    `optimizer` (HamletOptimizer, operators/hamlet_optimizer.py): the
    dynamic benefit model b = g²·(ks − sp) − ks·sp deciding Shared vs
    NonShared per sub-pattern. In this batch lowering sharing has no
    snapshot term (sp = 0 — value columns ride the same reductions), so
    the default decision is Shared; a NonShared/Split decision is honored
    by splitting the group into per-query DPs (identical results, K → N
    DPs), which is what makes the reference's adaptive switching safe to
    apply here.
    """
    df = stream.df
    ts_col = stream.ts_col
    order_col = stream.order_col
    keys = stream.keys
    types = {q.get("event_type") for q in queries.values()}
    if None not in types:
        df = df.filter(F.col("event_type").isin(sorted(t for t in types if t)))
    sort_cols = [ts_col] + ([order_col] if order_col else [])

    # group by Kleene sub-pattern: (etype, adjacency identity, within)
    groups: dict[tuple, dict] = {}
    for name, q in queries.items():
        within_ns = duration_ns(q["within"]) if q.get("within") is not None else None
        gk = (q.get("event_type"), id(q.get("adjacent")), id(q.get("adjacent_vec")), within_ns)
        g = groups.setdefault(
            gk,
            {
                "etype": q.get("event_type"),
                "adjacent": q.get("adjacent"),
                "adjacent_vec": q.get("adjacent_vec"),
                "within_ns": within_ns,
                "fields": [],   # distinct value fields, DP matrix columns
                "members": [],  # (query name, field index or None)
            },
        )
        vf = q.get("value_field")
        if vf is None:
            g["members"].append((name, None))
        else:
            if vf not in g["fields"]:
                g["fields"].append(vf)
            g["members"].append((name, g["fields"].index(vf)))

    if optimizer is not None:
        # consult the benefit model per sub-pattern; a NonShared/Split
        # decision splits the group into singleton per-query DPs
        split_groups: dict[tuple, dict] = {}
        for gk, g in groups.items():
            if gk not in optimizer.stats:
                optimizer.register_kleene(gk, len(g["members"]))
            if optimizer.is_shared(gk) or len(g["members"]) == 1:
                split_groups[gk] = g
            else:
                for idx, (name, fi) in enumerate(g["members"]):
                    solo = dict(g)
                    solo["fields"] = [g["fields"][fi]] if fi is not None else []
                    solo["members"] = [(name, 0 if fi is not None else None)]
                    split_groups[gk + (idx,)] = solo
        groups = split_groups

    if (
        keys
        and optimizer is None
        and all(
            g["adjacent"] is None and g["adjacent_vec"] is None
            and g["within_ns"] is None
            for g in groups.values()
        )
    ):
        # Every sub-pattern is predicate-free and unbounded → each query is
        # the closed form over a per-(key, type) count/sum. ONE conditional
        # JVM aggregation (sum(when(type==T, ...))) computes every group's
        # inputs in a single scan + single keyed exchange (map-side partial
        # agg, whole-stage codegen, no Python); the per-query rows then
        # explode from an in-row struct array. Keys with zero events of a
        # query's type emit the zero row naturally (n_T = 0).
        # The aggregate and per-query struct expressions are assembled as
        # SQL strings: composing them from Column objects issued ~2,000
        # py4j round-trips for a 10-query spec (~0.7 s of driver wall per
        # query build, measured r13 — guide §1.2 driver overhead); one
        # F.expr per aggregate/array is a handful of round-trips and
        # parses to the identical optimized plan (normalized-plan diff).
        def _sq(s: str) -> str:
            return "'" + s.replace("'", "''") + "'"

        agg_exprs = []
        for i, g in enumerate(groups.values()):
            cond = (
                f"event_type = {_sq(g['etype'])}"
                if g["etype"] is not None else "true"
            )
            agg_exprs.append(
                f"cast(sum(case when {cond} then 1 else 0 end) as double)"
                f" as `__n_{i}`"
            )
            for f in g["fields"]:
                agg_exprs.append(
                    f"sum(case when {cond} then `{f}` end) as `__s_{i}_{f}`"
                )
        base = df.groupBy(*[F.col(k) for k in keys]).agg(
            *[F.expr(e) for e in agg_exprs]
        )
        structs = []
        for i, g in enumerate(groups.values()):
            n = f"`__n_{i}`"
            p = f"power(2.0D, {n} - 1.0D)"
            for name, fi in g["members"]:
                vs = (
                    f"coalesce(`__s_{i}_{g['fields'][fi]}`, 0.0D) * {p}"
                    if fi is not None else "0.0D"
                )
                structs.append(
                    f"struct({_sq(name)} as query, "
                    f"2.0D * {p} - 1.0D as trend_count, "
                    f"{n} * {p} as event_count, "
                    f"{vs} as value_sum)"
                )
        return base.select(
            *keys,
            F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("__q"),
        ).select(*keys, "__q.*")

    key_fields = ", ".join(f"{k} {t}" for k, t in df.dtypes if k in keys)
    schema = (key_fields + ", " if keys else "") + (
        "query string, trend_count double, event_count double, value_sum double"
    )

    def run(key_tuple, cols: dict) -> list:
        # the driver's (keys, ts, order) sort is shared by every query
        rows = []
        for g in groups.values():
            sub = cols
            if g["etype"]:
                m = cols["event_type"] == g["etype"]
                sub = {c: v[m] for c, v in cols.items()}
            vals = (
                np.column_stack(
                    [np.asarray(sub[f], dtype=np.float64) for f in g["fields"]]
                )
                if g["fields"]
                else None
            )
            tc, ec, vs = _greta_dp(
                sub["__ts"], vals, sub, g["adjacent"], g["adjacent_vec"],
                g["within_ns"],
            )
            for name, fi in g["members"]:
                rows.append(
                    [*key_tuple, name, tc, ec,
                     float(vs[fi]) if fi is not None else 0.0]
                )
        return rows

    out_cols = list(keys) + ["query", "trend_count", "event_count", "value_sum"]
    return _drive(df, keys, run, schema, out_cols, sort_cols)


def _drive(df, keys, run, schema, out_cols, sort_cols) -> DataFrame:
    from varpulis_spark.operators.partition_driver import (
        apply_per_key,
        apply_unpartitioned,
    )

    if keys:
        return apply_per_key(df, keys, run, schema, out_cols, sort_cols)
    _warn_single_universe()
    return apply_unpartitioned(df, run, schema, out_cols, sort_cols)


def _warn_single_universe() -> None:
    import warnings

    warnings.warn(
        "unpartitioned trend aggregation: all events funnel into ONE task "
        "(a single GRETA graph, reference parity). This serializes at "
        "scale — add partition_by to distribute the DP across keys.",
        stacklevel=5,
    )


def trend_aggregate(
    stream,
    event_type: str | None = None,
    adjacent: Callable[[dict, dict], bool] | None = None,
    value_field: str | None = None,
    within=None,
    adjacent_vec: Callable | None = None,
) -> DataFrame:
    """GRETA aggregates over all `E+` trends per partition key.

    Output per key: `trend_count` (number of trends), `event_count`
    (Σ trend lengths), and `value_sum` (Σ over trends of Σ value_field)
    when `value_field` is given.

    `adjacent(prev, next)` is the Kleene iterative predicate; None means any
    ts-increasing pair (every non-empty ordered subset is a trend).
    `adjacent_vec(cols, i) -> bool[i]` is its vectorized form (preferred in
    hot paths): given the group's column arrays and the current index,
    return the adjacency mask over all j < i.

    `within` bounds the gap between CONSECUTIVE trend events (per-edge
    budget). The reference's whole-span `within` composes via a window
    operator before trend aggregation (window panes per GRETA §5); a plain
    DP cannot carry span deadlines without per-start bookkeeping.
    """
    df = stream.df
    ts_col = stream.ts_col
    order_col = stream.order_col
    keys = stream.keys
    if event_type is not None:
        df = df.filter(F.col("event_type") == event_type)
    within_ns = duration_ns(within) if within is not None else None

    if adjacent is None and adjacent_vec is None and within_ns is None:
        # Predicate-free, unbounded: the closed form (count = 2^n − 1,
        # events = n·2^(n−1), Σf = (Σf)·2^(n−1)) is a plain aggregation —
        # lower it to a JVM groupBy (map-side partial agg, whole-stage
        # codegen, no Arrow/pandas per group). This is what makes windowed
        # trend aggregation viable with many small (key, pane) groups:
        # 190k groups at sf1 cost one shuffle, not 190k Python calls.
        # Powers of two are exact in double, so results are bit-identical
        # to the numpy closed form. (Divergence: an EMPTY unkeyed input
        # yields one zero row here vs none from the Python path.)
        n = F.count(F.lit(1)).cast("double")
        p = F.pow(F.lit(2.0), n - F.lit(1.0))
        aggs = [
            (F.lit(2.0) * p - F.lit(1.0)).alias("trend_count"),
            (n * p).alias("event_count"),
        ]
        if value_field is not None:
            aggs.append(
                (F.coalesce(F.sum(value_field), F.lit(0.0)) * p)
                .alias("value_sum")
            )
        grouped = df.groupBy(*[F.col(k) for k in keys]) if keys else df.groupBy()
        return grouped.agg(*aggs)

    sort_cols = [ts_col] + ([order_col] if order_col else [])
    has_value = value_field is not None
    schema = "trend_count double, event_count double" + (
        ", value_sum double" if has_value else ""
    )
    key_fields = ", ".join(f"{k} {t}" for k, t in df.dtypes if k in keys)
    if keys:
        schema = key_fields + ", " + schema

    def run(key_tuple, cols: dict) -> list:
        vals = (
            np.asarray(cols[value_field], dtype=np.float64) if has_value else None
        )
        tc, ec, vs = _greta_dp(
            cols["__ts"], vals, cols, adjacent, adjacent_vec, within_ns
        )
        return [[*key_tuple, tc, ec] + ([float(vs[0])] if has_value else [])]

    out_cols = list(keys) + ["trend_count", "event_count"] + (
        ["value_sum"] if has_value else []
    )
    return _drive(df, keys, run, schema, out_cols, sort_cols)
