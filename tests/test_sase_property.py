"""Property-based SASE semantics: the NFA enumerator vs a brute-force
O(2^n) oracle on random small event sequences (the reference's ZDD-test
oracle trick, SURVEY §5). Pure Python — no Spark session needed."""

from itertools import combinations

from hypothesis import given, settings
from hypothesis import strategies as st

from varpulis_spark.operators.sase import Pattern, _enumerate_matches, not_step, step

S = 1_000_000_000


def mk_events(types):
    return [
        {"event_id": i, "event_type": t, "__ts": i * S, "value": float(i)}
        for i, t in enumerate(types)
    ]


def brute_seq2(events, within_s=None):
    """All (a, b) index pairs: a is A, b is B, b after a, within budget."""
    out = []
    for i, a in enumerate(events):
        if a["event_type"] != "A":
            continue
        for b in events[i + 1:]:
            if b["event_type"] != "B":
                continue
            if within_s is not None and b["__ts"] - a["__ts"] > within_s * S:
                continue
            out.append((a["event_id"], b["event_id"]))
    return sorted(out)


def brute_seq2_neg(events, within_s=None):
    """Pairs with no C strictly between."""
    out = []
    for a_id, b_id in brute_seq2(events, within_s):
        blocked = any(
            e["event_type"] == "C" and a_id * S < e["__ts"] < b_id * S
            for e in events
        )
        if not blocked:
            out.append((a_id, b_id))
    return sorted(out)


def brute_kleene(events):
    """A → B+ → C: (a, frozenset(bs), c) for every non-empty ordered subset
    of Bs strictly between a and c."""
    out = set()
    a_idx = [i for i, e in enumerate(events) if e["event_type"] == "A"]
    c_idx = [i for i, e in enumerate(events) if e["event_type"] == "C"]
    for ai in a_idx:
        for ci in c_idx:
            if ci <= ai:
                continue
            bs = [i for i in range(ai + 1, ci) if events[i]["event_type"] == "B"]
            for r in range(1, len(bs) + 1):
                for combo in combinations(bs, r):
                    out.add((ai, tuple(combo), ci))
    return out


types_strategy = st.lists(st.sampled_from(["A", "B", "C", "X"]), min_size=0, max_size=12)


@given(types_strategy)
@settings(max_examples=200, deadline=None)
def test_seq_matches_brute_force(types):
    events = mk_events(types)
    p = Pattern(steps=[step("A", "a"), step("B", "b")],
                emit={"a": ("a", "event_id"), "b": ("b", "event_id")})
    got = sorted((r["a"], r["b"]) for r in _enumerate_matches(events, p))
    assert got == brute_seq2(events)


@given(types_strategy, st.integers(min_value=1, max_value=8))
@settings(max_examples=150, deadline=None)
def test_seq_within_matches_brute_force(types, within_s):
    events = mk_events(types)
    p = Pattern(steps=[step("A", "a"), step("B", "b")], within=f"{within_s}s",
                emit={"a": ("a", "event_id"), "b": ("b", "event_id")})
    got = sorted((r["a"], r["b"]) for r in _enumerate_matches(events, p))
    assert got == brute_seq2(events, within_s)


@given(types_strategy)
@settings(max_examples=150, deadline=None)
def test_negation_matches_brute_force(types):
    events = mk_events(types)
    p = Pattern(steps=[step("A", "a"), not_step("C"), step("B", "b")],
                emit={"a": ("a", "event_id"), "b": ("b", "event_id")})
    got = sorted((r["a"], r["b"]) for r in _enumerate_matches(events, p))
    assert got == brute_seq2_neg(events)


@given(st.lists(st.sampled_from(["A", "B", "C"]), min_size=0, max_size=9))
@settings(max_examples=100, deadline=None)
def test_kleene_matches_brute_force(types):
    events = mk_events(types)
    p = Pattern(
        steps=[step("A", "a"), step("B", "bs", kleene="+"), step("C", "c")],
        emit={"a": ("a", "event_id"), "bs": ("bs", "event_id"), "c": ("c", "event_id")},
        max_matches=1_000_000,
    )
    got = {(r["a"], tuple(r["bs"]), r["c"]) for r in _enumerate_matches(events, p)}
    assert got == brute_kleene(events)


# ---------------------------------------------------------------------------
# BP-01 run-cap merge properties (streaming.py:_merge_with_run_cap, columnar
# buffers)
# ---------------------------------------------------------------------------


def _cap_pat(max_runs, strategy):
    from varpulis_spark.operators.sase import Pattern, step

    return Pattern(
        steps=[step("A", "a"), step("B", "b")],
        emit={"x": ("a", "__ts")},
        max_runs=max_runs, backpressure=strategy,
    )


_evt_seq = st.lists(
    st.tuples(st.sampled_from(["A", "B"]), st.integers(1, 5)),
    min_size=0, max_size=120,
)


@given(seq=_evt_seq, max_runs=st.integers(0, 8),
       strategy=st.sampled_from(["drop", "evict_oldest",
                                 "evict_least_progress", "sample:0.5"]))
@settings(max_examples=150, deadline=None)
def test_run_cap_invariants(seq, max_runs, strategy):
    """Whatever the strategy: anchors never exceed max_runs; no buffered
    event predates the oldest surviving anchor; counters reconcile with
    arrivals; the buffer stays ts-sorted."""
    from varpulis_spark.operators.sase import _event_columns
    from varpulis_spark.streaming import _merge_with_run_cap

    ts = 0
    events = []
    for et, gap in seq:
        ts += gap
        events.append({"event_type": et, "__ts": ts})
    p = _cap_pat(max_runs, strategy)
    out, started, dropped, evicted = _merge_with_run_cap(
        {}, _event_columns(events), p)
    out_ts = list(out["__ts"]) if out else []

    anchors = [t for t, et in zip(out_ts, out.get("event_type", [])) if et == "A"]
    n_arrived = sum(1 for e in events if e["event_type"] == "A")
    assert len(anchors) <= max_runs
    assert started - evicted == len(anchors)
    assert started + dropped == n_arrived
    if anchors:
        low = min(anchors)
        assert all(t >= low for t in out_ts)
    else:
        # no surviving anchors → no match can ever form from survivors…
        # …but non-anchor events only prune against an anchor floor
        pass
    assert out_ts == sorted(out_ts)


@given(seq=_evt_seq, max_runs=st.integers(1, 8),
       splits=st.lists(st.integers(0, 120), max_size=3),
       strategy=st.sampled_from(["drop", "evict_oldest", "sample:0.5"]))
@settings(max_examples=150, deadline=None)
def test_run_cap_chunked_replay_equals_one_shot(seq, max_runs, splits, strategy):
    """Micro-batch replay consistency: for ts-ordered input, feeding the
    stream in chunks through carried state yields the SAME buffer and the
    SAME counter totals as one merge — the streaming/batch parity that
    keeps checkpoint-restart deterministic. (evict_least_progress is
    excluded by design: its victim choice depends on next-step candidates
    seen SO FAR, so later knowledge can change it.)"""
    from varpulis_spark.operators.sase import _event_columns
    from varpulis_spark.streaming import _merge_with_run_cap

    ts = 0
    events = []
    for et, gap in seq:
        ts += gap
        events.append({"event_type": et, "__ts": ts})
    p = _cap_pat(max_runs, strategy)

    one, s1, d1, e1 = _merge_with_run_cap({}, _event_columns(events), p)

    cuts = sorted({min(s, len(events)) for s in splits})
    chunks, prev = [], 0
    for c in cuts + [len(events)]:
        chunks.append(events[prev:c])
        prev = c
    buf, ts_, ds_, es_ = {}, 0, 0, 0
    for ch in chunks:
        buf, s, d, e = _merge_with_run_cap(buf, _event_columns(ch), p, None,
                                           ts_, ds_, es_)
        ts_ += s; ds_ += d; es_ += e
    assert list(buf.get("__ts", [])) == list(one.get("__ts", []))
    assert (ts_, ds_, es_) == (s1, d1, e1)
