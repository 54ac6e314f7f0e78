"""Port of the reference's SASE+ engine coverage battery
(crates/varpulis-runtime/tests/sase_coverage_tests.rs, ~60 cases):
Kleene-star shapes, global/selective negation, OR/AND branches in
sequences, within windows, CompareRef predicates (every CompareOp),
predicate combinators (Not/Or/And/literal), edge cases (missing fields,
type mismatches, wrong types), selection strategies, run caps, and
multi-match behavior.

Harness mapping: the reference drives a mutable SaseEngine and asserts
`stats().active_runs` plus per-process match lists; our batch NFA is the
pure enumerator `_enumerate_matches(events, Pattern)`, so each case
asserts the OBSERVABLE match set over the same event sequence (run-count
assertions become match presence/absence — an engine that would not have
started a run produces no match). OR-in-SEQ lowers as the union of the
branch sequences (exactly how the VPL compiler lowers PatOr); AND-in-SEQ
as the union of branch-order permutations (Pattern.any_order's lowering).
The run-cap case drives `_merge_with_run_cap` (the streaming BP-01 path,
where max_runs actually lives)."""

import pytest

from varpulis_spark.operators.sase import (
    SKIP_TILL_NEXT,
    STRICT,
    Pattern,
    _enumerate_matches,
    not_step,
    step,
)

S = 1_000_000_000  # ns per second


def ev(i, typ, t, **extra):
    d = {"event_id": i, "event_type": typ, "__ts": t * S}
    d.update(extra)
    return d


def seq(events, *steps, within=None, strategy=None, emit=None):
    p = Pattern(
        steps=list(steps),
        within=within,
        emit=emit or {"last": (steps[-1].alias, "event_id")},
    )
    if strategy:
        p.strategy = strategy
    return _enumerate_matches(events, p)


# -- 1. KleeneStar (rs:47-122) --------------------------------------------------


def test_kleene_star_with_one_b_event():
    events = [ev(0, "A", 0), ev(1, "B", 1, n=1), ev(2, "C", 2)]
    got = seq(events, step("A", "a"), step("B", "b", kleene="*"), step("C", "c"))
    assert got, "KleeneStar with one B event should produce matches"


def test_kleene_star_with_many_b_events():
    events = [ev(0, "A", 0)] + [ev(i, "B", i, n=i) for i in range(1, 5)] + [
        ev(5, "C", 5)
    ]
    got = seq(events, step("A", "a"), step("B", "b", kleene="*"), step("C", "c"))
    assert got, "KleeneStar with 4 B events should produce matches"


def test_kleene_star_with_aliases():
    events = [ev(0, "Start", 0, n=0), ev(1, "Mid", 1, n=1),
              ev(2, "Mid", 2, n=2), ev(3, "End", 3, n=99)]
    p = Pattern(
        steps=[step("Start", "start"), step("Mid", "mid", kleene="*"),
               step("End", "end")],
        emit={"start_n": ("start", "n"), "end_n": ("end", "n")},
    )
    rows = _enumerate_matches(events, p)
    assert rows
    assert any(r["start_n"] == 0 and r["end_n"] == 99 for r in rows)


# -- 2. Negation (rs:124-250) -----------------------------------------------------


def test_not_pattern_with_global_negation_cancels_run():
    events = [ev(0, "A", 0), ev(1, "Bad", 1), ev(2, "B", 2)]
    got = seq(events, step("A", "a"), not_step("Bad"), step("B", "b"))
    assert got == [], "Bad between A and B must cancel the run"


def test_not_pattern_without_matching_negation_allows_continuation():
    events = [ev(0, "A", 0), ev(1, "Irrelevant", 1), ev(2, "B", 2)]
    got = seq(events, step("A", "a"), not_step("Bad"), step("B", "b"))
    assert len(got) == 1, "Irrelevant events must not cancel the run"


def test_not_pattern_with_predicate_selective_cancel():
    # NOT(Cancel where order_id == order.id): a Cancel for a DIFFERENT
    # order does not invalidate (rs:175-220)
    pred = lambda e, b: e.get("order_id") == b["order"]["id"]  # noqa: E731
    base = [ev(0, "Order", 0, id=42)]
    other_cancel = base + [ev(1, "Cancel", 1, order_id=99), ev(2, "Ship", 2)]
    got = seq(other_cancel, step("Order", "order"),
              not_step("Cancel", where=pred), step("Ship", "s"))
    assert len(got) == 1, "Cancel for a different order_id must not cancel"

    same_cancel = base + [ev(1, "Cancel", 1, order_id=42), ev(2, "Ship", 2)]
    got = seq(same_cancel, step("Order", "order"),
              not_step("Cancel", where=pred), step("Ship", "s"))
    assert got == [], "Cancel for the matching order_id must cancel"


def test_not_pattern_multiple_negations_registered():
    # two registered negation types; either cancels (rs:223-250)
    events = [ev(0, "A", 0), ev(1, "Abort", 1), ev(2, "B", 2)]
    got = seq(events, step("A", "a"), not_step("Cancel"), not_step("Abort"),
              step("B", "b"))
    assert got == [], "Abort (registered negation) must invalidate the run"


# -- 3. OR branches in sequences (rs:252-380) ----------------------------------
# OR(A, B) in a SEQ lowers as the union of the branch sequences — the VPL
# compiler's PatOr lowering; each event set matches under exactly one branch.


def or_in_seq(events, mid_steps):
    out = []
    for mid in mid_steps:
        out.extend(
            seq(events, step("Start", "s"), mid, step("End", "e"))
        )
    return out


def test_or_in_seq_left_branch():
    events = [ev(0, "Start", 0), ev(1, "A", 1), ev(2, "End", 2)]
    assert or_in_seq(events, [step("A", "m"), step("B", "m")])


def test_or_in_seq_right_branch():
    events = [ev(0, "Start", 0), ev(1, "B", 1), ev(2, "End", 2)]
    assert or_in_seq(events, [step("A", "m"), step("B", "m")])


def test_or_in_seq_neither_branch_advances():
    events = [ev(0, "Start", 0), ev(1, "C", 1), ev(2, "End", 2)]
    assert or_in_seq(events, [step("A", "m"), step("B", "m")]) == []


def test_or_with_predicates_in_seq():
    gt10 = lambda e, b: e.get("x") is not None and e["x"] > 10  # noqa: E731
    lt5 = lambda e, b: e.get("y") is not None and e["y"] < 5  # noqa: E731
    branches = [step("A", "m", where=gt10), step("B", "m", where=lt5)]
    # A with x=5 fails its branch predicate
    events = [ev(0, "Start", 0), ev(1, "A", 1, x=5), ev(2, "End", 2)]
    assert or_in_seq(events, branches) == []
    # B with y=3 passes
    events = [ev(0, "Start", 0), ev(1, "B", 1, y=3), ev(2, "End", 2)]
    assert or_in_seq(events, branches)


def test_nested_or_in_sequence():
    # OR(OR(A, B), C) flattens to three branches (rs:356-380)
    events = [ev(0, "Start", 0), ev(1, "C", 1), ev(2, "End", 2)]
    assert or_in_seq(
        events, [step("A", "m"), step("B", "m"), step("C", "m")]
    ), "nested OR must match on the outer-right branch (C)"


# -- 4. AND patterns (rs:383-460) -----------------------------------------------


def test_and_pattern_with_predicates():
    p = Pattern(
        steps=[
            step("A", "a", where=lambda e, b: e.get("x") is not None and e["x"] > 10),
            step("B", "b", where=lambda e, b: e.get("y") is not None and e["y"] > 20),
        ],
        any_order=True,
        emit={"a": ("a", "event_id"), "b": ("b", "event_id")},
    )
    # only A: no match yet
    assert _enumerate_matches([ev(0, "A", 0, x=15)], p) == []
    # both satisfied → complete
    got = _enumerate_matches([ev(0, "A", 0, x=15), ev(1, "B", 1, y=25)], p)
    assert len(got) == 1


def test_and_pattern_incomplete_no_second_type():
    p = Pattern(
        steps=[step("A", "a"), step("B", "b")],
        any_order=True,
        emit={"a": ("a", "event_id")},
    )
    events = [ev(i, "A", i) for i in range(3)]
    assert _enumerate_matches(events, p) == []


def test_and_in_seq_reverse_order():
    # SEQ(Start, AND(A, B), End) with B arriving before A — the AND-in-SEQ
    # lowering is the union of branch-order permutations
    events = [ev(0, "Start", 0), ev(1, "B", 1), ev(2, "A", 2), ev(3, "End", 3)]
    perms = [
        (step("A", "a"), step("B", "b")),
        (step("B", "b"), step("A", "a")),
    ]
    out = []
    for mid in perms:
        out.extend(seq(events, step("Start", "s"), *mid, step("End", "e")))
    assert out, "AND must complete regardless of branch order"


# -- 5. within (rs:463-600) --------------------------------------------------------


def test_within_duration_match_inside_window():
    events = [ev(0, "Login", 0), ev(1, "Checkout", 8)]
    got = seq(events, step("Login", "l"), step("Checkout", "c"), within="10s")
    assert len(got) == 1


def test_within_duration_expired_by_late_event():
    events = [ev(0, "Login", 0), ev(1, "Checkout", 20)]
    got = seq(events, step("Login", "l"), step("Checkout", "c"), within="10s")
    assert got == []


def test_within_wrapping_and_pattern():
    p = Pattern(
        steps=[step("A", "a"), step("B", "b")],
        any_order=True,
        within="10s",
        emit={"a": ("a", "event_id")},
    )
    assert _enumerate_matches([ev(0, "B", 0), ev(1, "A", 5)], p)
    assert _enumerate_matches([ev(0, "B", 0), ev(1, "A", 50)], p) == []


def test_within_wrapping_seq_with_kleene():
    events = [ev(0, "A", 0), ev(1, "B", 2, n=1), ev(2, "B", 4, n=2),
              ev(3, "C", 8)]
    got = seq(events, step("A", "a"), step("B", "b", kleene="+"),
              step("C", "c"), within="10s")
    assert got, "WITHIN(SEQ(A, B+, C), 10s) should match inside the window"


# -- 6. CompareRef predicates (rs:603-790) ---------------------------------------


def cmp_ref(op):
    import operator as _op

    f = {"ne": _op.ne, "gt": _op.gt, "ge": _op.ge, "lt": _op.lt,
         "le": _op.le, "eq": _op.eq}[op]

    def pred(e, b):
        return f(e["x"], b["a"]["x"])

    return pred


def ref_case(op, base_x, probe_x):
    events = [ev(0, "A", 0, x=base_x), ev(1, "B", 1, x=probe_x)]
    return seq(events, step("A", "a"), step("B", "b", where=cmp_ref(op)))


def test_compare_ref_with_not_eq():
    assert ref_case("ne", 1, 1) == []
    assert ref_case("ne", 1, 2)


def test_compare_ref_gt():
    assert ref_case("gt", 100, 50) == []
    assert ref_case("gt", 100, 150)


def test_compare_ref_ge():
    assert ref_case("ge", 100, 99) == []
    assert ref_case("ge", 100, 100)


def test_compare_ref_lt():
    assert ref_case("lt", 100, 100) == []
    assert ref_case("lt", 100, 50)


def test_compare_ref_le():
    assert ref_case("le", 100, 101) == []
    assert ref_case("le", 100, 100)
    assert ref_case("le", 100, 50)


def test_compare_ref_missing_ref_alias_returns_false():
    # a predicate reaching for an unbound alias raises → pred_ok False
    def pred(e, b):
        return e["order_id"] == b["nonexistent"]["id"]

    events = [ev(0, "Order", 0, id=1), ev(1, "Payment", 1, order_id=1)]
    got = seq(events, step("Order", "o"), step("Payment", "p", where=pred))
    assert got == [], "CompareRef with a nonexistent alias must not match"


# -- 7. Complex compositions (rs:794-860) ----------------------------------------


def test_seq_containing_kleene_plus_and_or():
    # SEQ(Start, B+, OR(X, Y), End): OR as union of branches after Kleene
    events = [ev(0, "Start", 0), ev(1, "B", 1), ev(2, "X", 2), ev(3, "End", 3)]
    out = []
    for branch in ("X", "Y"):
        out.extend(
            seq(events, step("Start", "s"), step("B", "b", kleene="+"),
                step(branch, "m"), step("End", "e"))
        )
    assert out


def test_seq_with_and_then_kleene():
    # SEQ(Start, AND(A, B), C+, End) — permutation union then Kleene
    events = [ev(0, "Start", 0), ev(1, "A", 1), ev(2, "B", 2),
              ev(3, "C", 3), ev(4, "End", 4)]
    out = []
    for mid in ((step("A", "a"), step("B", "b")),
                (step("B", "b"), step("A", "a"))):
        out.extend(seq(events, step("Start", "s"), *mid,
                       step("C", "c", kleene="+"), step("End", "e")))
    assert out


# -- 8. Edge cases (rs:867-965) -----------------------------------------------------


def test_empty_event_stream_produces_no_matches():
    assert seq([], step("A", "a"), step("B", "b")) == []


def test_pattern_with_no_matching_events():
    events = [ev(i, "A", i) for i in range(100)]
    got = seq(events, step("X", "x"), step("Y", "y"), step("Z", "z"))
    assert got == []


def test_missing_field_in_predicate_does_not_match():
    events = [ev(0, "A", 0, other=42), ev(1, "B", 1)]
    got = seq(events,
              step("A", "a", where=lambda e, b: e["nonexistent"] == 42),
              step("B", "b"))
    assert got == [], "missing field must prevent the run (KeyError → False)"


def test_predicate_type_mismatch_does_not_match():
    events = [ev(0, "A", 0, value="not-a-number"), ev(1, "B", 1)]
    got = seq(events,
              step("A", "a", where=lambda e, b: e["value"] > 100),
              step("B", "b"))
    assert got == [], "str > int raises → pred_ok False, like the reference"


def test_wrong_event_type_ignored():
    events = [ev(0, "X", 0), ev(1, "Y", 1), ev(2, "A", 2), ev(3, "X", 3),
              ev(4, "B", 4)]
    got = seq(events, step("A", "a"), step("B", "b"))
    assert len(got) == 1


# -- 9-12. Predicate combinators (rs:969-1192) -----------------------------------


def test_predicate_not_inverts_comparison():
    pred = lambda e, b: not (e["price"] < 50)  # noqa: E731
    assert seq([ev(0, "A", 0, price=30), ev(1, "B", 1)],
               step("A", "a", where=pred), step("B", "b")) == []
    got = seq([ev(0, "A", 0, price=80), ev(1, "B", 1)],
              step("A", "a", where=pred), step("B", "b"))
    assert len(got) == 1


def test_predicate_double_not():
    pred = lambda e, b: not (not (e["x"] == 5))  # noqa: E731
    got = seq([ev(0, "A", 0, x=5), ev(1, "B", 1)],
              step("A", "a", where=pred), step("B", "b"))
    assert len(got) == 1


def test_predicate_or_either_branch():
    pred = lambda e, b: e["status"] in ("active", "pending")  # noqa: E731
    for status, expect in (("active", 1), ("pending", 1), ("closed", 0)):
        got = seq([ev(0, "A", 0, status=status), ev(1, "B", 1)],
                  step("A", "a", where=pred), step("B", "b"))
        assert len(got) == expect, status


def test_predicate_and_both_required():
    pred = lambda e, b: e["x"] > 10 and e["y"] < 100  # noqa: E731
    cases = [((20, 50), 1), ((20, 200), 0), ((5, 50), 0)]
    for (x, y), expect in cases:
        got = seq([ev(0, "A", 0, x=x, y=y), ev(1, "B", 1)],
                  step("A", "a", where=pred), step("B", "b"))
        assert len(got) == expect, (x, y)


def test_predicate_expr_literal_true_false():
    got = seq([ev(0, "A", 0), ev(1, "B", 1)],
              step("A", "a", where=lambda e, b: True), step("B", "b"))
    assert len(got) == 1
    got = seq([ev(0, "A", 0), ev(1, "B", 1)],
              step("A", "a", where=lambda e, b: False), step("B", "b"))
    assert got == []


# -- 13. Strategies + run caps (rs:1194-1309) -------------------------------------


def test_engine_with_strategy_strict_contiguous():
    # noise between A and B invalidates under strict contiguity
    events = [ev(0, "A", 0), ev(1, "Noise", 1), ev(2, "B", 2)]
    assert seq(events, step("A", "a"), step("B", "b"),
               strategy=STRICT) == []
    clean = [ev(0, "A", 0), ev(1, "B", 1)]
    assert len(seq(clean, step("A", "a"), step("B", "b"),
                   strategy=STRICT)) == 1


def test_engine_with_strategy_skip_till_next_match():
    events = [ev(0, "A", 0), ev(1, "Noise", 1), ev(2, "B", 2)]
    got = seq(events, step("A", "a"), step("B", "b"),
              strategy=SKIP_TILL_NEXT)
    assert len(got) == 1, "skip-till-next keeps the run alive through noise"


def test_engine_max_runs_limit():
    """rs:1247-1265 with_max_runs(3) + drop: the 4th anchor is dropped —
    driven through the streaming BP-01 merge where the cap lives."""
    from varpulis_spark.operators.sase import _event_columns
    from varpulis_spark.streaming import _merge_with_run_cap

    p = Pattern(steps=[step("A", "a"), step("B", "b")], emit={},
                max_runs=3, backpressure="drop")
    anchors = _event_columns([ev(i, "A", i) for i in range(4)])
    events, started, dropped, evicted = _merge_with_run_cap({}, anchors, p)
    kept = [t for t in events["event_type"] if t == "A"]
    assert len(kept) == 3 and started == 3 and dropped == 1 and evicted == 0


def test_engine_with_negation():
    # has_interest("Cancel") analog: the negation type is in the pattern's
    # relevant types, and a Cancel between A and B invalidates
    p = Pattern(steps=[step("A", "a"), not_step("Cancel"), step("B", "b")],
                emit={"a": ("a", "event_id")})
    assert "Cancel" in (p.relevant_types() or [])
    events = [ev(0, "A", 0), ev(1, "Cancel", 1), ev(2, "B", 2)]
    assert _enumerate_matches(events, p) == []


# -- 14. Multiple / overlapping matches (rs:1311-1352) ------------------------------


def test_multiple_sequential_sequence_matches():
    events = []
    for i in range(3):
        events.append(ev(2 * i, "A", 2 * i, n=i))
        events.append(ev(2 * i + 1, "B", 2 * i + 1, n=i))
    p = Pattern(steps=[step("A", "a"), step("B", "b")],
                emit={"an": ("a", "n"), "bn": ("b", "n")})
    rows = _enumerate_matches(events, p)
    # skip-till-any: every A pairs with every LATER B → 3+2+1 = 6
    assert len(rows) == 6
    assert sum(1 for r in rows if r["an"] == r["bn"]) == 3


def test_overlapping_matches_from_multiple_starts():
    events = [ev(0, "A", 0, id=1), ev(1, "A", 1, id=2), ev(2, "B", 2)]
    p = Pattern(steps=[step("A", "a"), step("B", "b")],
                emit={"aid": ("a", "id")})
    rows = _enumerate_matches(events, p)
    assert sorted(r["aid"] for r in rows) == [1, 2], \
        "one B completes BOTH open runs"


# -- 15. CompareOp variants + cross-type compares (rs:1354-1555) --------------------


@pytest.mark.parametrize("op,thresh,cases", [
    ("le", 10, [(10, True), (5, True), (15, False)]),
    ("lt", 10, [(9, True), (10, False)]),
    ("ge", 10, [(10, True), (11, True), (9, False)]),
])
def test_compare_op_in_seq(op, thresh, cases):
    import operator as _op

    f = {"le": _op.le, "lt": _op.lt, "ge": _op.ge}[op]
    for x, expect in cases:
        got = seq([ev(0, "A", 0, x=x), ev(1, "B", 1)],
                  step("A", "a", where=lambda e, b: f(e["x"], thresh)),
                  step("B", "b"))
        assert bool(got) == expect, (op, x)


def test_compare_float_values_in_seq():
    got = ref_case("gt", 99.5, 99.9)
    assert got
    assert ref_case("gt", 99.9, 99.5) == []


def test_compare_int_vs_float_cross_type_in_seq():
    # Int 100 vs Float 99.5: numeric comparison crosses types (rs:1476)
    assert ref_case("gt", 99.5, 100)
    assert ref_case("gt", 100, 99.5) == []


def test_compare_string_eq_in_seq():
    events = [ev(0, "A", 0, s="go"), ev(1, "B", 1, s="go")]
    got = seq(events, step("A", "a"),
              step("B", "b", where=lambda e, b: e["s"] == b["a"]["s"]))
    assert len(got) == 1
    events = [ev(0, "A", 0, s="go"), ev(1, "B", 1, s="stop")]
    got = seq(events, step("A", "a"),
              step("B", "b", where=lambda e, b: e["s"] == b["a"]["s"]))
    assert got == []


def test_compare_bool_eq_in_seq():
    events = [ev(0, "A", 0, flag=True), ev(1, "B", 1, flag=True)]
    got = seq(events, step("A", "a"),
              step("B", "b", where=lambda e, b: e["flag"] == b["a"]["flag"]))
    assert len(got) == 1


# -- 16. has_interest (rs:1557-1600) ------------------------------------------------


def test_has_interest_for_seq_pattern():
    p = Pattern(steps=[step("A", "a"), step("B", "b")], emit={})
    types = p.relevant_types()
    assert types == ["A", "B"]
    assert "C" not in types


def test_has_interest_with_global_negation():
    p = Pattern(steps=[step("A", "a"), not_step("Cancel"), step("B", "b")],
                emit={})
    assert set(p.relevant_types()) == {"A", "B", "Cancel"}


def test_streaming_and_pattern_matches_reverse_order(request):
    """r9 regression (found writing this port): a VPL `and` pattern
    (any_order) on a STREAMING input only matched its declared step order —
    apply_pattern_batch permuted externally, but the streaming NFA called
    the enumerator directly. Pinned end-to-end: B-then-A completes
    AND(A, B) across separate incremental injections."""
    import json

    from varpulis_spark.api import PipelineServer
    from varpulis_spark.engine import get_spark

    spark = get_spark("sase-coverage-port")
    src = """
event DoorOpen:
    site: str

event MotionSeen:
    site: str

pattern Intrusion = DoorOpen as d AND MotionSeen as m

stream Alerts = Intrusion
    .partition_by(site)
    .emit(kind: "intrusion", site: d.site)
"""
    srv = PipelineServer(spark)
    request.addfinalizer(srv.stop)
    st, r = srv.handle("POST", "/api/v1/pipelines",
                       json.dumps({"name": "and9", "source": src}).encode(), {})
    assert st == 200 and r["mode"] == "incremental", r
    pid = r["id"]

    def inject(ev):
        st, r = srv.handle("POST", f"/api/v1/pipelines/{pid}/events",
                           json.dumps(ev).encode(), {})
        assert st == 200
        return r["output_events"]

    # REVERSE order: MotionSeen first, DoorOpen second
    assert inject({"event_type": "MotionSeen", "fields": {"site": "hq"}}) == []
    out = inject({"event_type": "DoorOpen", "fields": {"site": "hq"}})
    assert [e["fields"]["site"] for e in out] == ["hq"]


def test_and_pattern_partition_by_isolates_keys(request):
    """The same r9 bug's batch face: with `.partition_by(site)` dropped,
    an AND pattern matched ACROSS sites. Pinned: DoorOpen at site A +
    MotionSeen at site B must NOT complete."""
    from varpulis_spark.engine import get_spark
    from varpulis_spark.sources.event_file import load_evt
    from varpulis_spark.stream import Stream
    from varpulis_spark.vpl.compiler import run_program

    spark = get_spark("sase-coverage-port")
    src = """
pattern Intrusion = DoorOpen as d AND MotionSeen as m

stream Alerts = Intrusion
    .partition_by(site)
    .emit(kind: "intrusion", site: d.site)
"""
    evt = (
        'DoorOpen { site: "a" }\n'
        '@100 MotionSeen { site: "b" }\n'
        '@200 MotionSeen { site: "a" }\n'
    )
    res = run_program(src, Stream(load_evt(spark, evt), ts_col="ts",
                                  order_col="event_id"))
    rows = res["Alerts"].collect()
    assert [r.site for r in rows] == ["a"], \
        "cross-site DoorOpen+MotionSeen must not match"
