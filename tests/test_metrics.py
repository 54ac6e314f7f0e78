"""Prometheus latency histogram: buckets cover micro-batch latencies and
the exposition text stays well-formed."""

import re

from varpulis_spark.metrics import LATENCY_BUCKETS, LatencyHistogram, prometheus_text

_LABEL = re.compile(r'([a-zA-Z_][a-zA-Z0-9_]*)="((?:[^"\\]|\\.)*)"')
_SAMPLE = re.compile(
    rf"^(?P<name>[a-zA-Z_:][a-zA-Z0-9_:]*)"
    rf"(?:\{{(?P<labels>{_LABEL.pattern}(?:,{_LABEL.pattern})*)\}})?"
    rf" (?P<value>\S+)$"
)


def _parse(text: str) -> list[tuple[str, dict, float]]:
    samples = []
    for line in text.splitlines():
        if not line or line.startswith("#"):
            assert line == "" or re.match(r"^# (HELP|TYPE) \S+ .+$", line), line
            continue
        m = _SAMPLE.match(line)
        assert m, line
        labels = dict(_LABEL.findall(m["labels"] or ""))
        samples.append((m["name"], labels, float(m["value"])))
    return samples


def test_two_second_observation_lands_in_a_finite_bucket():
    assert LATENCY_BUCKETS == sorted(LATENCY_BUCKETS)
    assert LATENCY_BUCKETS[-1] >= 10.0
    h = LatencyHistogram()
    h.record(2.0)
    h.record(0.0003)
    assert h.inf == 0
    assert sum(h.counts) == 2

    samples = _parse(prometheus_text({}, {}, {}, 1, latency={"s": h}))
    buckets = [
        (lab["le"], v) for name, lab, v in samples
        if name == "varpulis_processing_latency_seconds_bucket"
    ]
    assert buckets[-1] == ("+Inf", 2.0)
    finite = [(float(le), v) for le, v in buckets[:-1]]
    assert [le for le, _ in finite] == LATENCY_BUCKETS
    assert [v for _, v in finite] == sorted(v for _, v in finite)  # cumulative
    assert dict(finite)[2.5] == 2.0 and dict(finite)[1.0] == 1.0
    count = [v for name, _, v in samples if name.endswith("_seconds_count")]
    assert count == [2.0]
