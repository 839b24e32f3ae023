"""bench.py's stdout line stays inside the 2000-char tail its readers keep."""
import json

from bench import LINE_MAX, stdout_line


def _record(names):
    times = {n: 12.345 for n in names}
    return {"metric": "bench_total", "value": 654.321, "unit": "sec",
            "sf": 0.1, "reps": 5, "n_queries": len(times),
            "sentinel": {"pre": 0.123, "post": 0.145},
            "worst5": dict(list(times.items())[:5]),
            "queries": times, "full": "BENCH_LOCAL.json"}


def test_line_keeps_queries_when_it_fits():
    line = stdout_line(_record([f"query_{i:02d}" for i in range(53)]))
    assert len(line) <= LINE_MAX
    assert len(json.loads(line)["queries"]) == 53


def test_line_drops_queries_when_too_long():
    rec = _record([f"a_rather_long_registry_query_name_{i:03d}"
                   for i in range(400)])
    line = stdout_line(rec)
    assert len(line) <= LINE_MAX
    got = json.loads(line)
    assert "queries" not in got
    assert got["value"] == rec["value"] and got["worst5"] == rec["worst5"]
