"""bench.py stdout line: always one parseable JSON line within the ~2000-char
tail its consumers capture, whatever the payload holds.  Spark-free: stdout_line is pure
Python over the sidecar payload."""

from __future__ import annotations

import json

import bench

ERR = "ERROR AnalysisException: " + "x" * 160  # time_query's longest form


def _payload(queries: dict, **extra) -> dict:
    errors = sorted(k for k, v in queries.items() if isinstance(v, str))
    return {
        "metric": "headline_queries_total_warm",
        "value": 12.3456,
        "unit": "sec",
        "queries": queries,
        "uncached_value": 23.4567,
        "sf": 0.1,
        "calibration": {"start": 0.1, "end": 0.1},
        "superlinear": ["q_a", "q_b"],
        "superlinear_hi": ["q_c"],
        "streaming": {"rec_per_sec": 16000.0, "notes": "n" * 3000,
                      "passthrough": {"rec_per_sec": 30000.0},
                      "stateful_tuned": {"rec_per_sec": 20000.0}},
        **({"errors": errors} if errors else {}),
        **extra,
    }


def _parse(payload: dict) -> dict:
    line = bench.stdout_line(payload)
    assert "\n" not in line
    assert len(line) <= bench.LINE_LIMIT, len(line)
    out = json.loads(line)
    for k in bench.REQUIRED_KEYS:
        assert out[k] == payload[k]
    return out


def test_error_strings_become_markers_and_the_map_survives():
    queries = {f"query_{i:02d}": 0.12345 for i in range(40)}
    queries.update({f"broken_{i}": ERR for i in range(8)})
    out = _parse(_payload(queries))
    assert set(out["queries"]) == set(queries)
    assert {out["queries"][f"broken_{i}"] for i in range(8)} == {bench.ERROR_MARKER}
    assert out["queries"]["query_00"] == 0.123


def test_errors_list_is_shed_before_the_map():
    # 56 failing ids: the map (~1.5k chars) fits the line only without the
    # errors list (~1.1k chars)
    queries = {f"failing_query_{i:02d}": ERR for i in range(56)}
    out = _parse(_payload(queries))
    assert "errors" not in out
    assert set(out["queries"]) == set(queries)


def test_oversized_map_falls_back_to_the_required_keys():
    queries = {f"q{i:03d}_{'n' * 30}": (ERR if i % 3 else 1.5) for i in range(300)}
    out = _parse(_payload(queries))
    assert set(out) == set(bench.REQUIRED_KEYS)
