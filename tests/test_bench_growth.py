"""bench.py growth arithmetic, verdict rule and scale-pair guards.
Spark-free: growth/classify/growth_block are pure Python over timings, and
the fixture/ledger guards read only dir names (gen_sf1 is faked)."""

from __future__ import annotations

import math
import os
import sys

import pytest

import bench

sys.path.insert(0, bench.TOOLS_DIR)
import gen_sf1  # noqa: E402


def _never():
    raise AssertionError("confirm must not run for an exponent <= SUPERLINEAR")


def test_adjusted_times_clamp_at_5ms():
    # base time under the floor: adj_base clamps to 0.005, not to <= 0
    assert bench.growth(0.05, 0.5, 10.0, floor=0.1) == round(math.log10(0.4 / 0.005), 3)
    # both under the floor: both clamp, exponent 0
    assert bench.growth(0.01, 0.02, 10.0, floor=0.1) == 0.0
    assert bench.growth(0.2, 2.0, 10.0, floor=0.0) == 1.0


def test_superlinear_needs_t_hi_over_half_a_second():
    # ratio 3, floor 0.05: adj 0.10 -> 0.55 / 0.45, both exponents > 1.1
    g, t_hi, verdict = bench.classify(0.15, 0.6, 3.0, 0.05, lambda: 0.6)
    assert verdict == "superlinear" and g > bench.SUPERLINEAR and t_hi == 0.6
    g, _, verdict = bench.classify(0.15, 0.5, 3.0, 0.05, lambda: 0.5)
    assert g > bench.SUPERLINEAR and verdict == "watch"


def test_base_time_inside_the_floor_band_is_floor_dominated():
    floor = 0.1
    base = floor + 0.01  # adj 0.01 -> 0.35: exponent 1.54
    _, _, verdict = bench.classify(base, 0.45, 10.0, floor, lambda: 0.45)
    assert verdict == "floor_dominated"
    # the same slope with t_hi past the jitter bar is still superlinear
    _, _, verdict = bench.classify(base, 0.9, 10.0, floor, lambda: 0.9)
    assert verdict == "superlinear"
    # base clear of the band by EPS: watch, not floor_dominated
    _, _, verdict = bench.classify(floor + bench.GROWTH_FLOOR_EPS, 0.45, 3.0, floor,
                                   lambda: 0.45)
    assert verdict == "watch"


def test_confirm_keeps_the_min():
    # lower re-time: adopted, exponent recomputed (1.30 -> 0.70) and cleared
    g, t_hi, verdict = bench.classify(0.3, 6.0, 10.0, 0.0, lambda: 1.5)
    assert (t_hi, verdict) == (1.5, None) and g == bench.growth(0.3, 1.5, 10.0, 0.0)
    # higher re-time or an error string: the first reading stands
    for again in (8.0, "ERROR Py4JError: boom"):
        g, t_hi, verdict = bench.classify(0.3, 6.0, 10.0, 0.0, lambda a=again: a)
        assert (g, t_hi, verdict) == (1.301, 6.0, "superlinear")
    # an exponent at or under SUPERLINEAR never re-times
    assert bench.classify(0.3, 0.6, 10.0, 0.0, _never)[2] is None


def test_growth_block_updates_hi_times_and_skips_errors():
    base = {"a": 0.3, "b": 0.3, "c": "ERROR X: y", "d": 0.3}
    hi = {"a": 6.0, "b": 0.6, "c": 1.0, "d": "ERROR X: y"}
    confirmed = []

    def confirm(n):
        confirmed.append(n)
        return 5.0

    blk = bench.growth_block(base, hi, 10.0, 0.0, confirm)
    assert confirmed == ["a"]
    assert hi["a"] == 5.0 and hi["b"] == 0.6
    assert set(blk["exponent"]) == {"a", "b"}
    assert blk["superlinear"] == ["a"]
    assert blk["floor_dominated"] == {} and blk["watch"] == {}


def test_scale_ratio_comes_from_the_dir_names():
    assert bench.scale_ratio("/data/sf0.1", "/repo/testdata_sf1/sf1") == pytest.approx(10.0)
    assert bench.scale_ratio("/data/sf0.01/", "/data/sf0.1") == pytest.approx(10.0)
    assert bench.scale_ratio("/repo/testdata_sf1/sf1", "/repo/testdata_sf3/sf3") == 3.0
    assert bench.scale_ratio("/data/sf0.1", "/data/sf0.1") is None
    assert bench.scale_ratio("/data/sf1", "/data/sf0.1") is None
    assert bench.scale_ratio("/data/sf0.1", "/data/fixtures") is None


@pytest.fixture
def fake_gen(monkeypatch):
    calls = []

    def main(argv):
        calls.append(argv)
        os.makedirs(argv[argv.index("--out") + 1])

    monkeypatch.setattr(gen_sf1, "main", main)
    return calls


@pytest.mark.parametrize(
    "src, out, factor, generated",
    [
        ("sf0.01", "testdata_sf1/sf1", 10, False),
        ("sf0.001", "testdata_sf3/sf3", 30, False),
        ("sf0.1", "testdata_sf1/sf1", 10, True),
        ("sf0.1", "testdata_sf3/sf3", 30, True),
    ],
)
def test_fixtures_generate_only_from_the_matching_source_scale(
    tmp_path, fake_gen, src, out, factor, generated
):
    src_dir, out_dir = tmp_path / src, tmp_path / out
    src_dir.mkdir()
    assert bench.ensure_fixtures(str(src_dir), str(out_dir), factor) is generated
    if generated:
        assert fake_gen == [
            ["--src", str(src_dir), "--out", str(out_dir), "--factor", str(factor)]
        ]
    else:
        assert fake_gen == [] and not out_dir.exists()


def test_existing_fixtures_are_used_as_they_are(tmp_path, fake_gen):
    (tmp_path / "sf0.01").mkdir()
    (tmp_path / "sf1").mkdir()
    assert bench.ensure_fixtures(str(tmp_path / "sf0.01"), str(tmp_path / "sf1"), 10)
    assert fake_gen == []


def test_only_the_sf01_to_sf1_pair_folds_into_the_ledger():
    assert bench.folds_ledger("/data/sf0.1", "/repo/testdata_sf1/sf1")
    assert not bench.folds_ledger("/data/sf0.001", "/data/sf0.01")
    assert not bench.folds_ledger("/data/sf0.01", "/data/sf0.1")
    assert not bench.folds_ledger("/data/sf0.01", "/repo/testdata_sf1/sf1")
