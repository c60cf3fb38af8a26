"""tools/ab.py's bookkeeping, without Spark: pair wins, median and IQR,
per-round counter deltas, and each side's process environment."""

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "ab.py")
_spec = importlib.util.spec_from_file_location("ab_tool", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_pair_wins_count_ties_for_neither():
    assert ab.pair_wins([1.0, 2.0, 3.0, 4.0], [2.0, 2.0, 1.0, 5.0]) == \
        {"a": 2, "b": 1}


def test_median_and_iqr():
    med, iqr = ab.spread([4.0, 1.0, 3.0, 2.0])
    assert med == 2.5
    assert iqr == pytest.approx(1.5)    # inclusive quartiles 1.75, 3.25
    assert ab.spread([7.0]) == (7.0, 0.0)


def _round(wall, jobs, shuffle_mb, rdds):
    return {"wall_s": wall, "jobs": jobs, "stages": 2 * jobs, "tasks": 8,
            "input_records": 100, "shuffle_mb": shuffle_mb,
            "exec_cpu_s": wall / 2, "retained_rdds_before": 3,
            "retained_rdds": rdds, "retained_mb": 0.0}


def test_per_round_counter_deltas():
    a = [_round(1.0, 3, 0.5, 3), _round(1.2, 3, 0.5, 3)]
    b = [_round(0.9, 3, 0.5, 3), _round(1.3, 4, 0.5, 4)]
    out = ab.summarize(a, b)
    assert out["delta"][0]["jobs"] == 0
    assert out["delta"][1]["jobs"] == 1
    assert out["delta"][1]["stages"] == 2
    assert out["delta"][1]["retained_rdds"] == 1
    assert "wall_s" not in out["delta"][0]
    assert out["differs"] == ["jobs", "stages"]
    assert out["wins"] == {"a": 1, "b": 1}
    assert out["a"]["median_s"] == pytest.approx(1.1)
    assert out["b"]["rounds"] == b


def test_failed_round_leaves_the_pairs():
    a = [_round(1.0, 3, 0.5, 3), {"error": "boom", "jobs": 1}]
    b = [_round(2.0, 3, 0.5, 3), _round(0.1, 3, 0.5, 3)]
    out = ab.summarize(a, b)
    assert out["wins"] == {"a": 1, "b": 0}
    assert len(out["delta"]) == 1
    assert out["b"]["median_s"] == 2.0


def test_side_env_puts_its_tree_first(tmp_path):
    tree = tmp_path / "tree"
    tree.mkdir()
    cwd, env = ab.side_env(str(tree), {"PYTHONPATH": "/x:/y", "K": "v"})
    assert cwd == os.path.realpath(tree)
    assert env["PYTHONPATH"].split(os.pathsep) == [cwd, "/x", "/y"]
    assert env["K"] == "v"
    _, bare = ab.side_env(str(tree), {})
    assert bare["PYTHONPATH"] == cwd


def test_under_tree(tmp_path):
    tree = str(tmp_path / "t")
    assert ab.under(os.path.join(tree, "deequ_spark", "__init__.py"), tree)
    assert not ab.under(str(tmp_path / "t2" / "deequ_spark"), tree)
