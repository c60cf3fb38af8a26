"""Independent expected values for the verification metrics, computed with
DuckDB over the same parquet files the engine reads.

Counts compare exactly, floating-point metrics at 1e-9 relative error.
Sketches compare against the exact answer within their error bound:
ApproxCountDistinct (HLL, lgConfigK=12) within 5% of the exact distinct
count, ApproxQuantile within its rank error (0.01), and the KLL bucket
distribution's cumulative counts within 1% of the row count.
"""

from __future__ import annotations

import math
from typing import Dict, List

import duckdb
import numpy as np

REL = 1e-9
HLL_REL = 0.05
QUANTILE_RANK = 0.01
KLL_RANK = 0.01


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _close(got, want, rel=REL) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return math.isclose(float(got), float(want), rel_tol=rel, abs_tol=1e-12)


class DuckOracle:
    """Checks engine metrics against queries over ``parquet_glob``."""

    def __init__(self, parquet_glob: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.src = f"read_parquet('{parquet_glob}')"
        self.n = self.con.execute(
            f"SELECT count(*) FROM {self.src}").fetchone()[0]
        self._columns: Dict[str, np.ndarray] = {}

    def _one(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def _sorted(self, column: str) -> np.ndarray:
        if column not in self._columns:
            got = self.con.execute(
                f"SELECT CAST({_q(column)} AS DOUBLE) AS v FROM {self.src} "
                f"WHERE {_q(column)} IS NOT NULL").fetchnumpy()["v"]
            self._columns[column] = np.sort(np.asarray(got, dtype=float))
        return self._columns[column]

    def _freq(self, cols) -> str:
        keys = ", ".join(_q(c) for c in cols)
        any_set = " OR ".join(f"{_q(c)} IS NOT NULL" for c in cols)
        return (f"(SELECT {keys}, count(*) AS n FROM {self.src} "
                f"WHERE {any_set} GROUP BY ALL)")

    def expected(self, analyzer):
        """The exact value the analyzer estimates or computes."""
        kind = type(analyzer).__name__
        col = getattr(analyzer, "column", None)
        c = _q(col) if col else None
        if kind == "Size":
            return self.n
        if kind == "Completeness":
            return self._one(f"SELECT count({c}) / count(*) FROM {self.src}")
        if kind == "Compliance":
            pred = analyzer.predicate.replace("`", '"')
            return self._one(f"SELECT sum(CAST(({pred}) AS INTEGER)) "
                             f"/ count(*) FROM {self.src}")
        if kind == "PatternMatch":
            pat = analyzer.pattern.replace("'", "''")
            return self._one(
                f"SELECT sum(CASE WHEN regexp_extract({c}, '{pat}', 0) <> '' "
                f"THEN 1 ELSE 0 END) / count(*) FROM {self.src}")
        if kind in ("Minimum", "Maximum", "Mean", "Sum", "StandardDeviation"):
            fn = {"Minimum": "min", "Maximum": "max", "Mean": "avg",
                  "Sum": "sum", "StandardDeviation": "stddev_pop"}[kind]
            return self._one(f"SELECT CAST({fn}({c}) AS DOUBLE) "
                             f"FROM {self.src}")
        if kind == "ApproxCountDistinct":
            return self._one(f"SELECT count(DISTINCT {c}) FROM {self.src}")
        if kind == "Uniqueness":
            return self._one(
                f"SELECT sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) / sum(n) "
                f"FROM {self._freq(analyzer.columns)}")
        if kind == "Entropy":
            return self._one(
                f"SELECT -sum(n / t * ln(n / t)) FROM {self._freq(analyzer.columns)}, "
                f"(SELECT sum(n) AS t FROM {self._freq(analyzer.columns)})")
        if kind == "MutualInformation":
            a, b = (_q(x) for x in analyzer.columns)
            f = self._freq(analyzer.columns)
            return self._one(
                f"WITH f AS {f}, t AS (SELECT sum(n) AS t FROM f), "
                f"ma AS (SELECT {a}, sum(n) AS na FROM f GROUP BY {a}), "
                f"mb AS (SELECT {b}, sum(n) AS nb FROM f GROUP BY {b}) "
                f"SELECT sum(n / t * ln((n / t) / ((na / t) * (nb / t)))) "
                f"FROM f JOIN ma USING ({a}) JOIN mb USING ({b}), t")
        if kind == "Histogram":
            rows = self.con.execute(
                f"SELECT coalesce(CAST({c} AS VARCHAR), 'NullValue'), count(*) "
                f"FROM {self.src} GROUP BY 1").fetchall()
            return dict(rows)
        if kind in ("ApproxQuantile", "KLLSketch"):
            return self._sorted(col)
        raise ValueError(f"no oracle for {kind}")

    def mismatches(self, metric_map, expected: Dict) -> List[str]:
        """Descriptions of every metric that disagrees with ``expected``
        (analyzer -> value from :meth:`expected`)."""
        bad = []
        for a, want in expected.items():
            m = metric_map.get(a)
            if m is None or not m.is_success:
                bad.append(f"{a}: failed ({getattr(m, 'error', None)})")
            elif not self.agrees(a, m.value, want):
                bad.append(f"{a}: got {_brief(m.value)}")
        return bad

    def agrees(self, analyzer, got, want) -> bool:
        kind = type(analyzer).__name__
        if kind == "Size":
            return got == want
        if kind == "ApproxCountDistinct":
            return abs(got - want) <= HLL_REL * want
        if kind == "Histogram":
            total = sum(want.values())
            return (got.number_of_bins == len(want)
                    and {k: v.absolute for k, v in got.values.items()} == want
                    and all(_close(v.ratio, v.absolute / total)
                            for v in got.values.values()))
        if kind == "ApproxQuantile":
            return _rank_ok(want, got, analyzer.quantile, QUANTILE_RANK)
        if kind == "KLLSketch":
            return _kll_ok(want, got)
        return _close(got, want)


def _rank_ok(values: np.ndarray, estimate: float, q: float, eps: float) -> bool:
    """True if some rank of ``estimate`` in ``values`` is within
    ``eps * n`` of ``q * n``."""
    n = len(values)
    lo = np.searchsorted(values, estimate, side="left")
    hi = np.searchsorted(values, estimate, side="right")
    return lo - eps * n <= q * n <= hi + eps * n


def _kll_ok(values: np.ndarray, dist) -> bool:
    n = len(values)
    if sum(b.count for b in dist.buckets) != n:
        return False
    if dist.min_value != values[0] or dist.max_value != values[-1]:
        return False
    cum = 0
    for b in dist.buckets:
        cum += b.count
        exact = np.searchsorted(values, b.high_value, side="right")
        if abs(cum - exact) > KLL_RANK * n:
            return False
    return True


def _brief(value) -> str:
    text = repr(value)
    return text if len(text) < 120 else text[:117] + "..."
