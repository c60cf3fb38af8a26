"""State providers — persist/load mergeable analyzer states for
incremental computation.

Reference parity: /root/reference/src/main/scala/com/amazon/deequ/analyzers/
StateProvider.scala:45-200 (InMemoryStateProvider, HdfsStateProvider).

Spark-first storage: frequency states round-trip as parquet (distributed
write, no driver collect); scalar states as JSON; HLL sketches as binary
files — all formats any Spark cluster can read back.
"""

from __future__ import annotations

import base64
import dataclasses
import hashlib
import json
import os
import shutil
from typing import Any, Dict, Optional

from pyspark.sql import SparkSession

from .analyzers import base as B
from .analyzers import grouping as G
from .analyzers import scan as S
from .analyzers.base import Analyzer, State


class StateProvider:
    def persist(self, analyzer: Analyzer, state: State) -> None:
        raise NotImplementedError

    def load(self, analyzer: Analyzer) -> Optional[State]:
        raise NotImplementedError


class InMemoryStateProvider(StateProvider):
    """Parity: StateProvider.scala InMemoryStateProvider."""

    def __init__(self):
        self._states: Dict[Analyzer, State] = {}

    def persist(self, analyzer: Analyzer, state: State) -> None:
        self._states[analyzer] = state

    def load(self, analyzer: Analyzer) -> Optional[State]:
        return self._states.get(analyzer)

    def unpersist(self) -> None:
        """Release the cached frequency tables of the held states — the
        caches ``do_analysis_run(keep_state_cache=True)`` leaves to its
        caller."""
        for state in self._states.values():
            freq = getattr(state, "frequencies", None)
            if freq is not None:
                freq.unpersist()


_SCALAR_STATES = {
    "NumMatches": B.NumMatches,
    "NumMatchesAndCount": B.NumMatchesAndCount,
    "MinState": B.MinState,
    "MaxState": B.MaxState,
    "SumState": B.SumState,
    "MeanState": B.MeanState,
    "StandardDeviationState": B.StandardDeviationState,
    "ThirdMomentState": B.ThirdMomentState,
    "FourthMomentState": B.FourthMomentState,
    "CorrelationState": B.CorrelationState,
    "DataTypeHistogram": S.DataTypeHistogram,
    "_RatioState": S._RatioState,
    "RangeState": S.RangeState,
    "_QuantileState": S._QuantileState,
    # HistogramBinned edges/counts (StateProviderTest.scala:194-210)
    "_BinnedState": G._BinnedState,
}


# a frequency table's row count, a file inside its parquet directory
_NUM_ROWS = "_num_rows.json"


class FileSystemStateProvider(StateProvider):
    """Directory-backed provider: one file per analyzer state.

    Scalar states → JSON; HLL sketches → base64 JSON; frequency states →
    parquet subdirectory written/read by Spark itself (stays distributed).
    """

    def __init__(self, path: str, spark: Optional[SparkSession] = None,
                 allow_overwrite: bool = False):
        """``allow_overwrite`` mirrors HdfsStateProvider.allowOverwrite
        (StateProviderTest.scala:134-176): by default a second persist of
        the SAME analyzer fails with 'already exists'.

        BEHAVIOR CHANGE vs pre-r6 releases of this package: the default
        used to silently overwrite. Callers that persist twice to one
        path — in particular chaining ``do_analysis_run(aggregate_with=
        provider, save_states_with=provider)`` on the SAME provider,
        which loads prior states then writes the merged ones back —
        must pass ``allow_overwrite=True`` (or point
        ``save_states_with`` at a distinct path)."""
        self.path = path
        self.spark = spark
        self.allow_overwrite = allow_overwrite
        os.makedirs(path, exist_ok=True)

    def _file_for(self, analyzer: Analyzer) -> str:
        # The identity must be stable ACROSS driver processes (states written
        # by one run are loaded by the next): built-in hash() of strings is
        # randomized per process (PYTHONHASHSEED), so derive the name from
        # the serialized analyzer parameters instead.
        from .repository import serialize_analyzer
        try:
            payload = json.dumps(serialize_analyzer(analyzer), sort_keys=True,
                                 default=str)
        except TypeError:
            payload = repr(sorted(analyzer.__dict__.items(),
                                  key=lambda kv: kv[0]))
        digest = hashlib.sha1(payload.encode()).hexdigest()[:16]
        ident = f"{type(analyzer).__name__}-{digest}"
        return os.path.join(self.path, ident)

    def persist(self, analyzer: Analyzer, state: State) -> None:
        target = self._file_for(analyzer)
        if not self.allow_overwrite and os.path.exists(target + ".json"):
            raise FileExistsError(
                f"State for {analyzer} already exists at {target}; pass "
                "allow_overwrite=True to replace it")
        if isinstance(state, G.FrequenciesAndNumRows):
            # the state may be a lazy plan over the live table (one
            # provider as both aggregate_with and save_states_with), which
            # an in-place overwrite would delete mid-read: write beside it
            # with its row count inside, then swap — the rename of the new
            # directory is the one commit point, so a crash leaves one
            # complete table with its own count
            table = target + ".freq.parquet"
            fresh, stale = table + ".new", table + ".old"
            shutil.rmtree(fresh, ignore_errors=True)
            state.frequencies.write.parquet(fresh)
            # Spark's file listing skips names starting with "_"
            with open(os.path.join(fresh, _NUM_ROWS), "w") as f:
                json.dump(state.num_rows, f)
            if os.path.exists(table):
                shutil.rmtree(stale, ignore_errors=True)
                os.rename(table, stale)
            os.rename(fresh, table)
            self._write_json(target, {"stateType": "FrequenciesAndNumRows"})
            shutil.rmtree(stale, ignore_errors=True)
            return
        from .analyzers.kll import KLLState
        if isinstance(state, KLLState):
            import pickle
            payload = {"stateType": "KLLState",
                       "sketch": base64.b64encode(
                           pickle.dumps(state.sketch)).decode(),
                       "parameters": [state.parameters.sketch_size,
                                      state.parameters.shrinking_factor,
                                      state.parameters.number_of_buckets]}
        elif isinstance(state, S.ApproxCountDistinctState):
            payload = {"stateType": "ApproxCountDistinctState",
                       "sketch": base64.b64encode(state.sketch_bytes).decode()}
        elif isinstance(state, S.ApproxQuantileState):
            import pickle
            payload = {"stateType": "ApproxQuantileState",
                       "sketch": base64.b64encode(
                           pickle.dumps(state.sketch)).decode()}
        elif dataclasses.is_dataclass(state):
            payload = {"stateType": type(state).__name__,
                       **dataclasses.asdict(state)}
        else:
            raise ValueError(f"Cannot persist state {type(state).__name__}")
        self._write_json(target, payload)

    @staticmethod
    def _write_json(target: str, payload: Dict[str, Any]) -> None:
        with open(target + ".json.tmp", "w") as f:
            json.dump(payload, f)
        os.replace(target + ".json.tmp", target + ".json")

    def load(self, analyzer: Analyzer) -> Optional[State]:
        target = self._file_for(analyzer)
        meta_path = target + ".json"
        if not os.path.exists(meta_path):
            return None
        with open(meta_path) as f:
            payload = json.load(f)
        stype = payload.pop("stateType")
        if stype == "FrequenciesAndNumRows":
            spark = self.spark or SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError("need a SparkSession to load frequency state")
            table = target + ".freq.parquet"
            if not os.path.exists(table):
                table += ".old"  # a persist was cut between its renames
            num_rows = os.path.join(table, _NUM_ROWS)
            if os.path.exists(num_rows):  # else written before it moved in
                with open(num_rows) as f:
                    payload["numRows"] = json.load(f)
            freq = spark.read.parquet(table)
            return G.FrequenciesAndNumRows(freq, payload["numRows"])
        if stype == "KLLState":
            import pickle
            from .analyzers.kll import KLLParameters, KLLState
            return KLLState(pickle.loads(base64.b64decode(payload["sketch"])),
                            KLLParameters(*payload["parameters"]))
        if stype == "ApproxCountDistinctState":
            return S.ApproxCountDistinctState(base64.b64decode(payload["sketch"]))
        if stype == "ApproxQuantileState":
            import pickle
            return S.ApproxQuantileState(
                pickle.loads(base64.b64decode(payload["sketch"])))
        cls = _SCALAR_STATES.get(stype)
        if cls is None:
            raise ValueError(f"Unknown state type {stype}")
        # JSON turns tuple fields (e.g. _BinnedState.edges/counts) into
        # lists — coerce back so merges against fresh states compare equal
        payload = {k: tuple(v) if isinstance(v, list) else v
                   for k, v in payload.items()}
        return cls(**payload)
