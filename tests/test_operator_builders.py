"""One definition per operator: the plan bench, scaling, profiling and the
plan dumps run for a name is the plan its registry entry checks.

Runs without Spark: DataFrames, Columns and the operator modules are
recording stand-ins, so only the wiring is under test — which builder each
path calls, how often, and with which operator parameters.
"""

from __future__ import annotations

import pytest

import bench
from supersonic_spark import queries as Q
from supersonic_spark import queries_pipeline as qp
from tools import dump_plans, scaling

#: the names whose registry entry is a check wrapper around a builder
BUILT = [
    "dedup_minhash_lsh",
    "dedup_minhash_estimate",
    "dedup_simhash",
    "dedup_semantic_semdedup",
    "dedup_incremental_minhash",
    "similarity_ivf_index_probe",
    "similarity_lsh_ann",
    "similarity_ivf_ann",
    "similarity_pq_ann",
    "similarity_ivfpq_ann",
]


class Stub:
    """A DataFrame, Column, Window or function: every attribute, call,
    index and operator yields the stub itself."""

    def __getattr__(self, name):
        return self

    def __call__(self, *args, **kwargs):
        return self

    def __getitem__(self, key):
        return self

    def __iter__(self):
        return iter(())

    def __bool__(self):
        return True

    def _op(self, *other):
        return self

    __add__ = __radd__ = __sub__ = __rsub__ = __mul__ = __rmul__ = _op
    __truediv__ = __floordiv__ = __mod__ = __neg__ = __invert__ = _op
    __and__ = __rand__ = __or__ = __ror__ = _op
    __eq__ = __ne__ = __lt__ = __le__ = __gt__ = __ge__ = _op
    __hash__ = object.__hash__


STUB = Stub()


class Recorder:
    """Stands in for an operator module: records every call."""

    def __init__(self, module: str, log: list):
        self._module, self._log = module, log

    def __getattr__(self, fn):
        def call(*args, **kwargs):
            norm = lambda v: "<stub>" if isinstance(v, Stub) else v  # noqa: E731
            self._log.append((
                f"{self._module}.{fn}",
                tuple(norm(a) for a in args),
                {k: norm(v) for k, v in kwargs.items()},
            ))
            return STUB

        return call


def test_tool_names_resolve_to_registry_names():
    names = set(bench.HEADLINE) | set(scaling.QUERIES) | set(dump_plans.SCALE_EXTRAS)
    for name in sorted(names):
        assert callable(Q.operator_query(name)), name
        assert name in Q.REGISTRY, name
    assert set(BUILT) == set(Q.OPERATORS)


@pytest.mark.parametrize("name", BUILT)
def test_registry_entry_wraps_the_timed_builder(name, monkeypatch):
    Q.operator_query(name)  # imports every query module
    log: list = []
    for mod in ("dedup", "similarity"):
        monkeypatch.setattr(qp, mod, Recorder(mod, log))
    for attr in ("F", "Window", "core"):
        monkeypatch.setattr(qp, attr, STUB)
    monkeypatch.setattr(qp, "_t", lambda spark, sf_dir: STUB)
    monkeypatch.setattr(qp, "track_persist", lambda df: df)

    builder, inputs = Q.OPERATORS[name]
    calls: list = []

    def spy(*args):
        start = len(log)
        out = builder(*args)
        calls.append(log[start:])
        return out

    monkeypatch.setitem(Q.OPERATORS, name, (spy, inputs))

    Q.operator_query(name)(STUB, "/data/sf1")
    assert len(calls) == 1, "the timed plan must call the builder once"
    Q.REGISTRY[name][0](STUB, "/data/sf1")
    assert len(calls) == 2, "the registry entry must call the same builder, once"
    timed, checked = calls
    assert timed, f"{name}'s builder makes no operator call"
    assert timed == checked, "the checked operator call differs from the timed one"
