"""The benchmark's metric catalogue: the source of ``BENCHMARK.json``.

Every per-layer metric records the end-to-end metric it should move and on
which workload, so a later change can state its prediction by name.

Layer self times: an op's span holds a ``queries`` build span and one
execute span of the op's layer, neither with children, so ``queries.build_s``
and each ``<layer>.exec_s`` are self times, and ``trace.op_self_frac`` is the
share of op wall time the two leave unexplained.

    python3 perfbench/metrics.py > BENCHMARK.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ops import WORKLOADS  # noqa: E402

RUN_SECONDS = 10

#: name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_p75_s", "s", "lower", 0.25),
    ("peak_pss_mb", "MB", "lower", 0.25),
]

REL, PIPE = "relational", "pipeline_streaming"

#: executing layers: the module that owns each op
EXEC_LAYERS = {
    "operators": REL,
    "functions": REL,
    "pipeline.dedup": PIPE,
    "pipeline.similarity": PIPE,
    "pipeline.multimodal": PIPE,
    "pipeline.textstats": PIPE,
    "pipeline.sampling": PIPE,
    "streaming": PIPE,
}

#: per executing layer: suffix, unit.  python_* only where the layer's ops
#: run a Python lane: the others' ops plan none, so theirs read 0 by
#: construction
EXEC_METRICS = [
    ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("tasks_failed", "count"), ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_fetch_wait_s", "s"), ("spill_bytes", "bytes"),
    ("python_run_s", "s"), ("python_start_s", "s"),
]
NO_PYTHON = ("operators", "functions", "pipeline.dedup", "pipeline.textstats",
             "pipeline.sampling", "streaming")


def _moves(layer: str, suffix: str) -> tuple[str, str]:
    """(end-to-end metric, workload) an executing-layer metric should move."""
    if layer == "streaming":
        return "rows_per_s", PIPE
    if layer in ("operators", "functions"):
        return ("op_p75_s" if suffix.startswith(("shuffle", "spill", "gc")) else "rows_per_s"), REL
    if suffix.startswith("python"):
        return "op_p50_s", PIPE
    if layer == "pipeline.dedup" and suffix.startswith("shuffle"):
        return "op_p75_s", PIPE
    return "op_p50_s", PIPE


def per_layer() -> list[dict]:
    """name, unit, better, and the (moves, on) prediction of every
    per-layer metric, in output order."""
    rows = [
        ("session.start_s", "s", "setup_s", "all"),
        ("session.load_tables_s", "s", "setup_s", "all"),
        ("sources.ingest_s", "s", "setup_s", REL),
        ("sources.ingest_bytes", "bytes", "setup_s", REL),
        ("sources.scan_bytes", "bytes", "rows_per_s", REL),
        ("sources.scan_time_s", "s", "rows_per_s", REL),
        ("sources.rows_scanned_per_row_out", "ratio", "rows_per_s", REL),
        ("queries.build_s", "s", "op_p50_s", PIPE),
        ("queries.build_jobs", "count", "op_p50_s", PIPE),
    ]
    for layer in EXEC_LAYERS:
        for suffix, unit in EXEC_METRICS:
            if layer in NO_PYTHON and suffix.startswith("python"):
                continue
            rows.append((f"{layer}.{suffix}", unit, *_moves(layer, suffix)))
    rows += [
        ("streaming.batch_p50_s", "s", "rows_per_s", PIPE),
        ("streaming.state_rows", "count", "rows_per_s", PIPE),
        ("streaming.state_bytes", "bytes", "rows_per_s", PIPE),
        ("streaming.state_commit_s", "s", "rows_per_s", PIPE),
        ("trace.overhead_s", "s", "none (tracing cost)", "all"),
        ("trace.collect_s", "s", "none (tracing cost)", "all"),
        ("trace.op_self_frac", "ratio", "none (trace coverage)", "all"),
    ]
    return [
        {"name": n, "unit": u, "better": "lower", "moves": mv, "on": on}
        for n, u, mv, on in rows
    ]


def spec() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [
            {k: m[k] for k in ("name", "unit", "better")} for m in per_layer()
        ],
    }


if __name__ == "__main__":
    print(json.dumps(spec(), indent=2))
