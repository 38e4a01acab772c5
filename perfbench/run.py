#!/usr/bin/env python3
"""Benchmark runner.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process generates the workload's tables
from ``--seed`` into ``.perfbench_work/`` (excluded from every timing), sets
up a ``local[N]`` session (N = min(4, nproc) // 2; driver heap 2g), ingests
the tables into a split-friendly layout, runs every op once to warm up and
check its output (relational: twice), then runs closed-loop passes (one
client, ops one after another, op order shuffled per pass by the seed) for
at least ``--seconds``, until the p75 has ten samples beyond it and for at
least the workload's ``min_passes``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced passes and prints the per-layer metrics, read from
Spark's status store per op job group, plus the tracing overhead.  Spans are
written to ``.perfbench_out/``.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: an op still running after this long is cancelled and counted as failed
OP_TIMEOUT_S = 90.0
#: hard stop for the measured window, so a run ends well inside 180 s
WINDOW_CAP_S = 110.0
SETUP_REPS = 2
#: the tail percentile reported; the window runs until it has its samples
TAIL_Q = 75
DRIVER_MEM = "2g"


def _elapsed(t0: float) -> float:
    return time.perf_counter() - t0


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: str):
        from ops import WORKLOADS
        from stats import OpTally
        from tracing import Tracer

        self.w = WORKLOADS[workload]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = work
        self.tracer = Tracer(enabled=trace)
        self.ops = self.w.ops()
        self.rng = random.Random(seed)
        self.failed_checks: set[str] = set()
        self.rows_out: dict[str, int] = {}
        self.tally = OpTally()
        self.n_ckpt = 0

    # ------------------------------------------------------------ setup
    def setup(self) -> dict:
        from statistics import median

        import gen
        from tracing import StatusReader

        raw = os.path.join(self.work, "raw")
        self.table_rows = gen.write_tables(raw, self.seed, self.w.sf)
        t = self.tracer
        with t.span("setup"):
            with t.span("session", "start") as sp:
                from supersonic_spark.session import get_spark

                self.spark = get_spark("perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
            start_s = sp.dur
            reps = []
            for k in range(SETUP_REPS):
                # each rep loads a fresh copy so the loader's memo misses
                src = os.path.join(self.work, f"raw{k}")
                shutil.copytree(raw, src)
                reps.append(self._ingest(src, os.path.join(self.work, f"data{k}")))
            self.data = os.path.join(self.work, f"data{SETUP_REPS - 1}")
            self.stream_dir = os.path.join(self.work, "stream")
            warm_s = self._warm_and_check()
            for _ in range(self.w.warm_passes - 1):
                warm_s += self._warm_repeat()
        self.status = StatusReader(self.spark) if self.trace else None
        med = {k: median([r[k] for r in reps]) for k in reps[0]}
        return {
            "setup_s": start_s + med["total"] + warm_s,
            "session.start_s": start_s,
            "session.load_tables_s": med["load"],
            "sources.ingest_s": med["ingest"],
            "sources.ingest_bytes": med["bytes"],
        }

    def _ingest(self, src: str, dst: str) -> dict:
        """Load the raw tables and rewrite them split-friendly: the big
        facts as one file per core, the rest as one file; plus the
        streaming source when the workload drains one."""
        from concurrent.futures import ThreadPoolExecutor

        from ops import write_stream_source
        from supersonic_spark.session import load_tables

        t, spark = self.tracer, self.spark
        used = sorted({tb for op in self.ops if not op.stream for tb in op.tables})
        with t.span("session", "load_tables") as sp_load:
            tables = load_tables(spark, src, names=used)
        cpus = spark.sparkContext.defaultParallelism
        with t.span("sources", "ingest") as sp_ing:
            def write(item):
                name, df = item
                n = cpus if name in ("lineitem", "orders", "events") else 1
                df.repartition(n).write.mode("overwrite").parquet(
                    os.path.join(dst, f"{name}.parquet"))

            with ThreadPoolExecutor(max_workers=4) as ex:
                for fut in [ex.submit(write, it) for it in tables.items()]:
                    fut.result()
            nbytes = _tree_bytes(dst)
            if any(op.stream for op in self.ops):
                sdir = os.path.join(self.work, "stream")
                shutil.rmtree(sdir, ignore_errors=True)
                nbytes += write_stream_source(os.path.join(src, "events.parquet"), sdir)
        return {"load": sp_load.dur, "ingest": sp_ing.dur,
                "total": sp_load.dur + sp_ing.dur, "bytes": nbytes}

    def _warm_and_check(self) -> float:
        """Run every op once, collecting its output, and check it against
        DuckDB.  Returns the Spark-side seconds (the warm-up part of
        set-up); the DuckDB side is excluded."""
        import duckdb

        duck = duckdb.connect()
        raw = os.path.join(self.work, "raw")
        for name in self.table_rows:
            duck.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                         f"read_parquet('{os.path.join(raw, name + '.parquet')}')")
        warm = 0.0
        for op in self.ops:
            with self.tracer.span("warm", op.name) as sp:
                try:
                    out = self._collect(op)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.failed_checks.add(op.name)
                    continue
            warm += sp.dur
            self.rows_out[op.name] = len(out)
            try:
                problems = op.check(out, duck)
            except Exception as e:  # a check that cannot run is a failed check
                problems = [f"check raised {type(e).__name__}: {e}"]
            if problems:
                self.failed_checks.add(op.name)
                print(f"CHECK FAIL {op.name}: {'; '.join(problems)}", file=sys.stderr)
        duck.close()
        return warm

    def _warm_repeat(self) -> float:
        """One more untimed pass of every op whose output checked out."""
        from supersonic_spark.session import release_two_pass_caches

        with self.tracer.span("warm", "repeat") as sp:
            for op in self.ops:
                if op.name in self.failed_checks:
                    continue
                try:
                    self._execute(op)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.failed_checks.add(op.name)
                release_two_pass_caches()
        return sp.dur

    def _collect(self, op):
        if not op.stream:
            sc = self.spark.sparkContext
            sc.setJobGroup("perfbench-check", op.name)
            timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, ["perfbench-check"])
            timer.start()
            try:
                return op.build(self.spark, self.data).toPandas()
            finally:
                timer.cancel()
        qname = f"perfbench_check_{op.name}"
        df, mode = op.build(self.spark, self.stream_dir)
        q = self._start(df.writeStream.format("memory").queryName(qname), mode)
        try:
            self._await(q)
            return self.spark.table(qname).toPandas()
        finally:
            self.spark.catalog.dropTempView(qname)

    # ------------------------------------------------------------ steady
    def _start(self, writer, mode):
        self.n_ckpt += 1
        ckpt = os.path.join(self.work, "ckpt", str(self.n_ckpt))
        return (writer.outputMode(mode).option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    def _await(self, q) -> None:
        if not q.awaitTermination(OP_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"drain exceeded {OP_TIMEOUT_S:.0f}s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def _execute(self, op, built=None, group: str = "perfbench-warm"):
        """Run a built op to the noop sink; returns the streaming query of
        a stream op (None for a batch op).  A batch op still running after
        ``OP_TIMEOUT_S`` is cancelled through its job group."""
        if built is None:
            built = op.build(self.spark, self.stream_dir if op.stream else self.data)
        if op.stream:
            df, mode = built
            q = self._start(df.writeStream.format("noop"), mode)
            self._await(q)
            return q
        sc = self.spark.sparkContext
        sc.setJobGroup(group, op.name)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
        timer.start()
        try:
            built.write.format("noop").mode("overwrite").save()
        finally:
            timer.cancel()
        return None

    def _run_op(self, op, traced: bool, group: str) -> tuple[list[float], int, dict | None]:
        """Execute one op; returns (latency samples, input rows, counters).
        Batch ops give one sample; stream ops one per micro-batch."""
        from supersonic_spark.session import release_two_pass_caches

        t, sc = self.tracer, self.spark.sparkContext
        if traced:
            sc.setJobGroup(group, op.name)
        build_jobs = 0
        with t.span("bench.op", op.name) as sp_op:
            with t.span("queries", "build") as sp_build:
                built = op.build(self.spark, self.stream_dir if op.stream else self.data)
            if traced:
                build_jobs = len(self.status.job_ids(group))
            with t.span(op.layer, "execute") as sp_exec:
                q = self._execute(op, built, group)
        release_two_pass_caches()
        if op.stream:
            prog = q.recentProgress
            samples = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in prog]
            rows = sum(int(p["numInputRows"]) for p in prog)
        else:
            samples = [sp_op.dur]
            rows = sum(self.table_rows[tb] for tb in op.tables)
        counters = None
        if traced:
            with t.span("trace", "collect") as sp_collect:
                counters = self.status.counters(str(q.runId) if op.stream else group)
            counters["collect_s"] = sp_collect.dur
            counters["build_jobs"] = build_jobs
            counters["exec_s"] = sp_exec.dur
            counters["build_s"] = sp_build.dur
            if op.stream:
                counters.update(_state_counters(prog))
        return samples, rows, counters

    def steady(self) -> dict:
        """Closed-loop passes.  Untraced runs pass until ``seconds`` have
        passed and the tail percentile has its samples.  Traced runs go in
        blocks of plain, traced, traced, plain passes until ``seconds`` have
        passed, so warm-up drift cancels out of the overhead estimate."""
        from stats import min_samples

        from tracing import MemSampler

        samples: list[float] = []
        pass_rates: list[float] = []
        pass_peaks: list[float] = []
        pass_walls = {False: [], True: []}
        layer = {}
        stream_batches: list[float] = []
        t0 = time.perf_counter()
        n_pass = 0
        with MemSampler() as mem:
            mem.active.set()
            while True:
                traced = self.trace and n_pass % 4 in (1, 2)
                order = list(self.ops)
                self.rng.shuffle(order)
                rows = 0
                mem.take_peak()
                with self.tracer.span("pass", "traced" if traced else "plain") as sp:
                    for i, op in enumerate(order):
                        try:
                            s, r, c = self._run_op(op, traced, f"pb-{n_pass}-{i}")
                        except Exception:
                            traceback.print_exc(file=sys.stderr)
                            self.tally.record(True, op.name in self.failed_checks)
                            continue
                        self.tally.record(False, op.name in self.failed_checks)
                        if not traced:
                            samples += s
                            rows += r
                        elif c is not None:
                            _accumulate(layer, op, c, self.rows_out.get(op.name, 0))
                            if op.stream:
                                stream_batches += s
                pass_walls[traced].append(sp.dur)
                if not traced:
                    pass_rates.append(rows / sp.dur)
                    pass_peaks.append(mem.take_peak() / 2**20)
                n_pass += 1
                done = _elapsed(t0) >= self.seconds
                if self.trace:
                    done = done and n_pass % 4 == 0
                else:
                    done = (done and len(samples) >= min_samples(TAIL_Q)
                            and n_pass >= self.w.min_passes)
                if done or _elapsed(t0) >= WINDOW_CAP_S:
                    break
            mem.active.clear()
        return {
            "samples": samples, "pass_rates": pass_rates, "pass_peaks": pass_peaks,
            "window_s": sum(pass_walls[False]), "pass_walls": pass_walls,
            "layer": layer, "stream_batches": stream_batches,
        }


def _state_counters(progress: list[dict]) -> dict:
    last = progress[-1]["stateOperators"] if progress else []
    return {
        "state_rows": sum(s.get("numRowsTotal", 0) for s in last),
        "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in last),
        "state_commit_s": sum(s.get("commitTimeMs", 0) for p in progress
                              for s in p["stateOperators"]) / 1000.0,
    }


def _accumulate(acc: dict, op, c: dict, rows_out: int) -> None:
    """Sum one op's counters into its layer's totals."""
    d = acc.setdefault(op.layer, {})
    for k, v in c.items():
        d[k] = d.get(k, 0.0) + v
    if not op.stream:
        d["rows_out"] = d.get("rows_out", 0.0) + rows_out


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def per_layer_metrics(setup: dict, st: dict, spans) -> dict:
    """Per-layer figures per traced pass (setup figures per run)."""
    from statistics import median

    from metrics import EXEC_LAYERS, NO_PYTHON

    n = max(1, len(st["pass_walls"][True]))
    m = {k: setup[k] for k in ("session.start_s", "session.load_tables_s",
                               "sources.ingest_s", "sources.ingest_bytes")}
    layer = st["layer"]
    tot = lambda k: sum(d.get(k, 0.0) for d in layer.values())  # noqa: E731
    m["sources.scan_bytes"] = tot("input_bytes") / n
    m["sources.scan_time_s"] = tot("scan_time_s") / n
    batch_in = sum(d.get("input_records", 0.0) for k, d in layer.items() if k != "streaming")
    batch_out = sum(d.get("rows_out", 0.0) for d in layer.values())
    m["sources.rows_scanned_per_row_out"] = batch_in / batch_out if batch_out else 0.0
    m["queries.build_s"] = tot("build_s") / n
    m["queries.build_jobs"] = tot("build_jobs") / n
    for name in EXEC_LAYERS:
        d = layer.get(name, {})
        g = lambda k, scale=1.0: d.get(k, 0.0) * scale / n  # noqa: E731
        m[f"{name}.exec_s"] = g("exec_s")
        m[f"{name}.jobs"] = g("jobs")
        m[f"{name}.stages"] = g("stages")
        m[f"{name}.tasks"] = g("tasks")
        m[f"{name}.tasks_failed"] = g("tasks_failed")
        m[f"{name}.task_run_s"] = g("task_run_ms", 1e-3)
        m[f"{name}.task_cpu_s"] = g("task_cpu_ns", 1e-9)
        m[f"{name}.gc_s"] = g("gc_ms", 1e-3)
        m[f"{name}.shuffle_write_bytes"] = g("shuffle_write_bytes")
        m[f"{name}.shuffle_read_bytes"] = g("shuffle_read_bytes")
        m[f"{name}.shuffle_fetch_wait_s"] = g("shuffle_fetch_wait_ms", 1e-3)
        m[f"{name}.spill_bytes"] = g("spill_disk_bytes")
        if name not in NO_PYTHON:
            m[f"{name}.python_run_s"] = g("python_run_s")
            m[f"{name}.python_start_s"] = g("python_start_s")
    sd = layer.get("streaming", {})
    batches = st["stream_batches"]
    m["streaming.batch_p50_s"] = median(batches) if batches else 0.0
    m["streaming.state_rows"] = sd.get("state_rows", 0.0) / n
    m["streaming.state_bytes"] = sd.get("state_bytes", 0.0) / n
    m["streaming.state_commit_s"] = sd.get("state_commit_s", 0.0) / n
    walls = st["pass_walls"]
    m["trace.overhead_s"] = sum(walls[True]) / n - sum(walls[False]) / len(walls[False])
    m["trace.collect_s"] = tot("collect_s") / n
    m["trace.op_self_frac"] = _op_self_frac(spans)
    return m


def _op_self_frac(spans) -> float:
    """Share of traced op wall time not covered by the op's build and
    execute spans: how much of each op's blocking path the layer self
    times leave unexplained."""
    from tracing import self_times

    st = self_times(spans)
    ops = [sp for sp in spans if sp.layer == "bench.op"]
    wall = sum(sp.dur for sp in ops)
    return sum(st[sp.id] for sp in ops) / wall if wall else 0.0


def end_to_end_metrics(setup: dict, st: dict) -> dict:
    from statistics import median

    from stats import percentile

    s = st["samples"]
    return {
        "setup_s": setup["setup_s"],
        "rows_per_s": median(st["pass_rates"]),
        "op_p50_s": percentile(s, 50),
        f"op_p{TAIL_Q}_s": percentile(s, TAIL_Q),
        "peak_pss_mb": median(st["pass_peaks"]),
    }


def _host() -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        ram_kb = int(f.readline().split()[1])
    return {"nproc": os.cpu_count(), "ram_gb": round(ram_kb / 2**20, 1),
            "cpus_used": os.environ["SPARK_GRAFT_CPUS"],
            "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "pyspark": pyspark.__version__}


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it forked, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    from tracing import descendants

    kids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for sig in (signal.SIGTERM, signal.SIGKILL):
        while kids and time.monotonic() < deadline:
            kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "supersonic_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_oracles.py")
    ):
        print(f"perfbench: no engine sources under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from ops import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {', '.join(WORKLOADS)})", file=sys.stderr)
        return 2
    # Python workers must import the engine whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # half the cores run tasks; the rest serve the JIT, GC, driver and
    # Python worker threads.  With every core running tasks their contention
    # doubled the run-to-run spread; two of four ran the ops as fast as three
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, min(4, os.cpu_count() or 1) // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every scratch file (Python, JVM and Spark's block manager) stays
    # inside the checkout, under a per-run directory removed at exit
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too): no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={tmp}"),
        "pyspark-shell",
    ])
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    bench = None
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
        with bench.tracer.span("run"):
            setup = bench.setup()
            st = bench.steady()
        host = _host()
        if args.trace:
            metrics = per_layer_metrics(setup, st, bench.tracer.spans)
        else:
            metrics = end_to_end_metrics(setup, st)
        ff = bench.tally.failed_frac
        bench.tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-{args.seed}-t{args.trace}.jsonl"))
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        _shutdown(getattr(bench, "spark", None))
        shutil.rmtree(work, ignore_errors=True)
    units = _units()
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "host": host,
        "op_samples": len(st["samples"]), "steady_s": round(st["window_s"], 3),
        "failed_frac": ff, "failed_checks": sorted(bench.failed_checks),
        "metrics": {k: f"{v:.6g} {units.get(k, '')}".strip() for k, v in metrics.items()},
    }))
    print(json.dumps({
        "correct": not bench.failed_checks and bench.tally.failed == 0,
        "attempted": bench.tally.attempted,
        "failed": bench.tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
