"""The benchmark's operations, grouped into workloads.

An op is one query execution (a batch op) or one availableNow drain of a
streaming query (a stream op, whose samples are its micro-batches).  Each op
names the module that owns it (its *layer*), the input tables it reads, how
to build it and how to check its output:

- registry ops run the registered builder and are checked against their
  ``oracle_sql()`` DuckDB oracle with ``tools/check_oracles.compare``;
- the near-dup and ANN ops call the public ``pipeline.dedup`` /
  ``pipeline.similarity`` functions directly, with the parameters the
  engine's own bench times, and are checked against the exact-result
  invariant their registry twin's oracle asserts (computed here in DuckDB);
- stream ops drain a time-ordered multi-file events source and are checked
  against the batch answer over the same rows.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

#: streaming source layout: files per source, files per micro-batch
STREAM_FILES = 6
FILES_PER_TRIGGER = 2


@dataclass(frozen=True)
class Op:
    name: str
    layer: str
    tables: tuple[str, ...]
    #: batch ops: (spark, data_dir) -> DataFrame.  stream ops:
    #: (spark, stream_dir) -> (streaming DataFrame, output mode)
    build: Callable
    #: (output pandas frame, duckdb connection over the input tables)
    #: -> list of problems; empty means correct
    check: Callable[[pd.DataFrame, object], list[str]]
    stream: bool = False


# ---------------------------------------------------------------- registry


def _registry(name: str, layer: str, tables: str) -> Op:
    import supersonic_spark.queries_analytics  # noqa: F401  (each module registers)
    import supersonic_spark.queries_expr  # noqa: F401
    import supersonic_spark.queries_pipeline  # noqa: F401
    import supersonic_spark.queries_quality  # noqa: F401
    import supersonic_spark.queries_scale  # noqa: F401
    import supersonic_spark.queries_tpch  # noqa: F401
    from supersonic_spark.queries import REGISTRY

    builder, oracle = REGISTRY[name]

    def check(out: pd.DataFrame, duck) -> list[str]:
        from tools.check_oracles import compare

        return compare(name, out, duck.execute(oracle).fetchdf())

    return Op(name, layer, tuple(tables.split()), builder, check)


# ------------------------------------------------------ direct pipeline calls

_EXACT_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, len(words) - 1)]) AS grams
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
        FROM documents)
  WHERE len(words) >= 3
), ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jac
FROM inter
JOIN (SELECT doc_id, len(grams) AS n FROM sh) na ON na.doc_id = id_a
JOIN (SELECT doc_id, len(grams) AS n FROM sh) nb ON nb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.05
"""


def _exact_pairs(duck) -> pd.DataFrame:
    return duck.execute(_EXACT_JACCARD_SQL).fetchdf().set_index(["id_a", "id_b"])


def _pair_index(out: pd.DataFrame) -> pd.MultiIndex:
    return pd.MultiIndex.from_arrays(
        [out["id_a"].astype("int64"), out["id_b"].astype("int64")], names=["id_a", "id_b"]
    )


def _minhash_build(spark, data_dir):
    from supersonic_spark.pipeline import dedup
    from supersonic_spark.session import load_tables

    docs = load_tables(spark, data_dir)["documents"]
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)


def _minhash_check(out: pd.DataFrame, duck) -> list[str]:
    """Verification is exact, so every reported pair has exact word-3-gram
    Jaccard >= 0.5 and reports that Jaccard; banding (16 bands x 4 rows)
    finds >= 95% of the pairs at J >= 0.8."""
    exact = _exact_pairs(duck)
    got = _pair_index(out)
    problems = []
    missing = got.difference(exact.index)
    if len(missing):
        problems.append(f"{len(missing)} reported pairs are not near-dups (e.g. {missing[0]})")
    jac = exact["jac"].reindex(got).to_numpy()
    bad = ~(np.abs(jac - out["jaccard"].to_numpy()) <= 1e-9) | ~(jac >= 0.5)
    if len(missing) == 0 and bad.any():
        problems.append(f"{int(bad.sum())} pairs below threshold or misreported")
    hi = exact.index[exact["jac"] >= 0.8]
    found = len(hi.intersection(got))
    if found < 0.95 * len(hi):
        problems.append(f"recall at J>=0.8: {found}/{len(hi)}")
    return problems


def _ann_inputs(spark, data_dir):
    from pyspark.sql import functions as F

    from supersonic_spark.session import load_tables

    emb = load_tables(spark, data_dir)["embeddings"]
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec"))
    return q, c


def _ann_build(fn: str, **kw):
    def build(spark, data_dir):
        from supersonic_spark.pipeline import similarity

        q, c = _ann_inputs(spark, data_dir)
        return getattr(similarity, fn)(
            q, c, "query_id", "query_vec", "corpus_id", "corpus_vec", k=5, **kw
        )

    return build


_EXACT_TOP5_SQL = """
SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
FROM embeddings q, embeddings c
WHERE q.vec_id < 10
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY q.vec_id
  ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) <= 5
"""


def _ann_check(out: pd.DataFrame, duck) -> list[str]:
    """Every query is in the corpus, so a sound shortlist either retrieves
    the query itself or overlaps its exact top-5 (the registry twins'
    ``pq_signal_ok`` / ``self_found_ok`` invariants), and no query gets more
    than k=5 results."""
    exact = duck.execute(_EXACT_TOP5_SQL).fetchdf()
    ex = set(zip(exact["query_id"], exact["corpus_id"]))
    problems = []
    for qid in range(10):
        got = out.loc[out["query_id"] == qid, "corpus_id"].astype("int64").tolist()
        if len(got) > 5:
            problems.append(f"query {qid}: {len(got)} results > k")
        if qid not in got and not any((qid, c) in ex for c in got):
            problems.append(f"query {qid}: neither itself nor an exact top-5 retrieved")
    return problems


# ----------------------------------------------------------------- streaming


def _events_stream(spark, stream_dir):
    from supersonic_spark.streaming.ops import events_stream

    return events_stream(spark, stream_dir, max_files_per_trigger=FILES_PER_TRIGGER)


def _sliding_build(spark, stream_dir):
    from pyspark.sql import functions as F

    from supersonic_spark.operators.aggregate import AggSpec, Aggregation
    from supersonic_spark.streaming.ops import windowed_aggregate

    e = _events_stream(spark, stream_dir)
    agged = windowed_aggregate(
        e.withColumn("value_d", F.col("value").cast("decimal(12,2)")),
        "ts", "1 hour",
        [AggSpec(Aggregation.COUNT, None, "n"),
         AggSpec(Aggregation.SUM, "value_d", "total", output_type="double")],
        keys=["event_type"], slide="30 minutes", watermark="1 hour",
    )
    return agged.select(
        F.col("window.start").alias("w_start"), "event_type", "n", "total"
    ), "update"


def _last_update(out: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Update-mode output: the last row emitted per key is its final value."""
    return out.drop_duplicates(keys, keep="last").set_index(keys).sort_index()


def _sliding_check(out: pd.DataFrame, duck) -> list[str]:
    want = duck.execute("""
        SELECT w_start, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM (SELECT event_type, value,
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE * o AS w_start
              FROM events, (VALUES (0), (1)) AS t(o))
        GROUP BY ALL""").fetchdf()
    got = _last_update(out, ["w_start", "event_type"])
    want = want.set_index(["w_start", "event_type"]).sort_index()
    got.index = got.index.set_levels(
        [got.index.levels[0].astype("datetime64[us]"), got.index.levels[1]]
    )
    want.index = want.index.set_levels(
        [want.index.levels[0].astype("datetime64[us]"), want.index.levels[1]]
    )
    if not got.index.equals(want.index):
        return [f"windows: {len(got)} emitted vs {len(want)} expected"]
    problems = []
    if not (got["n"].to_numpy() == want["n"].to_numpy()).all():
        problems.append("window counts differ")
    if not np.allclose(got["total"].to_numpy(), want["total"].to_numpy(), rtol=0, atol=1e-6):
        problems.append("window totals differ")
    return problems


# ----------------------------------------------------------------- workloads

_LI = "lineitem"


def relational_ops() -> list[Op]:
    specs = [
        ("tpch_q1", "operators", _LI),
        ("tpch_q3_shape", "operators", "customer orders lineitem"),
        ("tpch_q5_shape", "operators", "region nation customer supplier orders lineitem"),
        ("tpch_q9_shape", "operators", "part supplier orders lineitem nation"),
        ("tpch_q18_shape", "operators", "customer orders lineitem"),
        ("tpch_q21_shape", "operators", "supplier orders lineitem nation"),
        ("distinct_aggregate", "operators", _LI),
        ("first_last_aggregate", "operators", "events"),
        ("sort_topk", "operators", "orders"),
        ("window_rank_orders", "operators", "orders"),
        ("asof_join_events", "operators", "events"),
        ("expr_arithmetic", "functions", _LI),
        ("expr_string", "functions", _LI),
        ("expr_datetime", "functions", _LI),
        ("expr_regexp", "functions", "documents"),
        ("expr_math", "functions", _LI),
        ("expr_comparison_in", "functions", _LI),
        ("expr_bitwise", "functions", _LI),
        ("expr_logic_case", "functions", "orders"),
        ("expr_parse_cast", "functions", "events"),
    ]
    return [_registry(n, layer, tabs) for n, layer, tabs in specs]


def pipeline_ops() -> list[Op]:
    # Every pipeline layer keeps its headline ops.  dedup_simhash,
    # sample_pack_sequences and the stream_dedup drain are left out: their
    # warm-up and pass time (~7 s a run) is what buys the four timed passes
    # within about a minute a run.
    docs, emb = ("documents",), ("embeddings",)
    return [
        _registry("dedup_exact", "pipeline.dedup", "documents"),
        Op("dedup_minhash_lsh", "pipeline.dedup", docs, _minhash_build, _minhash_check),
        _registry("similarity_cosine_topk", "pipeline.similarity", "embeddings"),
        Op("similarity_pq_ann", "pipeline.similarity", emb,
           _ann_build("pq_topk", m=8, ksub=16), _ann_check),
        _registry("multimodal_decode_png", "pipeline.multimodal", "documents"),
        _registry("multimodal_bytes", "pipeline.multimodal", "documents"),
        _registry("text_quality", "pipeline.textstats", "documents"),
        _registry("text_token_stats", "pipeline.textstats", "documents"),
        _registry("sample_cap_per_key", "pipeline.sampling", "documents"),
        _registry("sample_fixed_k", "pipeline.sampling", "documents"),
    ]


def streaming_ops() -> list[Op]:
    ev = ("events",)
    return [
        Op("sliding_agg", "streaming", ev, _sliding_build, _sliding_check, stream=True),
    ]


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float
    ops: Callable[[], list[Op]]
    #: untimed passes before the window, the output-checking one included.
    #: The relational ops' generated code is still being JIT-compiled after
    #: one execution: with one warm pass their window drifted faster pass
    #: by pass (rows/s spread 23% over five seeds; 5% with two).  The
    #: pipeline ops are bound by Python workers and state-store writes, and
    #: a second pass did not steady them.
    warm_passes: int = 1
    #: timed passes at least.  Each op's latency varies run to run on its
    #: own (10-25% IQR over ten runs for single pipeline ops, against 5% for
    #: a whole pass), and the pipeline median rests on the few ops near it:
    #: with two executions each it spread twice as wide as rows/s.
    min_passes: int = 2


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            "JVM-only scan, join, aggregate, sort, window and expression work: "
            "TPC-H shapes, core operators and expr_* families; no Python lane",
            0.01,
            relational_ops,
            warm_passes=2,
        ),
        Workload(
            "pipeline_streaming",
            "overhead regime: driver plan construction, Python/Arrow lanes, "
            "array shuffles and state-store writes of the LLM-data ops and "
            "a stateful streaming drain",
            0.01,
            lambda: pipeline_ops() + streaming_ops(),
            min_passes=4,
        ),
    )
}


def write_stream_source(events_path: str, out_dir: str) -> int:
    """Split ``events`` into ``STREAM_FILES`` time-ordered parquet files with
    increasing modification times, so a drain reads them oldest first and
    no row arrives behind the watermark.  Returns the bytes written."""
    import pyarrow.parquet as pq

    table = pq.read_table(events_path).sort_by("event_id")
    dst = os.path.join(out_dir, "events.parquet")
    os.makedirs(dst, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, STREAM_FILES + 1).astype(int)
    written = 0
    for i in range(STREAM_FILES):
        path = os.path.join(dst, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        written += os.path.getsize(path)
    return written
