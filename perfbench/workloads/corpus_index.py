"""corpus_index: document pipeline entries and index lifecycle operations
in one seeded closed loop (one client).

Inputs, all made from the run's seed:

- a Zipfian corpus from the in-repo ``SyntheticDocsDataSource`` reader
  (sf0.1's 5,000 documents), written as a one-file ``documents.parquet``
  so the entries read it through ``load_tables`` and its scan fan-out,
  like the repo's testdata;
- an sf0.1-sized embedding set (2,000 unit vectors, dim 64), of which a
  400-vector slice is held back for the appends, plus probe queries
  under ids no corpus vector has.

Setup registers the corpus and builds both persisted index layouts over
the base embeddings: the bucketed hyperplane-LSH table
(``write_ann_index``) and the path-based PQ codes directory
(``write_pq_index``).

The loop interleaves two kinds of operation. A pipeline operation
materializes one registered documents-only entry to ``format("noop")``
(the operators layer: shuffles, the exact Jaccard join and the
connected-components loop of x64). An index operation is a top-k probe,
an append of a held-back batch, a tombstone delete or a compaction, on
one layout. The workload is fixed-count: every run does the
``SEQUENCE`` of operations (the seed picks their vectors, queries and
ids), which runs every kind on both layouts and probes both after
their compactions, whatever ``--seconds`` says. So two engines being
compared always time the same operations; in a timed loop, a faster
engine would reach further into the stream and time other kinds.

Checks: a pipeline entry's content aggregates (row count, column sums,
and for x64 the number of clusters and the rows per split), captured
with ``df.observe`` on the noop write, must equal the same aggregates
over the entry's DuckDB oracle on the same file. A probe must equal the
answer for the index's live set at that point. Two contracts
make that answer computable once, up front: append = rebuild (a
vector's bucket signature, or its code under the frozen codebooks, does
not depend on when it was added) and fold = anti-join (compaction drops
exactly the tombstoned rows). So a reference index over every vector
that will ever be live is probed once for all candidates, and the
expected top-k at any point is that ranking restricted to the live set.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import datagen
import harness
from tracing import mean, med

N_DOCS = 5_000
# exact dedup (hash + group shuffle), and the leakage-safe split: word
# shingles, an exact Jaccard join and the connected-components loop
ENTRIES = ("x1_exact_dedup", "x64_leakage_safe_split")
# every run's operations, in order: (kind, entry or layout)
SEQUENCE = (
    ("entry", ENTRIES[0]), ("probe", "ann"), ("append", "pq"), ("delete", "ann"), ("probe", "pq"),
    ("entry", ENTRIES[1]), ("append", "ann"), ("delete", "pq"),
    ("compact", "ann"), ("compact", "pq"), ("probe", "ann"), ("probe", "pq"),
)
# order-independent aggregates of each entry's output, written so that
# Spark (in df.observe) and DuckDB (over the oracle) read them alike.
# x64's cluster id is the least doc_id of its component, so a row whose
# doc_id is its cluster id marks one cluster.
CHECKS = {
    "x1_exact_dedup": (("rows", "count(1)"), ("doc_id_sum", "sum(doc_id)")),
    "x64_leakage_safe_split": (
        ("rows", "count(1)"),
        ("cluster_id_sum", "sum(cluster_id)"),
        ("clusters", "sum(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END)"),
        ("train", "sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)"),
        ("val", "sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)"),
        ("test", "sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)"),
    ),
}

DIM = 64
N_BASE = 1600
N_BATCHES = 1
BATCH = 400
N_QUERIES = 16
PROBE_QUERIES = 4
TOP_K = 5
DELETE_IDS = 10
ANN = {"nbits": 6, "tables": 2, "seed": 42, "buckets": 8}
PQ = {"n_subspaces": 2, "k_codes": 2, "iters": 1}
QUERY_ID0 = 1_000_000
LAYOUTS = ("ann", "pq")


def short(entry: str) -> str:
    return entry.split("_")[0]


# ------------------------------------------------------------------ stream


@dataclass
class Step:
    kind: str  # entry | probe | append | delete | compact
    layout: str = ""
    entry: str = ""
    queries: tuple[int, ...] = ()
    batch: int | None = None
    ids: tuple[int, ...] = ()
    live: frozenset[int] = frozenset()


def op_stream(seed: int) -> list[Step]:
    """The ``SEQUENCE`` as steps; each index step carries its layout's
    live id set as it stands after the step. The seed picks the probe
    queries and the deleted ids."""
    rng = random.Random(seed)
    live = {lay: set(range(N_BASE)) for lay in LAYOUTS}
    next_batch = {lay: 0 for lay in LAYOUTS}
    steps: list[Step] = []
    for kind, what in SEQUENCE:
        if kind == "entry":
            steps.append(Step("entry", entry=what))
            continue
        lay = what
        if kind == "append":
            b = next_batch[lay]
            next_batch[lay] += 1
            live[lay].update(range(N_BASE + b * BATCH, N_BASE + (b + 1) * BATCH))
            steps.append(Step("append", lay, batch=b, live=frozenset(live[lay])))
        elif kind == "delete":
            ids = tuple(rng.sample(sorted(live[lay]), DELETE_IDS))
            live[lay].difference_update(ids)
            steps.append(Step("delete", lay, ids=ids, live=frozenset(live[lay])))
        elif kind == "probe":
            qs = tuple(sorted(rng.sample(range(N_QUERIES), PROBE_QUERIES)))
            steps.append(Step("probe", lay, queries=qs, live=frozenset(live[lay])))
        else:
            steps.append(Step("compact", lay, live=frozenset(live[lay])))
    return steps


# ------------------------------------------------------------------ inputs


@dataclass
class Inputs:
    corpus_dir: str
    base: str
    batches: list[str]
    queries: str
    universe: str
    stream: list[Step]


def write_corpus(seed: int, n_docs: int, out_dir: str) -> str:
    """Generate the corpus with the data source's own reader (rows are
    a pure function of (seed, doc_id)) and write it as one parquet file
    with one row group."""
    import pyarrow as pa

    from wren_engine_spark.sources.pydatasource import SyntheticDocsDataSource

    reader = SyntheticDocsDataSource({"n_docs": str(n_docs), "seed": str(seed)}).reader(None)
    cols = list(zip(*(r for part in reader.partitions() for r in reader.read(part))))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    return out_dir


def make_inputs(seed: int, cache_root: str, data_dir: str) -> Inputs:
    import numpy as np
    import pyarrow as pa

    corpus_dir = write_corpus(seed, N_DOCS, os.path.join(data_dir, "corpus"))
    n_all = N_BASE + N_BATCHES * BATCH
    emb = datagen.embeddings(n_all, DIM, seed)
    path = {k: os.path.join(data_dir, f"{k}.parquet") for k in ("base", "universe", "queries")}
    pq.write_table(emb.slice(0, N_BASE), path["base"])
    pq.write_table(emb, path["universe"])
    batches = []
    for b in range(N_BATCHES):
        p = os.path.join(data_dir, f"batch{b}.parquet")
        pq.write_table(emb.slice(N_BASE + b * BATCH, BATCH), p)
        batches.append(p)
    # probe queries: noisy copies of corpus vectors
    rng = np.random.default_rng(seed + 1)
    src = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)[
        rng.integers(0, n_all, N_QUERIES)])
    q = src + 0.2 * rng.normal(size=src.shape)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(QUERY_ID0, QUERY_ID0 + N_QUERIES, dtype=np.int64)),
        "embedding": pa.array(list(q.astype(np.float32)), type=pa.list_(pa.float32())),
    }), path["queries"])
    return Inputs(corpus_dir, path["base"], batches, path["queries"], path["universe"],
                  op_stream(seed))


# ------------------------------------------------------------------- setup


@dataclass
class State:
    sf_dir: str
    ann_table: str
    pq_path: str
    warehouse: str
    ref_checks: dict[str, tuple] = field(default_factory=dict)
    ann_ref: dict[int, list[tuple]] = field(default_factory=dict)
    pq_ref: dict[int, list[tuple]] = field(default_factory=dict)
    queries_df: object = None


def setup(spark, inputs: Inputs, paths: dict, tracer, rep: int) -> State:
    """Register the corpus (each repeat through its own path, so none is
    served from the loader's per-path memo) and build both index
    layouts over the base embeddings."""
    from wren_engine_spark.operators import similarity
    from wren_engine_spark.queries.io import load_tables

    sf_dir = os.path.join(paths["data"], f"corpus-rep{rep}")
    os.symlink(inputs.corpus_dir, sf_dir)
    state = State(sf_dir, "bench_ann", os.path.join(paths["data"], "pq_index"),
                  paths["warehouse"])
    with tracer.span("queries.load_tables"):
        load_tables(spark, sf_dir, "documents")
    base = spark.read.parquet(inputs.base)
    with tracer.span("index.ann.build"):
        similarity.write_ann_index(base, "vec_id", "embedding", state.ann_table, dim=DIM, **ANN)
    with tracer.span("index.pq.build"):
        similarity.write_pq_index(base, "vec_id", "embedding", state.pq_path, **PQ)
    return state


def _ranked(rows, score: str) -> dict[int, list[tuple]]:
    out: dict[int, list[tuple]] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rnk)):
        out.setdefault(r.query_id, []).append((r.neighbor_id, r[score]))
    return out


def _pq_queries(df):
    from pyspark.sql import functions as F

    return df.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))


def prepare(spark, inputs: Inputs, state: State, tracer) -> None:
    """References: the ``CHECKS`` aggregates over each entry's oracle,
    and rankings over every vector that is ever live for the probes.
    DuckDB computes the first while Spark computes the second."""
    from concurrent.futures import ThreadPoolExecutor

    from wren_engine_spark.queries.registry import ORACLES

    sqls = [f"SELECT {', '.join(f'{x} AS {n}' for n, x in CHECKS[e])} FROM ({ORACLES[e]}) t"
            for e in ENTRIES]
    with ThreadPoolExecutor(1) as pool:
        refs = pool.submit(harness.duckdb_references,
                           {"documents": f"{inputs.corpus_dir}/documents.parquet"}, sqls,
                           first_row=True)
        _probe_references(spark, inputs, state)
        state.ref_checks = dict(zip(ENTRIES, refs.result()))


def _probe_references(spark, inputs: Inputs, state: State) -> None:
    """Rank every vector that is ever live for each probe query, on a
    reference copy of each layout."""
    from wren_engine_spark.operators import similarity

    universe = spark.read.parquet(inputs.universe)
    queries = spark.read.parquet(inputs.queries)
    everything = 10 * (N_BASE + N_BATCHES * BATCH)
    similarity.write_ann_index(universe, "vec_id", "embedding", "bench_ann_ref", dim=DIM, **ANN)
    state.ann_ref = _ranked(similarity.ann_index_topk(
        spark, "bench_ann_ref", queries, "vec_id", "embedding", dim=DIM, k=everything,
    ).collect(), "cosine_sim")
    ref_path = state.pq_path + "_ref"
    shutil.copytree(state.pq_path, ref_path)
    similarity.pq_index_append(spark, ref_path, spark.read.parquet(*inputs.batches),
                               "vec_id", "embedding")
    state.pq_ref = _ranked(similarity.pq_index_topk(
        spark, ref_path, _pq_queries(queries), topk=everything,
    ).collect(), "adist")
    state.queries_df = queries.cache()
    state.queries_df.count()


def expected(ref: dict[int, list[tuple]], queries: list[int], live: frozenset) -> list[tuple]:
    """Top-k of the reference ranking restricted to the live set, as
    (query_id, neighbor_id, score, rnk) rows."""
    out = []
    for q in queries:
        kept = [(n, s) for n, s in ref.get(q, []) if n in live][:TOP_K]
        out += [(q, n, s, i + 1) for i, (n, s) in enumerate(kept)]
    return out


# --------------------------------------------------------------- operations


def _materialize(spark, entry: str, sf_dir: str, tracer):
    """Build ``entry`` and write it to the noop sink; return the frame
    and the ``CHECKS`` aggregates of what the sink saw."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from wren_engine_spark.queries.registry import QUERIES

    with tracer.span("queries.build"):
        df = QUERIES[entry](spark, sf_dir)
    obs = Observation(f"check_{short(entry)}")
    aggs = [F.expr(x).alias(n) for n, x in CHECKS[entry]]
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    got = obs.get
    return df, tuple(got[n] for n, _ in CHECKS[entry])


def _index_op(spark, step: Step, state: State, inputs: Inputs):
    """Run one index step; a probe returns its frame and rows."""
    from pyspark.sql import functions as F

    from wren_engine_spark.operators import similarity

    ann = step.layout == "ann"
    if step.kind == "probe":
        qdf = state.queries_df.filter(
            F.col("vec_id").isin([QUERY_ID0 + q for q in step.queries]))
        if ann:
            df = similarity.ann_index_topk(spark, state.ann_table, qdf, "vec_id", "embedding",
                                           dim=DIM, k=TOP_K)
        else:
            df = similarity.pq_index_topk(spark, state.pq_path, _pq_queries(qdf), topk=TOP_K)
        return df, df.collect()
    if step.kind == "append":
        batch = spark.read.parquet(inputs.batches[step.batch])
        if ann:
            similarity.ann_index_append(spark, state.ann_table, batch, "vec_id", "embedding")
        else:
            similarity.pq_index_append(spark, state.pq_path, batch, "vec_id", "embedding")
    elif step.kind == "delete":
        if ann:
            similarity.ann_index_delete(spark, state.ann_table, list(step.ids))
        else:
            similarity.pq_index_delete(spark, state.pq_path, list(step.ids))
    elif ann:
        similarity.ann_index_compact(spark, state.ann_table)
    else:
        similarity.pq_index_compact(spark, state.pq_path)
    return None, None


def _layout_files(state: State, lay: str) -> tuple[int, int]:
    """(data files, tombstoned ids) of one layout, read from disk."""
    if lay == "ann":
        data = os.path.join(state.warehouse, state.ann_table)
        tomb = os.path.join(state.warehouse, f"{state.ann_table}__tombstones")
    else:
        data = os.path.join(state.pq_path, "codes")
        tomb = os.path.join(state.pq_path, "tombstones")
    files = [f for f in os.listdir(data) if not f.startswith(("_", "."))]
    tombstones = sum(pq.ParquetFile(f).metadata.num_rows
                     for f in glob.glob(os.path.join(tomb, "*.parquet")))
    return len(files), tombstones


def _check(step: Step, state: State, result) -> str | None:
    """Why the result of ``step`` is wrong, or None."""
    if step.kind == "entry":
        want = state.ref_checks[step.entry]
        diff = [f"{n} {g} (oracle {w})" for (n, _), g, w in zip(CHECKS[step.entry], result, want)
                if g != w]
        return f"differs from the oracle: {', '.join(diff)}" if diff else None
    if step.kind == "probe":
        score = "cosine_sim" if step.layout == "ann" else "adist"
        got = sorted((r.query_id, r.neighbor_id, r[score], r.rnk) for r in result)
        ref = state.ann_ref if step.layout == "ann" else state.pq_ref
        want = sorted(expected(ref, [QUERY_ID0 + q for q in step.queries], step.live))
        return None if got == want else "probe differs from the live-set reference"
    return None


def run(spark, inputs: Inputs, state: State, tracer, seconds: float) -> harness.Outcome:
    """Run the fixed stream; ``seconds`` is not used (see the module
    docstring)."""
    ops: list[harness.Op] = []
    start = time.perf_counter()
    for i, step in enumerate(inputs.stream):
        name = short(step.entry) if step.kind == "entry" else f"{step.layout}.{step.kind}"
        op = harness.Op(step.kind, 0.0, attrs={"i": i, "name": name})
        df = result = None
        with tracer.op(f"op{i}", name):
            t0 = time.perf_counter()
            try:
                if step.kind == "entry":
                    with tracer.span(f"operators.{name}"):
                        df, result = _materialize(spark, step.entry, state.sf_dir, tracer)
                else:
                    with tracer.span(f"index.{name}"):
                        df, result = _index_op(spark, step, state, inputs)
            except Exception as e:  # noqa: BLE001 - a failed operation is data
                op.ok, op.error = False, f"{type(e).__name__}: {e}"[:300]
            op.latency_s = time.perf_counter() - t0
        if op.ok:
            op.error = _check(step, state, result)
            op.ok = op.error is None
        if tracer.enabled:
            if df is not None:
                # a noop write plans its own execution, not df's
                tracer.record_phases(df, op_id=f"op{i}", force=step.kind == "entry")
            if step.kind != "entry":
                t0 = time.perf_counter()
                op.attrs["files"], op.attrs["tombstones"] = _layout_files(state, step.layout)
                tracer.charge(time.perf_counter() - t0)
        ops.append(op)
    out = harness.Outcome(ops, time.perf_counter() - start)
    entries = [o.latency_s for o in ops if o.kind == "entry"]
    out.extra["docs_per_s"] = (N_DOCS * len(entries) / sum(entries), "docs/s")
    probes = [o.latency_s * 1000.0 for o in ops if o.kind == "probe"]
    out.extra["probe_p50_ms"] = (harness.median(probes), "ms")
    t = harness.tail(probes)
    if t is not None:
        out.extra["probe_tail_ms"] = (t[1], "ms")
        out.extra["probe_tail_pct"] = (t[0], "percentile")
    writes = [o.latency_s * 1000.0 for o in ops if o.kind in ("append", "delete")]
    out.extra["write_p50_ms"] = (harness.median(writes), "ms")
    out.extra["compact_s"] = (harness.median([o.latency_s for o in ops if o.kind == "compact"]), "s")
    return out


def verify(spark, inputs: Inputs, state: State, outcome: harness.Outcome) -> None:
    for op in outcome.ops:
        if not op.ok:
            outcome.failures.append(f"op{op.attrs['i']} {op.attrs['name']}: {op.error}")


def layer_metrics(tracer, state: State, outcome: harness.Outcome) -> dict[str, tuple[float, str]]:
    st = tracer.self_times()
    out = {"queries.build_ms": (med(st.get("queries.build", [])), "ms")}
    for entry in ENTRIES:
        out[f"operators.{short(entry)}_ms"] = (
            med(tracer.durations(f"operators.{short(entry)}")), "ms")
    for lay in LAYOUTS:
        for kind in ("probe", "append", "delete", "compact"):
            out[f"index.{lay}.{kind}_ms"] = (med(tracer.durations(f"index.{lay}.{kind}")), "ms")
        mine = [o for o in outcome.ops if o.attrs["name"].startswith(lay + ".") and "files" in o.attrs]
        out[f"index.{lay}.files"] = (mean([o.attrs["files"] for o in mine]), "count")
        out[f"index.{lay}.tombstones"] = (mean([o.attrs["tombstones"] for o in mine]), "count")
    return out
