"""Tests for the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import datagen  # noqa: E402
import harness  # noqa: E402
from workloads import corpus_index, semantic_serve  # noqa: E402

# ----------------------------------------------------------- seeded inputs


def test_request_stream_is_a_function_of_the_seed():
    a = semantic_serve.request_stream(7, n=300)
    assert a == semantic_serve.request_stream(7, n=300)
    b = semantic_serve.request_stream(8, n=300)
    assert [r.sql for r in a] != [r.sql for r in b]


def test_request_stream_mix():
    stream = semantic_serve.request_stream(3, n=2000)
    templates = {r.template for r in stream}
    assert templates == {"calc_to_one", "two_hop", "to_many", "view", "join_nation",
                         "join_region", "timezone"}
    seen, repeats = set(), 0
    for r in stream:
        repeats += r.key in seen
        seen.add(r.key)
    assert 0.4 < repeats / len(stream) < 0.65
    limits = {r.limit for r in stream if r.limit is not None}
    assert min(limits) == 5 and max(limits) == 10_000
    assert any(r.timezone not in (None, "UTC") for r in stream)
    # every request with a row limit orders by a total key
    assert all("ORDER BY" in r.sql for r in stream if r.limit is not None)


def test_literals_differ_between_seeds():
    def literals(seed):
        return {r.sql for r in semantic_serve.request_stream(seed, n=200)
                if r.template == "two_hop"}

    assert literals(1) == literals(1)
    assert literals(1).isdisjoint(literals(2))


def test_corpus_is_a_function_of_the_seed(tmp_path):
    def corpus(seed, name):
        d = corpus_index.write_corpus(seed, 200, str(tmp_path / name))
        return pq.read_table(os.path.join(d, "documents.parquet"))

    a, a2, b = corpus(5, "a"), corpus(5, "a2"), corpus(6, "b")
    assert a.equals(a2)
    assert a.column("text").to_pylist() != b.column("text").to_pylist()
    # one file, one row group: the layout the loader's scan fan-out keys on
    assert pq.ParquetFile(tmp_path / "a" / "documents.parquet").metadata.num_row_groups == 1


def test_index_stream_is_a_function_of_the_seed():
    a = corpus_index.op_stream(11)
    assert a == corpus_index.op_stream(11)
    assert a != corpus_index.op_stream(12)


def test_index_stream_is_fixed_and_covers_every_kind():
    streams = [corpus_index.op_stream(seed) for seed in (4, 5)]
    kinds = [[(s.kind, s.layout, s.entry) for s in st] for st in streams]
    assert kinds[0] == kinds[1]  # the seed picks vectors and ids, not kinds
    for lay in corpus_index.LAYOUTS:
        mine = [k for k, layout, _ in kinds[0] if layout == lay]
        assert set(mine) == {"probe", "append", "delete", "compact"}
        # a probe after the compaction checks the fold
        assert "probe" in mine[mine.index("compact"):]
    assert {e for k, _, e in kinds[0] if k == "entry"} == set(corpus_index.ENTRIES)


def test_index_stream_tracks_the_live_set():
    """Each step's live set equals a replay of that layout's appends and
    deletes; deletes only name live ids."""
    for lay in corpus_index.LAYOUTS:
        live = set(range(corpus_index.N_BASE))
        for s in corpus_index.op_stream(9):
            if s.layout != lay:
                continue
            if s.kind == "append":
                b = s.batch
                live |= set(range(corpus_index.N_BASE + b * corpus_index.BATCH,
                                  corpus_index.N_BASE + (b + 1) * corpus_index.BATCH))
            elif s.kind == "delete":
                assert set(s.ids) <= live
                live -= set(s.ids)
            assert s.live == live


def test_embeddings_are_a_function_of_the_seed():
    a = datagen.embeddings(50, 8, 1)
    assert a.equals(datagen.embeddings(50, 8, 1))
    assert not a.equals(datagen.embeddings(50, 8, 2))


# ------------------------------------------------------------ tail rule


def _beyond(n: int, p: float) -> int:
    xs = list(range(n))
    v = harness.percentile(xs, p)
    return sum(x > v for x in xs)


@pytest.mark.parametrize("n", list(range(1, 400)) + [999, 1000, 1001, 9999, 10_000, 10_001])
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n):
    p = harness.tail_percentile(n)
    higher = [q for q in harness.TAIL_CANDIDATES if p is None or q > p]
    assert all(_beyond(n, q) < harness.TAIL_MIN_BEYOND for q in higher)
    if p is not None:
        assert _beyond(n, p) >= harness.TAIL_MIN_BEYOND


@pytest.mark.parametrize("n,expected", [
    (1, None), (37, None), (38, 75.0), (100, 90.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_examples(n, expected):
    assert harness.tail_percentile(n) == expected


def test_tail_value():
    xs = list(range(1, 101))  # 1..100
    p, v = harness.tail(xs)
    assert p == 90.0
    assert v == pytest.approx(90.1)
    assert harness.tail(xs[:37]) is None


def test_summary_omits_an_unsupported_tail():
    ops = [harness.Op("fresh", 0.1) for _ in range(20)]
    m = harness.summarize(harness.Outcome(ops, 2.0))
    assert "latency_tail_ms" not in m
    assert m["ops_per_s"][0] == pytest.approx(10.0)


# ------------------------------------------------------ canonical compare


def test_canonical_is_order_insensitive():
    a = harness.canonical(["b", "a"], [[1, "x"], [2, "y"]])
    b = harness.canonical(["a", "b"], [["y", 2], ["x", 1]])
    assert a == b


def test_reference_cells_use_the_envelope_encoding():
    import datetime
    from decimal import Decimal

    ref = harness.reference_canonical(
        ["t", "d"], [(datetime.datetime(1997, 5, 1), Decimal("1.50"))])
    env = harness.canonical(["t", "d"], [["1997-05-01 00:00:00.000000", 1.5]])
    assert ref == env


@pytest.fixture(scope="module")
def tiny_tables(tmp_path_factory):
    root = tmp_path_factory.mktemp("tables")
    return datagen.ensure_tpch(str(root), 0.001, 42)


def _envelope_from_duckdb(sf_dir, sql):
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = [[harness.format_cell(v) for v in r] for r in rel.fetchall()]
    con.close()
    return cols, rows


def test_planted_wrong_row_fails_and_counts(tiny_tables):
    """A result with one wrong cell must fail verification and show up
    in failed_frac; the untouched results must pass."""
    stream = semantic_serve.request_stream(21, n=40)
    picks = [i for i, r in enumerate(stream) if r.template == "two_hop"][:2]
    inputs = semantic_serve.Inputs(tiny_tables, stream, [])
    ops = []
    for n, i in enumerate(picks):
        cols, rows = _envelope_from_duckdb(tiny_tables, stream[i].reference_sql)
        assert rows, "the planted-row check needs a non-empty result"
        if n == 1:
            rows[0] = list(rows[0])
            rows[0][1] = "NATION_X"  # the planted wrong row
        op = harness.Op("fresh", 0.01, attrs={
            "i": i, "digest": harness.digest(harness.canonical(cols, rows))})
        ops.append(op)
    outcome = harness.Outcome(ops, 1.0)
    semantic_serve.verify(None, inputs, None, outcome)
    assert [o.ok for o in ops] == [True, False]
    assert len(outcome.failures) == 1
    assert harness.summarize(outcome)["failed_frac"][0] == pytest.approx(0.5)


def test_probe_check_catches_a_wrong_neighbour():
    from pyspark.sql import Row as SparkRow

    def Row(query_id, neighbor_id, cosine_sim, rnk):  # noqa: N802 - mirrors the Row type
        return SparkRow(query_id=query_id, neighbor_id=neighbor_id,
                        cosine_sim=cosine_sim, rnk=rnk)
    q = corpus_index.QUERY_ID0
    ref = {q: [(10, 0.9), (11, 0.8), (12, 0.7), (13, 0.6), (14, 0.5), (15, 0.4)]}
    state = corpus_index.State("", "", "", "", ann_ref=ref)
    live = frozenset({10, 12, 13, 14, 15})  # 11 was deleted
    step = corpus_index.Step("probe", "ann", queries=(0,), live=live)
    good = [Row(q, n, s, r + 1) for r, (n, s) in enumerate(
        [(10, 0.9), (12, 0.7), (13, 0.6), (14, 0.5), (15, 0.4)])]
    assert corpus_index._check(step, state, good) is None
    stale = [Row(q, n, s, r + 1) for r, (n, s) in enumerate(ref[q][:5])]  # returns 11
    assert corpus_index._check(step, state, stale) is not None


def test_entry_check_compares_content_aggregates():
    """x64 keeps one row per document whatever it computes, so the check
    must catch a wrong split or cluster at an unchanged row count."""
    entry = "x64_leakage_safe_split"
    want = (5000, 123456, 4100, 4500, 250, 250)
    state = corpus_index.State("", "", "", "", ref_checks={entry: want})
    step = corpus_index.Step("entry", entry=entry)
    assert corpus_index._check(step, state, want) is None
    moved = (5000, 123456, 4100, 4499, 251, 250)  # one document in the wrong split
    err = corpus_index._check(step, state, moved)
    assert err is not None and "train" in err and "val" in err and "rows" not in err


def test_entry_checks_run_over_the_oracles(tmp_path):
    """Each check aggregate runs in DuckDB over its entry's oracle and
    gives whole numbers, the type Spark's sums of the same columns give."""
    import duckdb

    from wren_engine_spark.queries.registry import ORACLES

    d = corpus_index.write_corpus(3, 60, str(tmp_path / "c"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    for entry, checks in corpus_index.CHECKS.items():
        sql = f"SELECT {', '.join(x for _, x in checks)} FROM ({ORACLES[entry]}) t"
        row = con.execute(sql).fetchone()
        assert row[0] > 0 and all(isinstance(v, int) for v in row)
    con.close()


# ---------------------------------------------------------------- processes


def test_duckdb_references_run_in_a_child_that_has_ended(tmp_path):
    import pyarrow as pa

    import procs

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": [1, 2, 3]}), p)
    first = harness.duckdb_references({"t": p}, ["SELECT sum(x), count(*) FROM t"], first_row=True)
    assert first == [(6, 3)]
    digests = harness.duckdb_references({"t": p}, ["SELECT x FROM t", "SELECT x FROM t ORDER BY x DESC"])
    assert digests[0] == digests[1]
    assert procs.descendants() == []


ORPHAN_SCRIPT = """
import subprocess, sys
sys.path.insert(0, {bench!r})
import procs
assert procs.adopt_orphans()
# the shell exits at once and leaves its background sleep an orphan
subprocess.run(["sh", "-c", "sleep 60 & echo $!"], stdout=open({pidfile!r}, "w"), check=True)
assert len(procs.descendants()) == 1
assert procs.end_descendants(grace_s=5.0) == []
print("clean")
"""


def test_orphaned_grandchild_is_adopted_and_ended(tmp_path):
    import subprocess

    pidfile = str(tmp_path / "pid")
    r = subprocess.run([sys.executable, "-c", ORPHAN_SCRIPT.format(bench=BENCH, pidfile=pidfile)],
                       capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "clean"
    sleep_pid = int(open(pidfile).read())
    assert not os.path.exists(f"/proc/{sleep_pid}")
