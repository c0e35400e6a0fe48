"""Self-tests of the benchmark harness: generators, output parser,
checks and BENCHMARK.json. Run with ``python3 -m pytest perfbench/tests -q``
from the repository root; no Spark session is started."""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GENERATORS = {
    "users": lambda seed: gen.users_table(seed),
    "clicks0": lambda seed: gen.clicks_table(seed, 0),
    "clicks3": lambda seed: gen.clicks_table(seed, 3),
    "events": lambda seed: gen.events_table(seed, n=20_000),
    "documents": lambda seed: gen.documents_table(seed),
    "embeddings": lambda seed: gen.embeddings_table(seed),
}


def _bytes(table: pa.Table, path) -> bytes:
    pq.write_table(table, str(path), compression="snappy")
    return path.read_bytes()


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_gives_byte_identical_inputs(name, tmp_path):
    make = GENERATORS[name]
    assert _bytes(make(7), tmp_path / "a.parquet") == _bytes(make(7), tmp_path / "b.parquet")


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_different_seed_gives_different_inputs(name, tmp_path):
    make = GENERATORS[name]
    assert _bytes(make(7), tmp_path / "a.parquet") != _bytes(make(8), tmp_path / "b.parquet")


def test_batch_inputs_are_byte_identical_per_seed(tmp_path):
    for workload in ("behavior_batch", "corpus_dedup"):
        a = gen.write_batch_inputs(workload, 3, str(tmp_path / "a"))
        b = gen.write_batch_inputs(workload, 3, str(tmp_path / "b"))
        for pa_, pb in zip(a, b):
            assert open(pa_, "rb").read() == open(pb, "rb").read()


def test_generated_domains_follow_the_fixture_spec():
    users = gen.users_table(1)
    nulls = users.column("gender").null_count / users.num_rows
    assert 0.01 < nulls < 0.06  # the NULL genders stay in the input
    assert set(users.column("gender").drop_null().to_pylist()) == set(gen.GENDERS)
    ages = users.column("age").to_pylist()
    assert min(ages) >= 16 and max(ages) <= 80
    assert len(set(users.column("city").to_pylist())) <= gen.N_CITIES
    svc = set(gen.clicks_table(1, 0).column("service").to_pylist())
    assert svc == set(gen.SERVICES) | {"home"}
    ev = gen.events_table(1, n=5_000)
    assert set(ev.column("event_type").to_pylist()) == set(gen.EVENT_TYPES)
    assert max(ev.column("user_id").to_pylist()) < gen.N_CUSTOMERS
    docs = gen.documents_table(1)
    assert docs.column("n_chars").to_pylist() == [len(t) for t in docs.column("text").to_pylist()]


def test_duplicate_counts_do_not_depend_on_the_seed():
    for seed in (1, 2, 3):
        texts = gen.documents_table(seed).column("text").to_pylist()
        assert len(texts) - len(set(texts)) == round(gen.N_DOCS * gen.DOC_EXACT_DUP_SHARE)
        by_len: dict[int, list[list[str]]] = {}
        for t in set(texts):
            by_len.setdefault(len(t.split(" ")), []).append(t.split(" "))
        one_edit = sum(
            sum(x != y for x, y in zip(a, b)) == 1
            for docs in by_len.values()
            for a, b in itertools.combinations(docs, 2)
        )
        assert one_edit == round(gen.N_DOCS * gen.DOC_NEAR_DUP_SHARE)
        emb = gen.embeddings_table(seed).column("embedding").to_pylist()
        x = np.array(emb)
        cos = np.triu(x @ x.T, k=1)
        assert int((cos > 0.95).sum()) == round(gen.N_VECS * gen.VEC_NEAR_DUP_SHARE)


@pytest.mark.parametrize(
    "workload,trace", list(itertools.product(metrics.WORKLOADS, (False, True)))
)
def test_result_line_round_trips_every_metric(workload, trace):
    units = metrics.metric_names(workload, trace)
    values = {name: 1.0 + i / 7 for i, name in enumerate(units)}
    line = metrics.result_line(True, 12, 1, values, units)
    out = metrics.parse_result("noise\n" + line + "\n")
    assert (out["correct"], out["attempted"], out["failed"]) == (True, 12, 1)
    assert {n: (m["value"], m["unit"]) for n, m in out["metrics"].items()} == {
        n: (values[n], u) for n, u in units.items()
    }


def test_catalogue_names_every_metric():
    e2e = set().union(*(metrics.END_TO_END[w] for w in metrics.WORKLOADS))
    assert e2e == {
        "setup_s", "refresh_p50_s", "refresh_p90_s", "clicks_per_s", "pass_s", "peak_rss_mb",
    }
    layers = set(metrics.PER_LAYER["report_refresh"]) | set(metrics.BATCH_PER_LAYER)
    for name in (
        "session.start_s", "source.latest_offset_ms", "stream.wal_commit_ms",
        "state.memory_bytes", "report.jobs_per_refresh", "exec.busy_share",
        "behavior.q_event_attribution.s", "dedup.q_dedup_near.s",
        "similarity.q_sim_ann.s", "text.q_text_tfidf.s",
    ):
        assert name in layers


def test_result_line_refuses_missing_metrics():
    with pytest.raises(ValueError):
        metrics.result_line(True, 1, 0, {}, {"pass_s": "s"})


def test_tail_percentile_keeps_ten_samples_beyond():
    assert metrics.tail_percentile(list(range(1, 201))) == (90.0, 180)
    p, v = metrics.tail_percentile(list(range(1, 51)))
    assert p == 80.0 and v == 40
    assert metrics.tail_percentile([3.0, 1.0]) == (100.0, 3.0)


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = [w["name"] for w in bench["workloads"]]
    assert set(listed) <= set(metrics.WORKLOADS)
    for w in listed:
        assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END[w]
        assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.metric_names(w, True)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_near_dup_oracle_equals_all_pairs():
    docs = gen.documents_table(5, n=300)
    texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    sets = {d: set(t.split(" ")) for d, t in texts.items()}
    brute = []
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.95:
            brute.append((a, b, round(j, 6), 1))
    cols, rows = checks.near_dup_oracle(texts)
    assert rows == brute and rows  # the corpus has near duplicates


def test_report_reference_follows_raport_semantics():
    users = pa.table(
        {
            "user_id": [1, 2],
            "age": [30, 41],
            "city": ["A", "B"],
            "gender": ["Kobieta", None],
        }
    )
    clicks = pa.table({"user_id": [1, 1, 2, 2], "service": ["git", "home", "git", "kafka"]})
    ref = checks.report_reference(users, [clicks])
    assert ref["overall"] == [("git", 2, 2 / 3), ("kafka", 1, 1 / 3)]
    assert ref["services"]["git"]["gender"] == [("Kobieta", 1, 0.5), (None, 1, 0.5)]
    model = {
        "overall": [
            {"service": s, "clicks": c, "share": sh} for s, c, sh in ref["overall"]
        ],
        "services": [
            {"service": s, "histograms": h} for s, h in ref["services"].items()
        ],
    }
    assert checks.compare_report(model, ref) is None
    model["overall"][0]["clicks"] = 3
    assert checks.compare_report(model, ref) is not None
