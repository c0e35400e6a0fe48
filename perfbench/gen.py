"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed (numpy ``default_rng``)
and writes parquet through pyarrow without pandas metadata, so the same
seed gives byte-identical files and a different seed gives different
ones (checked by ``perfbench/tests/test_perfbench.py``). The program
under test only ever sees the files written here.

Schemas follow FIXTURES.md: §B for the clickstream (``users``,
``clicks``), §A for ``events``, ``documents`` and ``embeddings``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- report_refresh: FIXTURES.md §B ------------------------------------

SERVICES = (
    "gitlab", "jupyterhub", "git", "openldap", "googlekubernetes", "odoo",
    "rabbitmq", "activemq", "camel", "cassandra", "kafka", "zookeeper",
)
GENDERS = ("Mężczyzna", "Kobieta")
N_USERS = 20_000
N_CITIES = 200
CLICKS_PER_FILE = 20_000
# Share of users without a gender: the reference's register INSERT drops
# the column (app.py:122), so NULL genders occur in real data.
GENDER_NULL_SHARE = 0.03
SERVICE_ZIPF_S = 1.1

# --- behavior_batch: FIXTURES.md §A events ------------------------------

N_EVENTS = 100_000
N_CUSTOMERS = 15_000  # sf0.1 customer keys 0..14999
USER_ZIPF_S = 1.1
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000

# --- corpus_dedup: FIXTURES.md §A documents / embeddings ---------------

# The duplicate shares are assumptions, not measured rates: a few
# percent of exact and near copies, well below the test fixture's
# 71 % pair density. Each is a fixed count per corpus, so every seed
# has the same number of duplicate pairs and only which documents they
# are changes.
N_DOCS = 400
VOCAB = 3_000
DOC_EXACT_DUP_SHARE = 0.03  # copies of another document
DOC_NEAR_DUP_SHARE = 0.05  # another document with one token replaced
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_VECS = 400
DIM = 64
N_LABELS = 10
CLUSTER_NOISE = 1.7  # same-label cosine ~ 1 / (1 + 1.7²) ≈ 0.26
VEC_NEAR_DUP_SHARE = 0.04  # another vector plus cosine ~0.99 noise


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input so adding one never shifts another."""
    return np.random.default_rng([seed, *stream.encode("ascii")])


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


# --- report_refresh -------------------------------------------------------


def users_table(seed: int) -> pa.Table:
    """~20k users: age 16-80, ~200 cities (skewed), gender with a
    GENDER_NULL_SHARE of NULLs. The NULLs are kept on purpose; the
    report stream must cope with them."""
    rng = _rng(seed, "users")
    ids = np.arange(N_USERS, dtype=np.int64)
    age = rng.integers(16, 81, N_USERS).astype(np.int32)
    city_idx = rng.choice(N_CITIES, N_USERS, p=_zipf_weights(N_CITIES, 0.8))
    is_null = rng.random(N_USERS) < GENDER_NULL_SHARE
    pick = rng.integers(0, len(GENDERS), N_USERS)
    gender = [None if z else GENDERS[k] for z, k in zip(is_null, pick)]
    return pa.table(
        {
            "user_id": pa.array(ids),
            "name": pa.array([f"user{i}" for i in ids]),
            "email": pa.array([f"user{i}@example.com" for i in ids]),
            "age": pa.array(age),
            "city": pa.array([f"Miasto{c:03d}" for c in city_idx]),
            "gender": pa.array(gender, pa.string()),
            "password": pa.array(["x"] * N_USERS),
        }
    )


def clicks_table(seed: int, index: int) -> pa.Table:
    """Click file ``index``: CLICKS_PER_FILE clicks over the 12 services
    plus ``home``, Zipf-skewed by a seeded popularity order. Timestamps
    advance one file per minute, so files are in event-time order."""
    rng = _rng(seed, f"clicks{index}")
    names = np.array(SERVICES + ("home",))
    order = _rng(seed, "popularity").permutation(len(names))
    svc = names[order][
        rng.choice(len(names), CLICKS_PER_FILE, p=_zipf_weights(len(names), SERVICE_ZIPF_S))
    ]
    ts = np.sort(rng.integers(0, 60_000_000, CLICKS_PER_FILE)) + (
        EVENTS_START_US + index * 60_000_000
    )
    return pa.table(
        {
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, N_USERS, CLICKS_PER_FILE)),
            "service": pa.array(svc.tolist(), pa.string()),
        }
    )


# --- behavior_batch -------------------------------------------------------


def events_table(seed: int, n: int = N_EVENTS) -> pa.Table:
    """§A events over 30 days: user_id Zipf-skewed over the sf0.1
    customer keys, event_type uniform over the five types, value
    exponential (mean ~50, 2 decimals), props ``{"k": 0..99}``."""
    rng = _rng(seed, "events")
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n)) + EVENTS_START_US
    # rank r is customer key r in every seed: which keys are hot decides
    # which shuffle partition is the slowest, and a per-seed choice of
    # hot keys moved pass walls by a quarter between seeds
    user = rng.choice(N_CUSTOMERS, n, p=_zipf_weights(N_CUSTOMERS, USER_ZIPF_S))
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(etype.tolist(), pa.string()),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()]),
        }
    )


# --- corpus_dedup ---------------------------------------------------------


def _vocabulary(rng: np.random.Generator) -> list[str]:
    syll = ("ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "de", "pa",
            "go", "zu", "be", "fi", "ho", "ju")
    words: set[str] = set()
    while len(words) < VOCAB:
        n = int(rng.integers(1, 4))
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), n)))
    return sorted(words)


def _copies(rng: np.random.Generator, n: int, shares: tuple[float, ...]):
    """Split ``n`` rows into originals and fixed counts of copies: for
    each share, round(n * share) copies, each of a different original.
    Returns (number of originals, [source original per copy] per share)."""
    counts = [round(n * sh) for sh in shares]
    n_orig = n - sum(counts)
    src = rng.choice(n_orig, sum(counts), replace=False)
    bounds = np.cumsum([0, *counts])
    return n_orig, [src[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def documents_table(seed: int, n: int = N_DOCS) -> pa.Table:
    """§A documents: Zipf-frequency words from a VOCAB-word vocabulary,
    10-100 words each. Exactly round(n * DOC_EXACT_DUP_SHARE) exact
    copies and round(n * DOC_NEAR_DUP_SHARE) one-token edits, each of a
    different original, in shuffled order."""
    rng = _rng(seed, "documents")
    vocab = np.array(_vocabulary(rng))
    p = _zipf_weights(VOCAB, 1.0)
    n_orig, (exact, near) = _copies(rng, n, (DOC_EXACT_DUP_SHARE, DOC_NEAR_DUP_SHARE))
    texts = [
        " ".join(rng.choice(vocab, int(rng.integers(10, 101)), p=p)) for _ in range(n_orig)
    ]
    texts += [texts[j] for j in exact]
    for j in near:
        words = texts[j].split(" ")
        # a word the document does not have, so the edit always changes it
        new = next(w for w in rng.permutation(vocab) if w not in words)
        words[int(rng.integers(0, len(words)))] = str(new)
        texts.append(" ".join(words))
    texts = [texts[k] for k in rng.permutation(n)]
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array([f"src{i % 5}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int = N_VECS) -> pa.Table:
    """§A embeddings: unit float32 vectors around N_LABELS cluster
    centroids (label = cluster). Exactly round(n * VEC_NEAR_DUP_SHARE)
    near-copies, each of a different original, in shuffled order."""
    rng = _rng(seed, "embeddings")
    cent = rng.standard_normal((N_LABELS, DIM))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    n_orig, (near,) = _copies(rng, n, (VEC_NEAR_DUP_SHARE,))
    noise = rng.standard_normal((n, DIM))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n_orig)
    x = cent[label] + CLUSTER_NOISE * noise[:n_orig]
    copies = x[near] + 0.1 * np.linalg.norm(x[near], axis=1, keepdims=True) * noise[n_orig:]
    x = np.concatenate([x, copies])
    label = np.concatenate([label, label[near]])
    order = rng.permutation(n)
    x, label = x[order], label[order]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_batch_inputs(workload: str, seed: int, data_dir: str) -> list[str]:
    """Write one batch workload's tables as ``<data_dir>/<table>.parquet``
    (the layout ``catalog.load_table`` reads)."""
    tables = {
        "behavior_batch": {"events": events_table},
        "corpus_dedup": {
            "documents": documents_table,
            "embeddings": embeddings_table,
        },
    }[workload]
    return [
        _write(make(seed), os.path.join(data_dir, f"{name}.parquet"))
        for name, make in tables.items()
    ]
