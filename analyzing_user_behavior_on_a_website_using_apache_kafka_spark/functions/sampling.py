"""Reproducible sampling / dataset splitting over `documents`.

LLM-data-pipeline staples: subsample a corpus, carve train/val/test.
Both are DETERMINISTIC HASH decisions, not RNG draws: bucket =
first-32-bits-of-md5(content) mod 100. That is the only approach that
survives scale — the decision is a pure per-row map (no state, no seed
coordination across executors, no shuffle), re-runs and backfills
assign every document identically, and adding data never reassigns
existing rows (RNG-based `df.sample` re-draws under retries,
repartitioning, or partial re-reads).

Hashing the CONTENT (not doc_id) also makes the split stable across
re-ingestion that renumbers ids — and exact-duplicate texts land in the
same split, so train/test leakage from duplicates is structurally
impossible. Both engines compute the identical bucket (md5 is md5), so
the oracles are EXACT, not tolerance invariants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import load_table
from ..registry import query
from ..session import memo

_SAMPLE_PCT = 20  # q_sample_hash keeps buckets 0..19
_TRAIN_PCT = 80  # q_split_train_test: <80 train, <90 validation, rest test
_VAL_PCT = 90


def hash_bucket(col: Column, mod: int = 100) -> Column:
    """Deterministic bucket in [0, mod): first 8 md5 hex chars → int.
    mod=100 for percent-rate sampling; 1_000_000 where rates need ppm
    resolution (q_sample_temperature)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % mod
    )


@query(
    "q_sample_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) % 100 AS b
      FROM documents
    )
    WHERE b < {_SAMPLE_PCT}
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible {_SAMPLE_PCT}%-ish corpus subsample by content hash.

    Map-only: the predicate pushes to the scan; no RNG, no shuffle,
    identical membership on every run and every engine (exact oracle).
    """
    d = load_table(spark, sf_dir, "documents")
    return d.filter(hash_bucket(F.col("text")) < _SAMPLE_PCT).select(
        "doc_id", "lang"
    )


@query(
    "q_sample_mixture",
    oracle=f"""
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) % 100 AS b
      FROM documents
    )
    WHERE b < CASE WHEN source = 'src0' THEN 100
                   WHEN source = 'src1' THEN 50
                   ELSE 10 END
    """,
)
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted data-mixture sampling: each source kept at its own rate
    (src0 fully, src1 at 50%, the long tail at 10%) — how a training
    corpus up-weights curated sources and down-weights bulk crawl.
    Same content-hash buckets as q_sample_hash, so the mixture is
    reproducible, map-only, and (because lower buckets nest) a rate
    INCREASE only ADDS documents — previous members never churn out.
    """
    return mixture_sample(load_table(spark, sf_dir, "documents"))


def mixture_sample(d: DataFrame) -> DataFrame:
    """Core mixture rule over any ``(doc_id, source, text)`` relation —
    separated from the registered query so property tests can drive
    constructed corpora against a Python mirror of the per-source rate
    table and the md5 bucket rule."""
    rate = (
        F.when(F.col("source") == "src0", 100)
        .when(F.col("source") == "src1", 50)
        .otherwise(10)
    )
    return d.filter(hash_bucket(F.col("text")) < rate).select(
        "doc_id", "source"
    )


# alpha is fixed at 0.5 (temperature T = 2) and computed via sqrt() —
# IEEE-exact on both engines, unlike a general pow(n, alpha)
_PPM = 1_000_000  # rate resolution: integer parts-per-million thresholds


@query(
    "q_sample_temperature",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    s AS (SELECT SUM(sqrt(n)) AS tot FROM c),
    q AS (SELECT lang, n, sqrt(n) / (SELECT tot FROM s) AS ql FROM c),
    m AS (SELECT MIN(n / ql) AS cap FROM q),
    r AS (
      SELECT lang,
             CAST(round((SELECT cap FROM m) * ql / n * {_PPM}) AS BIGINT)
               AS thr
      FROM q
    )
    SELECT d.doc_id, d.lang
    FROM (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) % {_PPM}
               AS b
      FROM documents
    ) d JOIN r USING (lang)
    WHERE d.b < r.thr
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language resampling (alpha = 1/T = 0.5): the
    canonical multilingual-pretraining mixture (XLM / mT5 style) —
    target share of language l is n_l^alpha / SUM n_k^alpha, flattening
    the head and up-weighting tail languages; the realized sample is
    the LARGEST corpus honoring those shares with every per-language
    rate <= 1 (cap = min_l n_l / q_l, the size at which the scarcest
    up-weighted language is fully consumed).

    Deterministic end-to-end: rates derive from exact counts and round
    to integer parts-per-million thresholds (double math agrees across
    engines to ~1e-12 relative — six orders below the rounding step),
    and membership is the same content-hash bucket rule as
    q_sample_mixture, at ppm resolution — reproducible, churn-free
    under rate increases, exact-duplicate texts decide identically.

    Plan shape: one count shuffle to O(languages) rows; two 1-ROW
    aggregates broadcast back (the q_event_anomaly scalar pattern);
    per-doc membership is a broadcast join on lang + a map-side
    predicate. Nothing after the first count touches O(docs) state.

    The count relation ``c`` is persisted (r8 scan-shape audit): the
    s/q/m/r scalar chain consumes it four times, and without the cache
    each consumer re-expands through its own full documents scan
    (5 scans at sf0.001) — at 100 TB that is four corpus passes to
    rebuild a dozen-row table. With the persist the plan is 2 passes:
    one to populate ``c``, one for membership. Session-lifetime cache
    per the ``_CACHE_OWNERSHIP`` contract in ``functions/dedup.py``
    (slim O(languages) rows; ``session.evict_caches`` clears it).
    """
    return temperature_sample(load_table(spark, sf_dir, "documents"))


def temperature_sample(d: DataFrame) -> DataFrame:
    """Core temperature resampling over any ``(doc_id, lang, text)``
    relation — separated from the registered query so property tests
    can drive constructed corpora (skewed language mixes, duplicate
    texts within and across languages) against an exact Python mirror
    of the alpha-mixture arithmetic and the md5 ppm-bucket rule."""
    c = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    s = c.agg(F.sum(F.sqrt("n")).alias("tot"))
    q = c.crossJoin(F.broadcast(s)).select(
        "lang", "n", (F.sqrt("n") / F.col("tot")).alias("ql")
    )
    m = q.agg(F.min(F.col("n") / F.col("ql")).alias("cap"))
    r = q.crossJoin(F.broadcast(m)).select(
        "lang",
        F.round(F.col("cap") * F.col("ql") / F.col("n") * _PPM)
        .cast("bigint")
        .alias("thr"),
    )
    return (
        d.join(F.broadcast(r), "lang")
        .filter(hash_bucket(F.col("text"), _PPM) < F.col("thr"))
        .select("doc_id", "lang")
    )


@query(
    "q_split_train_test",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN b < {_TRAIN_PCT} THEN 'train'
                WHEN b < {_VAL_PCT} THEN 'validation'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) % 100 AS b
      FROM documents
    )
    """,
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment (80/10/10) by
    content hash — duplicate texts share a split by construction, so
    exact-dup leakage across splits cannot happen. The split column is
    what a pipeline would write as a partition key so each consumer
    reads only its split's files (partition pruning)."""
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("text"))
    return d.select(
        "doc_id",
        F.when(b < _TRAIN_PCT, "train")
        .when(b < _VAL_PCT, "validation")
        .otherwise("test")
        .alias("split"),
    )


_PACK_BUDGET = 256  # tokens per training sequence


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), x -> len(x) > 0))
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY source, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS first_seq,
           CAST((cum - 1) // {_PACK_BUDGET} AS BIGINT) AS last_seq,
           CAST((cum - 1) // {_PACK_BUDGET}
                - (cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS n_splits
    FROM c
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus in a
    deterministic order (source, doc_id) and split it into fixed
    {_PACK_BUDGET}-token training sequences; emit, per document, the
    first/last sequence it lands in and how many sequence boundaries
    cut through it. This is the packing step every pre-training
    dataloader runs — zero padding waste, at the cost of boundary
    splits (the n_splits column is exactly the stat you monitor when
    tuning budget vs document length).

    The global prefix-sum is the scale hazard: a single unbounded
    window = one reducer owning the whole corpus. Two-phase instead:
    per-SOURCE running sums (shuffle partitioned by source), plus a
    source-level totals table (25ish rows) whose own running sum gives
    each source's global offset — broadcast back and added. No stage
    ever holds more than one source's rows, and the only global
    ordering work happens on the tiny per-source totals. (Same trick
    as a distributed scan/prefix-sum: local fold + offsets of fold
    totals.)
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    tok = d.select(
        "doc_id", "source", F.size(words).cast("bigint").alias("n_tokens")
    )
    return pack_token_stream(tok)


def pack_token_stream(
    tok: DataFrame, budget: int = _PACK_BUDGET
) -> DataFrame:
    """Core two-phase prefix-sum packing over any ``(doc_id, source,
    n_tokens)`` relation — separated from the registered query (which
    feeds it the tokenized documents at the production budget) so
    property tests can drive constructed corpora at tiny budgets:
    budget-boundary documents, exact-multiple sources, single-source
    skew."""
    from pyspark.sql import Window as W

    ws = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = tok.withColumn("scum", F.sum("n_tokens").over(ws))
    totals = tok.groupBy("source").agg(F.sum("n_tokens").alias("stot"))
    wo = W.orderBy("source").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "source", F.coalesce(F.sum("stot").over(wo), F.lit(0)).alias("off")
    )
    cum = F.col("off") + F.col("scum")
    b = F.lit(budget)
    first_seq = F.floor((cum - F.col("n_tokens")) / b).cast("bigint")
    last_seq = F.floor((cum - 1) / b).cast("bigint")
    return local.join(F.broadcast(offsets), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq).alias("n_splits"),
    )


_STRAT_K = 40  # exact per-source sample size


@query(
    "q_sample_stratified",
    oracle=f"""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT)
                          % 100,
                        md5(text), doc_id) AS rk
      FROM documents
    ) WHERE rk <= {_STRAT_K}
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k stratified sample: the {_STRAT_K} first documents of each
    source in deterministic content-hash order — eval-set carving and
    per-source inspection samples need EXACT counts, which the rate-based
    samplers (q_sample_hash / q_sample_mixture) can't promise.

    The naive plan — row_number over every source — shuffles the WHOLE
    corpus to rank rows of which only k survive. This plan pre-thins
    first, exactly: the sample order's PRIMARY key is the hash bucket,
    so the k winners of a source all sit in its lowest-populated
    buckets. Per-source totals (a tiny aggregate) set an adaptive
    bucket-rate targeting ~3k survivors; a second tiny aggregate checks
    each source actually kept >= min(k, n) rows, and only the (Chernoff-
    improbable) under-thinned sources fall back to their full rows. The
    expensive window therefore ranks ~3k rows per source instead of the
    corpus — at 100 TB the shuffle carries ~0.01% of the data. All
    decisions are DataFrame aggregates (broadcast back, never
    collected), and membership is hash-deterministic across runs,
    engines, and backfills like every sampler in this module.

    Memoized per (session, corpus) (``session.memo``) — the plan owns
    two persisted relations (rates, thinned), and without the memo every
    oracle-sweep / bench rep added two NEW MEMORY_AND_DISK entries that
    lived until evict_caches while warm calls recomputed instead of
    reusing them (ADVICE r9).
    """
    return memo(
        "stratified_sample",
        spark,
        sf_dir,
        lambda: stratified_sample(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", "text"
            )
        ),
    )


def stratified_sample(d: DataFrame, k: int = _STRAT_K) -> DataFrame:
    """Core exact-k stratified sample over any ``(doc_id, source,
    text)`` relation — separated from the registered query so property
    tests can drive constructed corpora at small k against the plain
    per-source (bucket, md5, doc_id) ranking definition.  The result
    is rank-defined and therefore IDENTICAL whichever internal path
    ran — adaptive pre-thinning or the under-thinned full-source
    fallback — which is what the property tests pinned one round
    before the r9 persist rework of the internals.

    Both decision relations are persisted (r8 scan-shape audit, landed
    r9): ``rates`` is O(sources) rows but is consumed by three
    branches (the thinning join, the survivor check, the fallback
    membership), and ``thinned`` (~0.3 % of the corpus at the 300k/n
    target rate) is consumed twice (survivor count + ranked sample) —
    unpersisted, every consumer re-expanded through its OWN full
    documents scan: 9 scans at sf0.001 against a floor of 3.  With the
    two persists the plan is exactly that floor: one corpus pass for
    the per-source totals, one to materialize ``thinned``, one for the
    anti-join fallback side.

    Cache ownership: each DIRECT call of this core creates two fresh
    persisted relations that live until ``session.evict_caches`` —
    fine for the property tests' tiny constructed corpora, which is
    exactly who calls it directly.  Reuse across repeated calls lives
    one layer up: the registered ``q_sample_stratified`` memoizes the
    whole plan per (session, corpus) in ``session.memo`` (ADVICE r9),
    per the ``_CACHE_OWNERSHIP`` contract in ``functions/dedup.py``."""
    from pyspark.sql import Window as W

    d2 = d.withColumn("b", hash_bucket(F.col("text")))
    totals = d2.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    rates = totals.select(
        "source",
        "n",
        F.least(
            F.greatest(F.ceil(F.lit(300 * k) / F.col("n")), F.lit(1)),
            F.lit(100),
        ).alias("rate"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    thinned = (
        d2.join(F.broadcast(rates), "source")
        .filter(F.col("b") < F.col("rate"))
        .select("doc_id", "source", "text", "b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    surv = thinned.groupBy("source").agg(F.count(F.lit(1)).alias("n_surv"))
    ok = (
        surv.join(rates, "source")
        .filter(F.col("n_surv") >= F.least(F.lit(k), F.col("n")))
        .select("source")
    )
    base = thinned.join(F.broadcast(ok), "source", "semi").unionByName(
        d2.join(F.broadcast(ok), "source", "left_anti")
    )
    w = W.partitionBy("source").orderBy("b", F.md5("text"), "doc_id")
    return (
        base.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "source", F.col("rk").cast("bigint").alias("rk"))
    )
