"""Stage-level breakdown of q_dedup_ngram_jaccard (VERDICT r16 item 4).

The pipeline has four cost centers that one wall number conflates:

  1. prefixes   — tokenize + freq agg + per-doc sort + posexplode
                  (the persisted relation; feeds both join sides)
  2. candidates — prefix self-join + positional/length filters +
                  dropDuplicates (partial agg, exchange, final agg)
  3. verify     — attach both word arrays (broadcast joins) + one
                  array_intersect per candidate pair + threshold
  4. (clusters consumes the persisted pairs — out of scope here)

This probe times the CUMULATIVE sub-plans cold (evict before each),
so stage cost = successive difference, median-of-N. The sub-plans are
the production plan's own stages (dedup.jaccard_join_stages, whose
last stage is what prefix_filtered_jaccard_join returns), so there is
no second copy of the plan to drift.

Usage: python tools/jaccard_breakdown.py [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.catalog import (
    load_table,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions import (
    dedup,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
    evict_caches,
    get_spark,
)


def _consume(df):
    return df.select(
        F.sum(F.hash(*[F.col(c) for c in df.columns]))
    ).collect()[0][0]


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    spark = get_spark("jaccard_breakdown")
    docs = load_table(spark, args.sf_dir, "documents")
    prefixes, cand, final = dedup.jaccard_join_stages(docs)

    stages = {"prefixes": prefixes, "candidates": cand, "full": final}
    counts = {}
    results: dict[str, list[float]] = {k: [] for k in stages}
    # warm-up pass
    for nm, df in stages.items():
        evict_caches(spark)
        prefixes.unpersist(blocking=True)
        _consume(df)
    for _ in range(args.reps):
        for nm, df in stages.items():
            evict_caches(spark)
            # blocking: a rep must not start while cached blocks are
            # still resident
            prefixes.unpersist(blocking=True)
            spark.sparkContext.setJobDescription(f"breakdown:{nm}")
            t0 = time.time()
            _consume(df)
            results[nm].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    for nm, df in stages.items():
        counts[nm] = df.count()
    med = {k: _median(v) for k, v in results.items()}
    print(
        json.dumps(
            {
                "sf_dir": args.sf_dir,
                "reps": results,
                "medians": med,
                "increments": {
                    "prefixes": med["prefixes"],
                    "candidates_minus_prefixes": round(
                        med["candidates"] - med["prefixes"], 3
                    ),
                    "verify_minus_candidates": round(
                        med["full"] - med["candidates"], 3
                    ),
                },
                "rows": counts,
            }
        )
    )


if __name__ == "__main__":
    main()
