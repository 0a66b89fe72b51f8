#!/usr/bin/env python
"""Generate a local sf1 scale point (VERDICT r9 item 5): ~10x sf0.1, same
schemas, built as key-shifted disjoint copies of the driver's sf0.1 tables
(the SCALING.md volume-scaling method).
Output: /root/repo/.localdata/sf1/*.parquet (gitignored; ~200 MB).

Semantics of the copies:
- facts (lineitem, orders, events) and their referenced dims (customer,
  part, supplier) shift ALL keys by 10^7 * i, so joins fan out exactly as
  at sf0.1 and distinct-key cardinality scales 10x with volume;
- region/nation stay shared (TPC-H keeps them constant across SF too);
- documents get copy-unique z{i} tokens (no artificial cross-copy
  near-dups — the minhash/cluster entries must see real 10x work, not a
  10x duplicate blowup); doc_ids shift;
- embeddings shift vec_id and rotate labels; vectors unchanged (ANN cost
  depends on count x dim, not values).

Timing queries at this scale measures THROUGHPUT scaling only — results
are not comparable to the driver's sf tables (different generator).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from tesla_competitive_intelligence_etl_pipeline_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/root/repo/.localdata/sf1"
COPIES = 10
SHIFT = 10_000_000


def copies(df, keycols, i):
    out = df
    for c in keycols:
        out = out.withColumn(c, F.col(c) + F.lit(SHIFT * i))
    return out


def main() -> None:
    spark = get_spark("make_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(DST, exist_ok=True)

    def load(t):
        return spark.read.parquet(f"{SRC}/{t}.parquet")

    def save(df, t, parts=8):
        df.repartition(parts).write.mode("overwrite").parquet(
            f"{DST}/{t}.parquet"
        )
        print(t, spark.read.parquet(f"{DST}/{t}.parquet").count())

    shifted = {
        "customer": ["c_custkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "part": ["p_partkey"],
        "supplier": ["s_suppkey"],
        "events": ["event_id", "user_id"],
        "embeddings": ["vec_id"],
    }
    for t, keys in shifted.items():
        base = load(t)
        out = base
        for i in range(1, COPIES):
            out = out.unionByName(copies(base, keys, i))
        save(out, t, parts=16 if t in ("lineitem", "orders", "events") else 8)

    docs = load("documents")
    out = docs
    for i in range(1, COPIES):
        out = out.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(SHIFT * i))
            .withColumn("text", F.regexp_replace("text", " ", f" z{i} "))
            .withColumn("n_chars", F.length("text"))
        )
    save(out, "documents", parts=16)

    for t in ("region", "nation"):
        save(load(t), t, parts=1)


if __name__ == "__main__":
    main()
