"""Synthesize an sf1-scale fixture set (~6M lineitem rows) from sf0.1.

The driver only ships sf0.001/0.01/0.1 (TESTDATA.md, read-only), but the
SCALING sweep needs one decade beyond the bench SF to see where shuffle
sizes actually bite (VERDICT r5 item 6). This replicates sf0.1 ten times
with KEY-SHIFTED surrogate keys, preserving referential integrity
(lineitem -> orders/part/supplier, orders -> customer, events.user_id ->
customer) and the per-replica value distributions:

- fact/dim keys shift by replica * (max_key + 1); region/nation stay fixed
  (TPC-H semantics: 5/25 rows at every SF);
- document text is token-salted per replica (every token gets a replica
  suffix), so intra-replica duplicate/near-dup structure matches sf0.1
  while replicas never collide — a naive byte-copy would make every doc a
  10-way exact duplicate and quadratically distort the dedup workloads;
- embeddings perturb dimension 0 by replica * 1e-3, keeping ANN workloads
  from degenerating into 10-way ties.

Usage: python tools/make_sf1.py [out_dir] [--reps N] [--tables a,b,c]
(defaults: /tmp/testdata_sf1, 10 reps, all tables). ``--reps 100 --tables
lineitem,orders,events`` builds the sf10 subset the SCALING two-decade
readings use (VERDICT r7 item 6) without paying for 100x documents/
embeddings nobody times at that scale. Deterministic; ~1-2 min on
local[32] at the default. Output is parquet-per-table, same layout as the
driver's sf dirs, loadable via db_core_spark.tables.table.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from db_core_spark.session import get_spark  # noqa: E402
from db_core_spark.tables import table  # noqa: E402

SRC = "/root/testdata/sf0.1"
REPS = 10


def main() -> None:
    global REPS, SRC
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir", nargs="?", default="/tmp/testdata_sf1")
    ap.add_argument("--reps", type=int, default=REPS)
    ap.add_argument("--tables", default=None, help="comma list; default all")
    ap.add_argument(
        "--src", default=SRC,
        help="source sf dir to replicate (default sf0.1); pointing at a "
        "previously built /tmp set compounds decades (sf10 x10 -> sf100) "
        "without a 1000-branch union plan. The dir must contain every "
        "table the selected --tables shift keys by (lineitem needs "
        "orders/part/supplier present, orders and events need customer); "
        "a missing stride table fails loudly before anything is written",
    )
    ns = ap.parse_args()
    out_dir = ns.out_dir
    REPS = ns.reps
    SRC = ns.src
    only = set(ns.tables.split(",")) if ns.tables else None
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("make-sf1")

    def load(name):
        return table(spark, SRC, name)

    # Strides are computed LAZILY, only for the tables actually being
    # replicated (ADVICE r8): a --tables subset build must not crash
    # loading tables it never touches — and when a stride SOURCE table is
    # missing from --src (a subset-built dir), fail loudly with the fix
    # before anything is written, not mid-plan.
    _stride_src = {
        "cust": ("customer", "c_custkey"),
        "ord": ("orders", "o_orderkey"),
        "part": ("part", "p_partkey"),
        "supp": ("supplier", "s_suppkey"),
        "ev": ("events", "event_id"),
        "doc": ("documents", "doc_id"),
        "vec": ("embeddings", "vec_id"),
    }
    _stride_cache: dict[str, int] = {}

    def stride(key: str) -> int:
        if key not in _stride_cache:
            tbl, col = _stride_src[key]
            if not os.path.exists(os.path.join(SRC, f"{tbl}.parquet")):
                raise SystemExit(
                    f"--src {SRC} lacks {tbl}.parquet, needed to compute the "
                    f"{col} key stride for a selected table; rebuild the "
                    f"source dir including '{tbl}' in --tables (all tables "
                    "shifting by the same key must share one stride)"
                )
            _stride_cache[key] = load(tbl).agg(F.max(col)).collect()[0][0] + 1
        return _stride_cache[key]

    def replicate(df, shifts: dict[str, int], transform=None):
        """Union REPS copies; `shifts` maps key column -> per-replica stride."""
        out = None
        for rep in range(REPS):
            d = df
            for col, stride in shifts.items():
                d = d.withColumn(col, F.col(col) + F.lit(rep * stride))
            if transform is not None:
                d = transform(d, rep)
            out = d if out is None else out.unionByName(d)
        return out

    def salt_text(d, rep):
        if rep == 0:
            return d
        # suffix every token with the replica id: intra-replica shingle
        # structure is preserved, cross-replica shingles never collide
        return d.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), r"\s+"),
                    lambda t: F.concat(t, F.lit(f"r{rep}")),
                ),
                " ",
            ),
        )

    def perturb_vec(d, rep):
        if rep == 0:
            return d
        return d.withColumn(
            "embedding",
            F.transform(
                F.col("embedding"),
                lambda x, i: F.when(i == 0, x + F.lit(rep * 1e-3).cast("float"))
                .otherwise(x)
                .cast("float"),
            ),
        )

    plans = {
        "region": lambda: load("region"),
        "nation": lambda: load("nation"),
        "customer": lambda: replicate(
            load("customer"), {"c_custkey": stride("cust")}
        ),
        "supplier": lambda: replicate(
            load("supplier"), {"s_suppkey": stride("supp")}
        ),
        "part": lambda: replicate(load("part"), {"p_partkey": stride("part")}),
        "orders": lambda: replicate(
            load("orders"),
            {"o_orderkey": stride("ord"), "o_custkey": stride("cust")},
        ),
        "lineitem": lambda: replicate(
            load("lineitem"),
            {
                "l_orderkey": stride("ord"),
                "l_partkey": stride("part"),
                "l_suppkey": stride("supp"),
            },
        ),
        "events": lambda: replicate(
            load("events"),
            {"event_id": stride("ev"), "user_id": stride("cust")},
        ),
        "documents": lambda: replicate(
            load("documents"), {"doc_id": stride("doc")}, transform=salt_text
        ),
        "embeddings": lambda: replicate(
            load("embeddings"), {"vec_id": stride("vec")}, transform=perturb_vec
        ),
    }
    if only is not None:
        unknown = only - set(plans)
        if unknown:
            raise SystemExit(f"unknown tables: {sorted(unknown)}")
        plans = {k: v for k, v in plans.items() if k in only}
    plans = {name: build() for name, build in plans.items()}
    for name, df in plans.items():
        dest = os.path.join(out_dir, f"{name}.parquet")
        # 32 files per fact table so local[32] scans parallelize like a real
        # cluster would (a handful of small files caps scan parallelism at
        # the file count — 128 MB splits never divide a 4 MB file)
        nfiles = 1 if name in ("region", "nation") else 32
        df.repartition(nfiles).write.mode("overwrite").parquet(dest + ".dir")
        # the fixture loader expects <table>.parquet as a path; a directory
        # works for spark.read.parquet, so rename the dir to that name
        import shutil

        if os.path.exists(dest):
            shutil.rmtree(dest)
        os.replace(dest + ".dir", dest)
        print(f"wrote {dest}")
    for name in plans:
        n = spark.read.parquet(os.path.join(out_dir, f"{name}.parquet")).count()
        print(f"{name}: {n} rows")


if __name__ == "__main__":
    main()
