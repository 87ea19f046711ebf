"""tier_latest_head maintenance cost vs TOTAL conversation count
(r06 verdict "what's wrong" #2 exit evidence): seed a store with K
conversations, then time the head update for a FIXED 50-conversation
batch. With the bucket-scoped head (r07) the update reads/writes only
the touched buckets, so its wall must stay ~flat as K grows 10x; the
pre-r07 whole-table rewrite grows with K. The update is the rewrite
flush's head write (full recompute of the touched conversations from
tier_latest). Above 500k conversations the head is partitioned (64
buckets): a batch touching at most 32 buckets (e.g. 2 conversations)
takes the scoped write, a wider one (e.g. 200) the full partitioned
rewrite.

    python tools/head_scale_bench.py [K=2000] [touched=50] [reps=5] [root]

Prints one JSON line: {"convs": K, "touched": n, "best_s": ..,
"samples": [..], "head_files_total": .., "head_files_rewritten": ..}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pandas as pd
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from lindorm_tsdb_contest_java_spark import engine as eng  # noqa: E402
from lindorm_tsdb_contest_java_spark.plans.session import get_spark  # noqa: E402

BASE_S = 1_704_067_200


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    touched_n = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = get_spark("head_scale", parallelism=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    root = os.path.join(sys.argv[4] if len(sys.argv) > 4 else "/tmp",
                        f"head_scale_{k}")
    shutil.rmtree(root, ignore_errors=True)
    e = eng.connect(spark, root, n_buckets=64)
    rows = [(f"hs-{c:06d}", t, "user" if t % 2 else "assistant",
             f"text {c} {t}", "-",
             pd.Timestamp((BASE_S + (c % 1000) + t * 67) * 10**9))
            for c in range(k) for t in range(3)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    e.write(spark.createDataFrame(pdf))
    e.shutdown()  # seeds tier_latest + the head

    pipe = e._pipeline
    touched = spark.createDataFrame(
        pd.DataFrame({"conv_id": [f"hs-{c:06d}" for c in range(touched_n)]}))
    head_tbl = pipe.table("tier_latest_head")
    samples = []
    for _ in range(reps):
        before = {f["path"] for f in head_tbl.current().files}
        t0 = time.perf_counter()
        pipe._write_latest_head(touched, lambda slots: pipe.table(
            "tier_latest").read(spark).join(
                F.broadcast(touched), "conv_id", "left_semi"))
        samples.append(round(time.perf_counter() - t0, 3))
    snap = head_tbl.current()
    after = {f["path"] for f in snap.files}
    print(json.dumps({
        "convs": k, "touched": touched_n,
        "best_s": min(samples), "samples": samples,
        "head_files_total": len(after),
        "head_files_rewritten": len(after - before),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
