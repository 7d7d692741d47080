"""Octave sweep for tokenizer TRAINING (round-8 verdict item 4): time
``train_bpe`` and ``train_bbpe`` at 1/4/16x corpus copies with a FIXED
merge budget and pin alpha.

The scaling claim being measured: the batched merge loop's driver
round count is vocab-bounded (<= ceil(num_merges/batch) * 2, pinned by
pytest via ``_stats``), so training wall-clock is

    rounds (constant) x per-round pair-count agg (linear in the
    DISTINCT-WORD frame, not the corpus)

On real corpora the distinct-word frame saturates (Heaps' law), so
training goes near-flat with corpus growth.  The sweep corpus CANNOT
show that directly — tools/scale_sweep.py suffixes every token with
the copy id precisely so shingle sets stay disjoint, which inflates
distinct words linearly by construction — so this sweep records the
distinct-word count next to each timing: the honest claim is
alpha(time) tracking alpha(distinct words) (~1.0 on this corpus, by
corpus construction), with rounds pinned constant across scales.

Usage: python tools/bpe_train_sweep.py [--scales 1,4,16]
       [--merges 64] [--out SCALESWEEP_bpe_train.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from scale_sweep import BASE, build_scaled  # noqa: E402

from hbase_spark.functions.bpe import (  # noqa: E402
    train_bbpe,
    train_bpe,
    word_counts,
)
from hbase_spark.sources.tables import get_spark, load_table  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--merges", type=int, default=64)
    ap.add_argument("--out", default="SCALESWEEP_bpe_train.json")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--driver-memory 16g pyspark-shell"
    )
    spark = get_spark("bpe_train_sweep")
    spark.sparkContext.setLogLevel("ERROR")

    # codegen/JIT warmup at the smallest SF, like scale_sweep
    warm = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    train_bpe(warm, num_merges=8, batch=8)

    results: dict[str, dict] = {}
    for k in scales:
        sf_dir = BASE if k == 1 else build_scaled(spark, k, ["documents"])
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        row: dict = {
            "distinct_words": word_counts(docs).count(),
        }
        for name, fn in (("bpe", train_bpe), ("bbpe", train_bbpe)):
            stats: dict = {}
            t0 = time.time()
            merges = fn(
                docs, num_merges=args.merges, batch=8, _stats=stats
            )
            row[name] = round(time.time() - t0, 3)
            row[f"{name}_rounds"] = stats.get("rounds")
            row[f"{name}_merges"] = len(merges)
            print(f"x{k} {name}: {row[name]}s rounds={stats.get('rounds')}",
                  file=sys.stderr, flush=True)
        results[str(k)] = row

    hi, mid = str(scales[-1]), str(scales[-2])
    ratio = scales[-1] / scales[-2]

    def alpha(key):
        return round(
            math.log(results[hi][key] / max(results[mid][key], 1e-3))
            / math.log(ratio),
            2,
        )

    payload = {
        "base": BASE,
        "merges": args.merges,
        "scales": results,
        "alpha": {
            "bpe": alpha("bpe"),
            "bbpe": alpha("bbpe"),
            "distinct_words": alpha("distinct_words"),
        },
        "alpha_note": (
            f"log(t_{hi}x/t_{mid}x)/log({ratio:g}).  The copy transform "
            "inflates distinct words linearly BY CONSTRUCTION (token "
            "suffixing keeps shingle sets disjoint), so the structural "
            "claim is alpha(time) <= alpha(distinct_words) with rounds "
            "constant across scales — on a real corpus distinct words "
            "saturate and training goes near-flat."
        ),
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
