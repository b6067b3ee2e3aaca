#!/usr/bin/env python3
"""CleanEval-style corpus scoring — the reference's flagship example
(examples/ce_score.rs) re-expressed on the Spark evaluation job.

Usage:
    python examples/ce_score.py <gold_dir> <html_dir> [master]

Pairs <stem>.txt gold files with <stem>.html inputs (the reference's
data/GoldStandard + data/finalrun-input layout), extracts with the CETD
engine, scores word-LCS precision/recall/F1 + Sørensen–Dice, prints the
means and throughput. Distributed shape: two file-listing scans on the
driver, then extraction + scoring run as Spark jobs (broadcast stem
join -> row-map word-LCS DP -> native means).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _mean(x) -> str:
    """A mean is NULL when no pair defines it (e.g. every gold file
    normalizes to empty)."""
    return "n/a" if x is None else f"{x:.4f}"


def main() -> None:
    if len(sys.argv) < 3:
        print(__doc__)
        raise SystemExit(2)
    gold_dir, html_dir = Path(sys.argv[1]), Path(sys.argv[2])
    master = sys.argv[3] if len(sys.argv) > 3 else "local[*]"

    from pyspark.sql import functions as F

    from dce_spark.spark.evaljob import mean_scores, score_pairs
    from dce_spark.spark.schema import PAGES_SCHEMA
    from dce_spark.spark.session import get_spark
    from dce_spark.spark.udf import attach_extraction

    pairs = []
    for txt in sorted(gold_dir.glob("*.txt")):
        html = html_dir / f"{txt.stem}.html"
        if html.exists():
            pairs.append((txt, html))
    if not pairs:
        raise SystemExit(f"no <stem>.txt/<stem>.html pairs under {gold_dir}")

    spark = get_spark(app_name="ce-score", master=master)
    t0 = time.time()
    pages = spark.createDataFrame(
        [(t.stem, None, h.read_bytes(), None, None) for t, h in pairs],
        PAGES_SCHEMA,
    )
    gold = spark.createDataFrame(
        [(t.stem, t.read_bytes().decode("utf-8", errors="replace"))
         for t, _ in pairs],
        ["stem", "gold_text"],
    )
    extracted = attach_extraction(pages, mode="content").select(
        F.col("url").alias("stem"), "extracted_text"
    )
    scores = score_pairs(extracted, gold)
    means = mean_scores(scores).collect()[0]
    wall = time.time() - t0
    print(f"Files scored: {means.files} / {len(pairs)}")
    print(f"Average precision: {_mean(means.avg_precision)}")
    print(f"Average recall:    {_mean(means.avg_recall)}")
    print(f"Average F1 score:  {_mean(means.avg_f1)}")
    print(f"Average Dice:      {_mean(means.avg_dice)}")
    print(f"Total time: {wall:.2f}s ({len(pairs) / wall:.1f} files/s)")
    spark.stop()


if __name__ == "__main__":
    main()
