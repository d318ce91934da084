#!/usr/bin/env python
"""Regenerate the frozen dim-32 quality-classifier literals embedded in
queries_curation.py (_QPW/_QPB — the trained stage of
curation_pipeline_trained).

The composed pipeline needs weights as PLAN LITERALS so its DuckDB twin
can replay the scoring fold; this script is the provenance: the exact
bounded fit (operators/quality.training_frame, cap=100k) over the sf0.001
fixture. Deterministic — rerunning prints the same floats.

Run: python tools/train_frozen_quality.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from vervectordb_spark.operators import quality as Q
    from vervectordb_spark.schema import load_table
    from vervectordb_spark.session import get_spark

    spark = get_spark("train-frozen-quality")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    w, b = Q.train_quality_classifier(
        Q.training_frame(docs, dim=32, cap=100_000))
    print("_QPW =", [float(x) for x in w])
    print("_QPB =", float(b))


if __name__ == "__main__":
    main()
