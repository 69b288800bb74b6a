#!/usr/bin/env python
"""Capture explain('formatted') for registry queries (no execution).

Usage: SPARK_GRAFT_SF_DIR=<lake> python scripts/capture_plans.py
       <round> <tag> [name ...]
Defaults to the bench HEADLINE set with the graded-block session shape
(AQE off, 4 shuffle partitions, SHJ preferred). Point
SPARK_GRAFT_SF_DIR at the 64x scale dir and set SC_PLANS_SUFFIX=_scale
for the scale-block shapes. Writes plans/<round>/<name><suffix>_<tag>.txt.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from sc_crawler_spark.queries import REGISTRY  # noqa: E402
from sc_crawler_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        sys.exit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    suffix = os.environ.get("SC_PLANS_SUFFIX", "")
    spark = get_spark("sc-crawler-plans", shuffle_partitions=8,
                      prefer_shuffled_hash=True)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    os.makedirs(f"plans/{rnd}", exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    for name in names:
        df = REGISTRY[name][0](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        out = f"plans/{rnd}/{name}{suffix}_{tag}.txt"
        with open(out, "w") as fh:
            fh.write(plan)
        print(name, "->", out)
    spark.stop()


if __name__ == "__main__":
    main()
