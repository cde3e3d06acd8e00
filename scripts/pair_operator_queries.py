#!/usr/bin/env python
"""Print the catalog queries built on the shared pair and top-k stages of
``operators/dedup.py`` (``_self_pairs``, ``_successor_pairs``, ``_attach``,
``_top_k``) — every near-dup and similarity operator — one name a line.
This is the ``scripts/check_oracle.py`` subset to run after touching any
of them:

    python scripts/check_oracle.py $(python scripts/pair_operator_queries.py)

Each catalog query is built, not collected, with the stages wrapped to
record their callers, so the list follows the catalog as it changes.
Building runs the few eager probes some queries take (vocabulary probes,
corpus counts, iterative lineage truncation) on the small ``--sf`` data.
"""

from __future__ import annotations

import argparse
import functools
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

STAGES = ("_self_pairs", "_successor_pairs", "_attach", "_top_k")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from data_integration_case_study_spark.operators import (
        cache,
        dedup,
        similarity,
    )
    from data_integration_case_study_spark.session import get_spark

    spark = get_spark("pair-operator-queries")
    spark.sparkContext.setLogLevel("ERROR")
    calls: list[str] = []

    def recorded(fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            calls.append(fn.__name__)
            return fn(*a, **kw)

        return wrapper

    # similarity imports the stages by name, so wrap both modules' bindings
    for name in STAGES:
        wrapped = recorded(getattr(dedup, name))
        for mod in (dedup, similarity):
            setattr(mod, name, wrapped)
    for name, build in entrymod.queries().items():
        calls.clear()
        build(spark, args.sf)
        if calls:
            print(name, flush=True)
        cache.release_tracked()
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
