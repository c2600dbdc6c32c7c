#!/usr/bin/env python
"""Dump ``.explain("formatted")`` of the headline queries to
``plans/headline/`` and check them against committed dumps.

The default set is the bench ``HEADLINE`` list plus the rest of the ANN
search family (``ann_pq_topk``, ``ann_ivfpq_topk``, ``ann_knn_graph``,
``ann_knn_graph_lsh``); name queries on the command line to dump a
subset.

Usage (``SF`` is the corpus the committed dumps were made from — the
sf0.1 bench scale, so broadcast thresholds match the measured runs;
``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``)::

    python scripts/dump_plans.py --sf-dir SF --suffix after [query ...]   # write plans/headline/*_after.txt
    python scripts/dump_plans.py --sf-dir SF --check before [query ...]   # re-dump, diff vs *_before.txt

The corpus path is written as ``<sf>`` so dumps compare across
checkouts. Writing and checking are ``dump_store_plans.write_or_check``:
``--check`` applies that module's ``normalize`` (expression ids, uuids,
plan ids, lambda-variable numbers) to both sides and exits non-zero if
any plan differs. Importing that module also pins the session to
local[4] with 8 shuffle partitions, so the dumps do not depend on the
machine.
"""

from __future__ import annotations

import argparse
import os
import sys

from dump_store_plans import REPO, explain, write_or_check  # noqa: E402  (pins the session)

from mysql2clickhouse_spark.plans import all_queries_extended  # noqa: E402
from mysql2clickhouse_spark.session import get_spark  # noqa: E402

OUT_DIR = os.path.join(REPO, "plans", "headline")
ANN_FAMILY = ("ann_pq_topk", "ann_ivfpq_topk", "ann_knn_graph", "ann_knn_graph_lsh")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--suffix", help="write plans/headline/<query>_<suffix>.txt")
    mode.add_argument("--check", metavar="SUFFIX", help="diff against the committed <query>_<SUFFIX>.txt")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="corpus dir; default $SPARK_GRAFT_SF_DIR")
    ap.add_argument("queries", nargs="*", help="subset (default: HEADLINE + the ANN family)")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir (or SPARK_GRAFT_SF_DIR) is required")
    sf_dir = os.path.abspath(args.sf_dir)

    from bench import HEADLINE

    names = args.queries or [*HEADLINE, *ANN_FAMILY]
    spark = get_spark("m2c-plan-dump")
    queries = all_queries_extended()
    try:
        dumps = {n: explain(queries[n](spark, sf_dir)).replace(sf_dir, "<sf>") for n in names}
    finally:
        spark.stop()

    return write_or_check(dumps, OUT_DIR, args.suffix, args.check)


if __name__ == "__main__":
    sys.exit(main())
