#!/usr/bin/env python
"""Dump the plan fragments of the maintained stores (``MinHashIndex``,
``SimHashIndex``, ``SubstringIndex``, ``BM25Index``, ``IVFIndex``,
``ClusterIndex``) and check them against committed dumps.

For each store, with the store-size gate closed (the default: a
test-size store is read whole) and forced open
(``PROBE_PUSHDOWN_MIN_STORE_BYTES = 0``, the pruned at-scale plan),
fragments are captured from REAL entry-point calls, not from a
re-implementation of them, every time against a non-empty store that
holds tombstones:

- ``<banded>_<gate>_candidates`` — the frame ``_candidates`` returns
  inside an ``add_batch`` (banded = ``minhash`` / ``simhash``);
- ``<banded>_<gate>_verify`` — the frame ``_verified_pairs`` returns
  inside that same ``add_batch``;
- ``<banded>_<gate>_probe`` — the frame ``probe`` returns;
- ``substring_<gate>_stored_grams`` — the frame ``_stored_grams``
  returns inside an ``add_batch``;
- ``substring_<gate>_probe`` — the removal report ``probe`` returns;
- ``bm25_<gate>_search`` — the frame ``search`` returns;
- ``ivf_search`` / ``ivf_search_pq`` — the frames ``IVFIndex.search``
  and ``search_pq`` return (the IVF store has no size gate, so these
  are dumped once, after the gated stores);
- ``cluster_probe`` / ``cluster_assignments`` — the frames
  ``ClusterIndex.probe`` and ``assignments`` return on a store whose
  ``dead/`` set is non-empty (default gate, dumped last).

Each fragment is explained (``formatted``) at the moment it is built,
before anything executes it, so the text is the planned shape.

Usage (``SF`` is the sf0.01 test corpus the committed dumps were made
from; ``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``)::

    python scripts/dump_store_plans.py --sf-dir SF --suffix after   # write plans/stores/*_after.txt
    python scripts/dump_store_plans.py --sf-dir SF --check before   # re-dump, diff vs *_before.txt

``--check`` normalizes what legitimately differs between two runs of
one plan — expression ids (``#123``), uuids, plan ids, RDD ids,
lambda variable numbers, the scratch
path and the path-derived catalog-table hashes — and exits non-zero
if any fragment differs. The session is pinned to local[4] with 8
shuffle partitions so the dumps do not depend on the machine.
"""

from __future__ import annotations

import argparse
import difflib
import io
import os
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# plan text carries partition counts: pin them before the session exists
os.environ["SPARK_GRAFT_CPUS"] = "4"
os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "8"
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from pyspark.sql import functions as F  # noqa: E402

from mysql2clickhouse_spark.operators import store_common  # noqa: E402
from mysql2clickhouse_spark.operators.ann_index import IVFIndex  # noqa: E402
from mysql2clickhouse_spark.operators.bm25_index import BM25Index  # noqa: E402
from mysql2clickhouse_spark.operators.cluster_index import ClusterIndex  # noqa: E402
from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex  # noqa: E402
from mysql2clickhouse_spark.operators.simhash_index import SimHashIndex  # noqa: E402
from mysql2clickhouse_spark.operators.substring_index import SubstringIndex  # noqa: E402
from mysql2clickhouse_spark.plans.extensions import EMB_DIM, N_QUERIES, _docs_with_mutants, _emb  # noqa: E402
from mysql2clickhouse_spark.plans.quality import BM25_QUERY, BM25_TOPK  # noqa: E402
from mysql2clickhouse_spark.session import get_spark  # noqa: E402

OUT_DIR = os.path.join(REPO, "plans", "stores")
WORK = os.path.join(tempfile.gettempdir(), "m2c_store_plans")
STORES = (("minhash", MinHashIndex), ("simhash", SimHashIndex))
#: gate name -> PROBE_PUSHDOWN_MIN_STORE_BYTES while dumping
GATES = (("gated", store_common.PROBE_PUSHDOWN_MIN_STORE_BYTES), ("forced", 0))

_NORMALIZE = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"\b[0-9a-f]{32}\b"), "<uuid>"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # RDD ids count every RDD the process has made so far
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # lambda variables are numbered per process (x_41, acc_7, ...)
    (re.compile(r"\b(x|y|acc)_\d+\b"), r"\1_N"),
    (re.compile(r"(m2c_[a-z0-9]+_)[0-9a-f]{12}"), r"\1<h>"),
)


def explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def normalize(text: str) -> str:
    text = text.replace(WORK, "<work>")
    for pat, repl in _NORMALIZE:
        text = pat.sub(repl, text)
    return text


def capture(idx, name: str, into: dict) -> None:
    """Shadow ``idx.<name>`` so its first result is explained as built."""
    orig = getattr(idx, name)

    def spy(*args, **kwargs):
        out = orig(*args, **kwargs)
        into.setdefault(name, explain(out))
        return out

    setattr(idx, name, spy)


def dump_all(spark, sf_dir: str) -> dict[str, str]:
    corpus = (
        _docs_with_mutants(spark, sf_dir)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(2000)
        .localCheckpoint(eager=True)
    )
    base = corpus.filter(F.col("doc_id") % 4 != 0)
    batch = corpus.filter(F.col("doc_id") % 4 == 0)
    probe = corpus.filter(F.col("doc_id") % 40 == 3).select((F.col("doc_id") + 77_000_000).alias("doc_id"), "text")
    doomed = base.filter(F.col("doc_id") % 7 == 1).select("doc_id")
    dumps: dict[str, str] = {}
    default_gate = store_common.PROBE_PUSHDOWN_MIN_STORE_BYTES
    try:
        for gate, min_bytes in GATES:
            store_common.PROBE_PUSHDOWN_MIN_STORE_BYTES = min_bytes
            for store, cls in STORES:
                idx = cls(spark, os.path.join(WORK, f"{store}_{gate}"))
                idx.add_batch(base)
                idx.remove_batch(doomed)
                got: dict[str, str] = {}
                capture(idx, "_candidates", got)
                capture(idx, "_verified_pairs", got)
                idx.add_batch(batch)
                dumps[f"{store}_{gate}_candidates"] = got["_candidates"]
                dumps[f"{store}_{gate}_verify"] = got["_verified_pairs"]
                dumps[f"{store}_{gate}_probe"] = explain(idx.probe(probe))
        # the banded fragments name RDD ids (a process-wide counter):
        # running them first keeps the numbers of their committed dumps,
        # made before the substring and BM25 stores joined this script
        for gate, min_bytes in GATES:
            store_common.PROBE_PUSHDOWN_MIN_STORE_BYTES = min_bytes
            ss = SubstringIndex(spark, os.path.join(WORK, f"substring_{gate}"))
            ss.add_batch(base)
            ss.remove_batch(doomed)
            got = {}
            capture(ss, "_stored_grams", got)
            ss.add_batch(batch)
            dumps[f"substring_{gate}_stored_grams"] = got["_stored_grams"]
            dumps[f"substring_{gate}_probe"] = explain(ss.probe(probe))

            bm = BM25Index(spark, os.path.join(WORK, f"bm25_{gate}"))
            bm.add_batch(base)
            bm.remove_batch(doomed)
            bm.add_batch(batch)
            dumps[f"bm25_{gate}_search"] = explain(bm.search(BM25_QUERY, BM25_TOPK))
    finally:
        store_common.PROBE_PUSHDOWN_MIN_STORE_BYTES = default_gate
    # after every gated store, for the same RDD-id reason
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    vecs = emb.filter(F.col("vec_id") >= N_QUERIES)
    ivf = IVFIndex(spark, os.path.join(WORK, "ivf"), dim=EMB_DIM, n_list=8, pq_m=8)
    ivf.build(vecs.filter(F.col("vec_id") % 4 != 0))
    ivf.remove_batch(vecs.filter(F.col("vec_id") % 7 == 1).select("vec_id"))
    ivf.add_batch(vecs.filter(F.col("vec_id") % 4 == 0))
    dumps["ivf_search"] = explain(ivf.search(queries, k=10, nprobe=4))
    dumps["ivf_search_pq"] = explain(ivf.search_pq(queries, k=10, nprobe=4))
    # pairs (1000+2k, 1001+2k) make 50 components; linking each to k < 50
    # merges them away, so dead/ holds their 50 old labels
    cc = ClusterIndex(spark, os.path.join(WORK, "cluster"), n_buckets=8)
    pair = "id_a bigint, id_b bigint"
    cc.add_pairs(spark.createDataFrame([(1000 + 2 * k, 1001 + 2 * k) for k in range(50)], pair))
    cc.add_pairs(spark.createDataFrame([(k, 1001 + 2 * k) for k in range(50)], pair))
    nodes = spark.createDataFrame([(n,) for n in (3, 1006, 1007, 5000)], "doc_id bigint")
    dumps["cluster_probe"] = explain(cc.probe(nodes))
    dumps["cluster_assignments"] = explain(cc.assignments())
    return dumps


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--suffix", help="write plans/stores/<fragment>_<suffix>.txt")
    mode.add_argument("--check", metavar="SUFFIX", help="diff against the committed <fragment>_<SUFFIX>.txt")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="test corpus dir (documents table); default $SPARK_GRAFT_SF_DIR")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir (or SPARK_GRAFT_SF_DIR) is required")

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.environ.setdefault("SPARK_GRAFT_WAREHOUSE", os.path.join(WORK, "warehouse"))
    spark = get_spark("m2c-store-plan-dump")
    try:
        dumps = dump_all(spark, args.sf_dir)
    finally:
        spark.stop()
        shutil.rmtree(WORK, ignore_errors=True)

    return write_or_check(dumps, OUT_DIR, args.suffix, args.check)


def write_or_check(
    dumps: dict[str, str], out_dir: str, suffix: str | None, check: str | None
) -> int:
    """Write ``<name>_<suffix>.txt`` per dump, or diff each normalized
    dump against the committed ``<name>_<check>.txt``; returns the exit
    code (non-zero if any differs)."""
    if suffix:
        os.makedirs(out_dir, exist_ok=True)
        for name, text in sorted(dumps.items()):
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(text)
            print(f"wrote {os.path.relpath(path, REPO)}")
        return 0

    failed = 0
    for name, text in sorted(dumps.items()):
        path = os.path.join(out_dir, f"{name}_{check}.txt")
        with open(path) as f:
            want = normalize(f.read()).splitlines(keepends=True)
        got = normalize(text).splitlines(keepends=True)
        if want == got:
            print(f"identical  {name}")
            continue
        failed += 1
        print(f"DIFFERS    {name}")
        sys.stdout.writelines(difflib.unified_diff(want, got, path, "<current>", n=2))
    print(f"{len(dumps) - failed}/{len(dumps)} identical")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
