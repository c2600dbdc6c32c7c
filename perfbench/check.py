"""Independent correctness checks: a DuckDB fold of the generated
changelog and exact-Jaccard recomputation of near-dup pairs.

Every check returns a list of human-readable problems (empty = pass) and
takes plain Python / pyarrow data, so tests can hand it a damaged output.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from gen import APPEND_TABLES, MUTATE_TABLES, jaccard

OLD_DELETE_DAYS = 31
_DAY_US = 86_400 * 1_000_000


# --- CDC --------------------------------------------------------------------

def _cl_for_duckdb(changelog: pa.Table) -> pa.Table:
    """Timestamps as epoch microseconds (no session time zone involved)."""
    i = changelog.schema.get_field_index("ts")
    return changelog.set_column(i, "ts", changelog.column("ts").cast(pa.int64()))


_FOLD_SQL = f"""
CREATE TEMP VIEW ok AS
SELECT * FROM cl
WHERE seq IS NOT NULL AND key IS NOT NULL AND table_name IS NOT NULL
  AND op IN ('I', 'U', 'D');
CREATE TEMP VIEW marked AS
SELECT *,
  op = 'D' AND table_name IN {tuple(MUTATE_TABLES)}
  AND (max(ts) OVER (ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       // {_DAY_US}) - (ts // {_DAY_US}) > {OLD_DELETE_DAYS} AS old_delete
FROM ok;
CREATE TEMP VIEW mutate_state AS
SELECT table_name, key, schema_name, ts, value, event_type,
       CAST(strftime(make_timestamp(ts), '%Y%m') AS INTEGER) AS yyyymm
FROM (
  SELECT *, row_number() OVER (PARTITION BY table_name, key ORDER BY seq DESC) AS rn
  FROM marked WHERE table_name IN {tuple(MUTATE_TABLES)} AND NOT old_delete
) WHERE rn = 1 AND op <> 'D';
CREATE TEMP VIEW versions AS
SELECT table_name, key, seq AS dateid, schema_name, ts, value, event_type,
       strftime(make_timestamp(ts), '%Y%m') AS yyyymm
FROM ok WHERE table_name IN {tuple(APPEND_TABLES)} AND op IN ('I', 'U');
"""


def reference_fold(changelog: pa.Table) -> dict:
    """What a full catch-up must leave behind, computed without Spark.

    - mutate tables: the latest event per key, a DELETE removing the
      key, except DELETEs more than 31 days older than the newest event
      before them (the old-delete guard) — those are rejected;
    - append tables: one version row per INSERT/UPDATE, ``dateid = seq``;
    - poison rows (null key, unknown op) are quarantined, never applied;
    - the ledger resumes at the last valid ``seq``.
    """
    con = duckdb.connect()
    con.register("cl", _cl_for_duckdb(changelog))
    con.execute(_FOLD_SQL)
    out = {
        "mutate": {
            t: con.sql(
                f"SELECT key, schema_name, ts, value, event_type, yyyymm "
                f"FROM mutate_state WHERE table_name = '{t}'"
            ).arrow()
            for t in MUTATE_TABLES
        },
        "versions": {
            t: con.sql(
                f"SELECT key, dateid, schema_name, ts, value, event_type, yyyymm "
                f"FROM versions WHERE table_name = '{t}'"
            ).arrow()
            for t in APPEND_TABLES
        },
        "rejected_old_delete": con.sql("SELECT count(*) FROM marked WHERE old_delete").fetchone()[0],
        "quarantined": changelog.num_rows - con.sql("SELECT count(*) FROM ok").fetchone()[0],
        "resume_seq": con.sql("SELECT max(seq) FROM ok").fetchone()[0],
        "consumed": con.sql("SELECT count(*) FROM ok").fetchone()[0],
    }
    con.close()
    return out


def _multiset_diff(expected: pa.Table, got: pa.Table, cols: list[str]) -> tuple[int, int]:
    """(rows missing from ``got``, rows ``got`` has extra), as multisets."""
    con = duckdb.connect()
    con.register("e", expected.select(cols))
    con.register("g", got.select(cols))
    sel = ", ".join(cols)
    missing = con.sql(f"SELECT count(*) FROM (SELECT {sel} FROM e EXCEPT ALL SELECT {sel} FROM g)").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (SELECT {sel} FROM g EXCEPT ALL SELECT {sel} FROM e)").fetchone()[0]
    con.close()
    return missing, extra


def read_table_dir(path: str) -> pa.Table:
    """A replicated table as written by the runner (hive ``yyyymm=``
    partition dirs), timestamps as epoch microseconds."""
    con = duckdb.connect()
    t = con.sql(
        f"SELECT * REPLACE (epoch_us(ts) AS ts) FROM read_parquet('{path}/**/*.parquet', "
        "hive_partitioning = true, union_by_name = true)"
    ).arrow()
    con.close()
    return t


def read_ledger_resume(path: str) -> int | None:
    con = duckdb.connect()
    row = con.sql(
        f"SELECT log_pos_end FROM read_parquet('{path}/*.parquet') ORDER BY dateid DESC LIMIT 1"
    ).fetchone()
    con.close()
    return None if row is None else row[0]


def check_cdc(ref: dict, stored: dict[str, pa.Table], resume_seq, reports: list[dict]) -> list[str]:
    """Compare a caught-up warehouse against ``reference_fold``.
    ``reports`` are the run reports of one catch-up (dicts with
    ``rows_quarantined`` and ``rows_rejected_old_delete``)."""
    problems = []
    for t, exp in ref["mutate"].items():
        got = stored.get(t)
        if got is None:
            problems.append(f"{t}: table missing")
            continue
        got = got.set_column(
            got.schema.get_field_index("yyyymm"), "yyyymm", got.column("yyyymm").cast(pa.int32())
        )
        exp = exp.set_column(exp.schema.get_field_index("yyyymm"), "yyyymm", exp.column("yyyymm").cast(pa.int32()))
        missing, extra = _multiset_diff(exp, got, exp.column_names)
        if missing or extra:
            problems.append(f"{t}: {missing} state rows missing, {extra} unexpected")
    for t, exp in ref["versions"].items():
        got = stored.get(t)
        if got is None:
            problems.append(f"{t}: table missing")
            continue
        got = got.set_column(
            got.schema.get_field_index("yyyymm"), "yyyymm", got.column("yyyymm").cast(pa.string())
        )
        missing, extra = _multiset_diff(exp, got, exp.column_names)
        if missing or extra:
            problems.append(f"{t}: {missing} version rows missing, {extra} unexpected")
    if resume_seq != ref["resume_seq"]:
        problems.append(f"ledger resumes at {resume_seq}, expected {ref['resume_seq']}")
    rejected = sum(r["rows_rejected_old_delete"] for r in reports)
    if rejected != ref["rejected_old_delete"]:
        problems.append(f"{rejected} old deletes rejected, expected {ref['rejected_old_delete']}")
    bad_q = [r["rows_quarantined"] for r in reports if r["rows_quarantined"] != ref["quarantined"]]
    if bad_q:
        problems.append(f"runs quarantined {bad_q}, expected {ref['quarantined']} each")
    return problems


# --- near-dup pairs ---------------------------------------------------------

def check_pairs_jaccard(pairs, texts: dict[int, str], threshold: float) -> list[str]:
    """Every emitted pair's exact 5-shingle Jaccard, recomputed from the
    generated text, must reach the threshold."""
    problems = []
    for a, b in pairs:
        if a not in texts or b not in texts:
            problems.append(f"pair ({a}, {b}) names an unknown doc")
        elif jaccard(texts[a], texts[b]) < threshold:
            problems.append(f"pair ({a}, {b}) has exact Jaccard {jaccard(texts[a], texts[b]):.3f} < {threshold}")
        if len(problems) >= 5:
            break
    return problems


def recall(found, planted) -> float:
    planted = {tuple(p) for p in planted}
    if not planted:
        return 1.0
    return len(planted & {tuple(p) for p in found}) / len(planted)
