"""The reference fold on a hand-computed ten-event changelog, and the CDC
check rejecting a damaged warehouse."""

import datetime as dt

import pyarrow as pa

import check
import gen

D0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)


def day(d: int) -> dt.datetime:
    return D0 + dt.timedelta(days=d)


#: (op, table, key, ts, value)
EVENTS = [
    ("I", "conversions", 1, day(0), 1.0),
    ("I", "conversions", 2, day(0), 2.0),
    ("I", "visits", 7, day(0), 7.0),
    ("U", "conversions", 1, day(1), 1.5),
    ("U", "visits", 7, day(1), 7.5),
    ("D", "visits", 7, day(2), 0.0),         # append table: not a version
    ("D", "conversions", 2, day(2), 0.0),    # recent delete: key 2 goes
    ("I", "events_state", None, day(2), 9.0),  # poison: null key
    ("D", "conversions", 1, day(-60), 0.0),  # late delete: rejected, key 1 stays
    ("I", "events_state", 3, day(3), 3.0),
]
ETYPE = {"I": "signup", "U": "click", "D": "error"}


def ten_events() -> pa.Table:
    cols = list(zip(*EVENTS))
    n = len(EVENTS)
    return pa.table(
        {
            "op": pa.array(cols[0], pa.string()),
            "schema_name": pa.array(["matomo"] * n, pa.string()),
            "table_name": pa.array(cols[1], pa.string()),
            "key": pa.array(cols[2], pa.int64()),
            "seq": pa.array(range(n), pa.int64()),
            "file_seq": pa.array([0] * n, pa.int64()),
            "ts": pa.array(cols[3], pa.timestamp("us", tz="UTC")),
            "value": pa.array(cols[4], pa.float64()),
            "event_type": pa.array([ETYPE[o] for o in cols[0]], pa.string()),
        },
        schema=gen.CHANGELOG_SCHEMA,
    )


def us(t: dt.datetime) -> int:
    return int(t.timestamp() * 1_000_000)


def rows(t: pa.Table, cols) -> list[tuple]:
    d = t.to_pydict()
    return sorted(zip(*(d[c] for c in cols)))


def test_fold_counts():
    ref = check.reference_fold(ten_events())
    assert ref["rejected_old_delete"] == 1
    assert ref["quarantined"] == 1
    assert ref["resume_seq"] == 9
    assert ref["consumed"] == 9


def test_fold_mutate_state_honours_deletes_and_the_old_delete_guard():
    ref = check.reference_fold(ten_events())
    assert rows(ref["mutate"]["conversions"], ["key", "ts", "value", "yyyymm"]) == [
        (1, us(day(1)), 1.5, 202403)
    ]
    assert rows(ref["mutate"]["events_state"], ["key", "ts", "value", "yyyymm"]) == [
        (3, us(day(3)), 3.0, 202403)
    ]


def test_fold_versions_are_inserts_and_updates_only():
    ref = check.reference_fold(ten_events())
    assert rows(ref["versions"]["visits"], ["key", "dateid", "value", "yyyymm"]) == [
        (7, 2, 7.0, "202403"),
        (7, 4, 7.5, "202403"),
    ]
    assert ref["versions"]["actions"].num_rows == 0


def _stored_from(ref) -> dict:
    return {**ref["mutate"], **ref["versions"]}


def _reports(ref, n=2):
    return [{"rows_quarantined": ref["quarantined"], "rows_rejected_old_delete": 0}] * (n - 1) + [
        {"rows_quarantined": ref["quarantined"], "rows_rejected_old_delete": ref["rejected_old_delete"]}
    ]


def test_check_cdc_accepts_the_reference_itself():
    ref = check.reference_fold(ten_events())
    assert check.check_cdc(ref, _stored_from(ref), 9, _reports(ref)) == []


def test_check_cdc_rejects_one_dropped_row():
    ref = check.reference_fold(ten_events())
    stored = _stored_from(ref)
    stored["visits"] = stored["visits"].slice(0, 1)
    problems = check.check_cdc(ref, stored, 9, _reports(ref))
    assert problems == ["visits: 1 version rows missing, 0 unexpected"]


def test_check_cdc_rejects_a_changed_state_row():
    ref = check.reference_fold(ten_events())
    stored = _stored_from(ref)
    conv = stored["conversions"]
    stored["conversions"] = conv.set_column(
        conv.schema.get_field_index("value"), "value", pa.array([99.0])
    )
    assert check.check_cdc(ref, stored, 9, _reports(ref)) == [
        "conversions: 1 state rows missing, 1 unexpected"
    ]


def test_check_cdc_rejects_wrong_counts_and_resume_point():
    ref = check.reference_fold(ten_events())
    reports = [{"rows_quarantined": 0, "rows_rejected_old_delete": 0}]
    problems = check.check_cdc(ref, _stored_from(ref), 8, reports)
    assert any("ledger resumes at 8" in p for p in problems)
    assert any("0 old deletes rejected" in p for p in problems)
    assert any("quarantined" in p for p in problems)
