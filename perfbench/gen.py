"""Seeded input generators for the two workloads.

Everything here is plain numpy/pyarrow: the engine never sees the seed,
only the files these functions write. Each generator returns its data
plus a ``planted`` dict (the properties the correctness checks and the
run report refer to), and the same seed always yields byte-identical
data.

The traffic shape is partly given and partly assumed; NOTES.md lists
which number comes from where.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- CDC changelog (the F1 contract) --------------------------------------

#: append-path tables (policy insert_as_update) and mutate tables
APPEND_TABLES = ("visits", "actions")
MUTATE_TABLES = ("conversions", "events_state")
#: share of events that go to the mutate tables (the rest: append tables)
MUTATE_SHARE = 0.2
#: the backlog's span: short enough that a micro-batch of a third of it
#: stays inside the 31-day old-delete horizon (see cdc.py)
MONTHS = 2
#: assumed key skew: a bounded Zipf(ZIPF_S) over KEYS_PER_TABLE keys
KEYS_PER_TABLE = 3_000
ZIPF_S = 1.1
#: assumed shares of late updates and late deletes among mutate events,
#: and of poison rows among all events
LATE_UPDATE_SHARE = 0.03
LATE_DELETE_SHARE = 0.01
POISON_SHARE = 0.002
CHANGELOG_START = dt.datetime(2024, 1, 1)
CHANGELOG_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("schema_name", pa.string()),
        ("table_name", pa.string()),
        ("key", pa.int64()),
        ("seq", pa.int64()),
        ("file_seq", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
        ("event_type", pa.string()),
    ]
)
_EVENT_TYPES = {"I": ("signup", "view"), "U": ("click", "purchase"), "D": ("error",)}


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws from a bounded Zipf(s) over ``n_keys`` keys, the rank
    order scattered over the key space so hot keys are not all small."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=n, p=p / p.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def changelog(seed: int, n_events: int, events_per_file: int = 1_000) -> tuple[pa.Table, dict]:
    """A changelog backlog spanning ``MONTHS`` months, ``seq``-ordered.

    - ``MUTATE_SHARE`` of events go to the mutate tables, the rest to
      the append tables; keys are Zipf-skewed per table.
    - Late updates (mutate tables only) carry an event time 35-90 days
      before their position's time, so the fold re-writes an old month.
    - Late deletes (mutate tables only) carry an event time 45-100 days
      back: past the 31-day old-delete horizon of every batch they can
      land in, so each one is rejected. Each reuses a key seen earlier
      in its table, when there is one, so it would have hit live state.
    - Poison rows (a null key or an unknown op) sit at valid positions.
    """
    rng = np.random.default_rng([seed, 1])
    n = n_events
    seq = np.arange(n, dtype=np.int64)
    span_us = MONTHS * 30 * 86_400 * 1_000_000
    start_us = int(CHANGELOG_START.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = start_us + (seq * span_us) // n + rng.integers(0, 1_000_000, n)

    is_mut = rng.random(n) < MUTATE_SHARE
    tbl_idx = rng.integers(0, 2, n)
    table = np.where(
        is_mut,
        np.array(MUTATE_TABLES, dtype=object)[tbl_idx],
        np.array(APPEND_TABLES, dtype=object)[tbl_idx],
    )
    key = _zipf_keys(rng, n, KEYS_PER_TABLE, ZIPF_S)
    u = rng.random(n)
    op = np.where(u < 0.3, "I", np.where(u < 0.85, "U", "D")).astype(object)

    late = rng.random(n)
    late_upd = is_mut & (late < LATE_UPDATE_SHARE)
    late_del = is_mut & (late >= LATE_UPDATE_SHARE) & (late < LATE_UPDATE_SHARE + LATE_DELETE_SHARE)
    day_us = 86_400 * 1_000_000
    ts = np.where(late_upd, ts - rng.integers(35, 91, n) * day_us, ts)
    op = np.where(late_upd, "U", op)
    ts = np.where(late_del, ts - rng.integers(45, 101, n) * day_us, ts)
    op = np.where(late_del, "D", op)
    seen: dict[str, list[int]] = {t: [] for t in MUTATE_TABLES}
    for i in range(n):
        if is_mut[i]:
            if late_del[i] and seen[table[i]]:
                key[i] = seen[table[i]][rng.integers(0, len(seen[table[i]]))]
            seen[table[i]].append(int(key[i]))
    # poison: null key or an op outside I/U/D, never on a planted row
    poison = (rng.random(n) < POISON_SHARE) & ~late_del & ~late_upd
    bad_op = poison & (rng.random(n) < 0.5)
    op = np.where(bad_op, "X", op)
    key_null = poison & ~bad_op

    ev_choice = rng.integers(0, 2, n)
    event_type = np.array(
        [
            _EVENT_TYPES.get(o, ("unknown",))[c % len(_EVENT_TYPES.get(o, ("unknown",)))]
            for o, c in zip(op, ev_choice)
        ],
        dtype=object,
    )
    schema_name = np.where(rng.random(n) < 0.2, "matomo_archive", "matomo").astype(object)
    value = np.round(rng.exponential(50.0, n), 2)

    tbl = pa.table(
        {
            "op": pa.array(op.tolist(), pa.string()),
            "schema_name": pa.array(schema_name.tolist(), pa.string()),
            "table_name": pa.array(table.tolist(), pa.string()),
            "key": pa.array(key, pa.int64(), mask=key_null),
            "seq": pa.array(seq, pa.int64()),
            "file_seq": pa.array(seq // events_per_file, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "value": pa.array(value, pa.float64()),
            "event_type": pa.array(event_type.tolist(), pa.string()),
        },
        schema=CHANGELOG_SCHEMA,
    )
    planted = {
        "events": n,
        "files": int(seq[-1] // events_per_file) + 1,
        "months": MONTHS,
        "append_events": int((~is_mut & ~poison).sum()),
        "mutate_events": int((is_mut & ~poison).sum()),
        "late_updates": int(late_upd.sum()),
        "late_deletes": int(late_del.sum()),
        "poison_rows": int(poison.sum()),
        "zipf_s": ZIPF_S,
        "keys_per_table": KEYS_PER_TABLE,
    }
    return tbl, planted


def write_changelog(tbl: pa.Table, path: str) -> None:
    """One parquet file per changelog file (``file_seq``), like a binlog
    directory."""
    os.makedirs(path, exist_ok=True)
    fseq = tbl.column("file_seq").to_numpy()
    for f in np.unique(fseq):
        lo, hi = np.searchsorted(fseq, [f, f + 1])
        pq.write_table(tbl.slice(lo, hi - lo), os.path.join(path, f"part-{f:05d}.parquet"))


# --- documents for the near-dup store ---------------------------------------

#: assumed store traffic: per batch, the share of near-duplicate mutants
#: and of exact copies under a new id
MUTANT_SHARE = 0.08
EXACT_DUP_SHARE = 0.02
_SYLLABLES = [a + b for a in "bcdfghklmnprstvz" for b in ("a", "e", "i", "o", "u", "ai", "ou")]


def _vocabulary(rng: np.random.Generator, n_words: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 4))
        words.add("".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k)))
    return sorted(words)


def shingles(text: str, k: int = 5) -> set[str]:
    """Lower-cased character k-shingles; a text shorter than ``k`` is its
    own single shingle (the engine's ``with_hset`` rule)."""
    t = text.lower()
    if not t:
        return set()
    return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}


def jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def _mutant(rng: np.random.Generator, words: list[str], vocab: list[str]) -> list[str]:
    """Replace about 3% of a document's words: a near-duplicate whose
    exact 5-shingle Jaccard sits well above 0.7 (checked by caller)."""
    out = list(words)
    n_sub = max(1, len(out) // 33)
    for i in rng.choice(len(out), size=n_sub, replace=False):
        out[i] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def documents(seed: int, n_base: int, n_batches: int, batch_docs: int) -> tuple[dict, dict]:
    """A base corpus of ``n_base`` docs plus ``n_batches`` ingest batches
    of ``batch_docs`` fresh ids each.

    In every batch, ``MUTANT_SHARE`` of the docs are near-duplicate
    mutants (about 3% of words replaced: exact 5-shingle Jaccard around
    0.85-0.95) of a doc ingested earlier (base or an earlier batch) or of
    a doc in the same batch, and ``EXACT_DUP_SHARE`` are exact copies
    under a new id. Every other doc is independent text over a 4000-word
    vocabulary. Returns ``({"base": (ids, texts), "batches": [(ids,
    texts), ...], "texts": {id: text}}, planted)`` where
    ``planted["pairs"]`` lists each planted pair ``(id_a, id_b,
    exact_jaccard)`` with id_a < id_b.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, 4000)
    texts: dict[int, str] = {}
    pairs: list[tuple[int, int, float]] = []
    next_id = 1

    def fresh_words() -> list[str]:
        return [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(25, 60)))]

    all_ids: list[int] = []

    def make(n: int, can_plant: bool) -> tuple[list[int], list[str]]:
        nonlocal next_id
        ids: list[int] = []
        for _ in range(n):
            did, next_id = next_id, next_id + 1
            r = rng.random()
            pool = ids if (rng.random() < 0.3 and ids) else all_ids
            if can_plant and pool and r < MUTANT_SHARE + EXACT_DUP_SHARE:
                src = int(pool[int(rng.integers(0, len(pool)))])
                if r < MUTANT_SHARE:
                    txt = " ".join(_mutant(rng, texts[src].split(), vocab))
                else:
                    txt = texts[src]
                pairs.append((min(src, did), max(src, did), jaccard(texts[src], txt)))
            else:
                txt = " ".join(fresh_words())
            texts[did] = txt
            ids.append(did)
        all_ids.extend(ids)
        return ids, [texts[i] for i in ids]

    base = make(n_base, can_plant=False)
    batches = [make(batch_docs, can_plant=True) for _ in range(n_batches)]
    planted = {
        "base_docs": n_base,
        "batch_docs": batch_docs,
        "batches": n_batches,
        "planted_pairs": len(pairs),
        "min_planted_jaccard": round(min((p[2] for p in pairs), default=1.0), 4),
        "pairs": pairs,
    }
    return {"base": base, "batches": batches, "texts": texts}, planted


def replays(seed: int, corpus: dict, n: int, batch_no: int) -> tuple[list[int], list[str], list[int]]:
    """``n`` replayed rows for ingest batch ``batch_no``: ids of stored
    base docs, each carrying the text of another base doc (base docs are
    independent text, so the two ids' own texts are far apart). Returns
    ``(ids, texts, source_ids)``."""
    rng = np.random.default_rng([seed, 4, batch_no])
    base_ids = corpus["base"][0]
    picks = [base_ids[int(i)] for i in rng.choice(len(base_ids), size=2 * n, replace=False)]
    ids, sources = picks[:n], picks[n:]
    return ids, [corpus["texts"][s] for s in sources], sources


def probe_docs(seed: int, corpus: dict, n: int, id_offset: int) -> tuple[list[int], list[str]]:
    """A fixed probe batch: near-duplicate mutants of stored base docs
    under ids outside the corpus id range."""
    rng = np.random.default_rng([seed, 3])
    vocab = sorted({w for t in corpus["base"][1][:200] for w in t.split()})
    base_ids = corpus["base"][0]
    ids, texts = [], []
    for j, i in enumerate(rng.choice(len(base_ids), size=n, replace=False)):
        src = corpus["texts"][base_ids[int(i)]]
        ids.append(id_offset + j)
        texts.append(" ".join(_mutant(rng, src.split(), vocab)))
    return ids, texts
