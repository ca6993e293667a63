"""Seeded input generator for the benchmark.

Every table is a pure function of ``seed`` and the size arguments, so the
same seed gives byte-identical Parquet files. The shapes mirror the
properties the registry queries rely on in the sf0.1 testdata: events in
January 2024 over 30 days, five event types, 1,500 users, JSON ``props``;
documents in five languages from 20 sources with planted exact and near
duplicates.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: per-language stopwords sprinkled into text so ``language_id`` has
#: something to find; "zh" gets none and is predicted "und"
_STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "dans"),
    "es": ("el", "los", "es", "una", "por", "que"),
    "zh": (),
}
_LANG_P = {"en": 0.41, "es": 0.15, "zh": 0.15, "de": 0.14, "fr": 0.15}


@dataclass(frozen=True)
class Sizes:
    events: int = 100_000
    users: int = 1_500
    days: int = 30
    documents: int = 5_000
    sources: int = 20


TINY = Sizes(events=4_000, users=60, days=3, documents=300, sources=5)


def events(rng: np.random.Generator, sz: Sizes) -> pa.Table:
    """The ``events`` super table: ts-sorted, microsecond timestamps."""
    n = sz.events
    ts = np.sort(T0_US + rng.integers(0, sz.days * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us", tz=None)),
        "user_id": pa.array(rng.integers(0, sz.users, n, dtype=np.int64)),
        "event_type": pa.array(
            np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
        ),
    })


def documents(rng: np.random.Generator, sz: Sizes) -> pa.Table:
    """Documents with ~0.5% exact and ~3% near duplicates.

    A near duplicate copies a long original (>= 40 words) and replaces its
    last word, so its 3-shingle Jaccard to the original is about 0.96:
    far above the 0.5 threshold, where MinHash banding finds it with
    certainty. Duplicates are made only from originals, never from other
    duplicates.
    """
    n = sz.documents
    langs = list(_LANG_P)
    lang = rng.choice(langs, size=n, p=[_LANG_P[k] for k in langs])
    texts: list[str] = []
    for i in range(n):
        words = list(rng.choice(_VOCAB, size=int(rng.integers(10, 101))))
        stop = _STOPWORDS[lang[i]]
        if stop:
            for j in rng.choice(len(words), size=max(1, len(words) // 8),
                                replace=False):
                words[j] = stop[int(rng.integers(len(stop)))]
        texts.append(" ".join(words))
    n_exact, n_near = n // 200, (3 * n) // 100
    originals = [i for i in range(n) if len(texts[i].split()) >= 40]
    picks = rng.choice(originals, size=n_exact + n_near, replace=False)
    targets = rng.choice(np.setdiff1d(np.arange(n), picks),
                         size=n_exact + n_near, replace=False)
    for k, (src, dst) in enumerate(zip(picks, targets)):
        words = texts[src].split()
        if k >= n_exact:
            words[-1] = next(w for w in _VOCAB if w != words[-1])
        texts[dst], lang[dst] = " ".join(words), lang[src]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(list(lang)),
        "source": pa.array([f"src{i % sz.sources}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def write_tables(root: str, seed: int, sz: Sizes, names: tuple[str, ...]) -> dict:
    """Write the named tables as ``<root>/<name>.parquet``; returns rows
    per table. Each table draws from its own child stream of ``seed``, so
    adding a table to ``names`` does not change the others."""
    os.makedirs(root, exist_ok=True)
    makers = {"events": events, "documents": documents}
    rows = {}
    for i, name in enumerate(makers):
        if name not in names:
            continue
        rng = np.random.default_rng([seed, i])
        tbl = makers[name](rng, sz)
        pq.write_table(tbl, f"{root}/{name}.parquet")
        rows[name] = tbl.num_rows
    return rows


# ---------------------------------------------------------------------------
# ingest: InfluxDB line-protocol batches
# ---------------------------------------------------------------------------


class LineBatches:
    """Seeded stream of line-protocol batches for ``ingest``.

    Batch ``i`` holds one row per series at ``T0 + i * step`` (plus a
    per-series jitter), about 1% overwrites of an earlier (tbname, ts) of
    the same series with a new value, and about 1% out-of-order rows at a
    fresh timestamp inside the previous batch's span. No batch holds a
    key twice, and no overwrite or late row is the newest row of its
    series, so keep-last and last-row results are unique.
    """

    DUP_SHARE = LATE_SHARE = 0.01

    def __init__(self, seed: int, series: int, step_us: int):
        self.rng = np.random.default_rng([seed, 7])
        self.series, self.step_us = series, step_us
        self.jitter = self.rng.integers(0, step_us // 4, series)
        self.i = 0

    def next(self) -> tuple[list[str], dict]:
        """Lines of the next batch, and its rows as numpy columns."""
        rng, n, i = self.rng, self.series, self.i
        sid = np.arange(n)
        ts = T0_US + i * self.step_us + self.jitter
        if i > 1:
            k = max(1, int(n * self.DUP_SHARE))
            dup_sid = rng.choice(n, k, replace=False)
            back = rng.integers(1, min(i, 5), k)
            dup_ts = T0_US + (i - back) * self.step_us + self.jitter[dup_sid]
            late_sid = rng.choice(np.setdiff1d(sid, dup_sid),
                                  max(1, int(n * self.LATE_SHARE)), replace=False)
            late_ts = (T0_US + (i - 1) * self.step_us + self.jitter[late_sid]
                       + self.step_us // 2)
            sid = np.concatenate([sid, dup_sid, late_sid])
            ts = np.concatenate([ts, dup_ts, late_ts])
        value = np.round(rng.normal(20.0, 5.0, len(sid)), 3)
        region = sid % 4
        lines = [
            f"cpu,host=h{s},region=r{r} usage={v} {t * 1000}"
            for s, r, v, t in zip(sid.tolist(), region.tolist(),
                                  value.tolist(), ts.tolist())
        ]
        self.i += 1
        return lines, {"tbname": sid, "ts": ts, "value": value}
