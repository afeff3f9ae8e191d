"""Seeded input generators. Everything the program under test reads is
written here as files; the same seed gives byte-identical files with
identical mtimes, so micro-batch composition never depends on timing."""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

# Fixed mtime base: batch composition under maxFilesPerTrigger follows
# mtime order, so every landed file gets base + its landing index.
MTIME_BASE = 1_700_000_000


def land(path: str, index: int) -> int:
    """Stamp a landed file with its deterministic mtime; returns its size."""
    t = MTIME_BASE + 60 * index
    os.utime(path, (t, t))
    return os.path.getsize(path)


# -- small_file_stream -------------------------------------------------------

SMALL_HEADER = ["Id", "CustomerName", "EventDate", "Amount", "Quantity", "Category"]
SMALL_TYPES = ["int", "string", "date", "decimal(10,2)", "int", "string"]
SMALL_PII = "CustomerName"
CATEGORIES = ["retail", "online", "wholesale", "returns", "promo"]


@dataclass
class SmallFiles:
    good_rows: dict[str, int] = field(default_factory=dict)   # path -> rows
    corrupt_rows: dict[str, int] = field(default_factory=dict)  # path -> bad rows
    total_rows: dict[str, int] = field(default_factory=dict)
    bytes: int = 0


def small_files(rng: random.Random, out_dir: str, first_index: int, n_files: int,
                rows_per_file: int, corrupt_files: set[int]) -> SmallFiles:
    """``n_files`` CSVs of ``rows_per_file`` rows; file ``i`` in
    ``corrupt_files`` also carries three rows whose Id does not parse."""
    os.makedirs(out_dir, exist_ok=True)
    res = SmallFiles()
    for k in range(n_files):
        i = first_index + k
        p = os.path.join(out_dir, f"events_{i:05d}.csv")
        lines = [",".join(SMALL_HEADER)]
        for j in range(rows_per_file):
            d = date(2024, 1, 1) + timedelta(days=rng.randrange(365))
            lines.append(
                f"{i * 10_000 + j},cust_{rng.randrange(100_000):06d},{d.isoformat()},"
                f"{rng.randrange(1, 10_000_000) / 100:.2f},{rng.randrange(1, 50)},"
                f"{rng.choice(CATEGORIES)}"
            )
        n_bad = 0
        if i in corrupt_files:
            for b in range(3):
                pos = rng.randrange(1, len(lines) + 1)
                lines.insert(pos, f"bad-id-{b},cust_x,not-a-date,zz,q,retail")
                n_bad += 1
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        res.bytes += land(p, i)
        res.total_rows[p] = rows_per_file + n_bad
        if n_bad:
            res.corrupt_rows[p] = n_bad
        else:
            res.good_rows[p] = rows_per_file
    return res


def events_corrections(rng: random.Random, path: str, ids: list[int], n_updates: int,
                       n_inserts: int, next_id: int) -> tuple[int, int]:
    """One MERGE source of late corrections: ``n_updates`` landed ids with
    new values plus ``n_inserts`` new ids, as parquet typed like the
    target table. Returns (next free id, bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from decimal import Decimal

    keys = rng.sample(ids, n_updates) + list(range(next_id, next_id + n_inserts))
    ids.extend(keys[n_updates:])
    cols = {
        "Id": pa.array(keys, pa.int32()),
        "CustomerName": pa.array([f"cust_{rng.randrange(100_000):06d}" for _ in keys]),
        "EventDate": pa.array([date(2024, 1, 1) + timedelta(days=rng.randrange(365))
                               for _ in keys], pa.date32()),
        "Amount": pa.array([Decimal(rng.randrange(1, 10_000_000)) / 100 for _ in keys],
                           pa.decimal128(10, 2)),
        "Quantity": pa.array([rng.randrange(1, 50) for _ in keys], pa.int32()),
        "Category": pa.array([rng.choice(CATEGORIES) for _ in keys]),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)
    return next_id + n_inserts, os.path.getsize(path)


# -- corpus_near_dup_stream --------------------------------------------------

@dataclass
class Corpus:
    docs: list[tuple[int, str]] = field(default_factory=list)
    bytes: int = 0


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randrange(3, 9))) for _ in range(n)]


def corpus_batches(rng: random.Random, out_dir: str, sizes: list[int],
                   cross_rate: float = 0.08, within_rate: float = 0.05,
                   corpus: Corpus | None = None, first_index: int = 0) -> Corpus:
    """Parquet files of (doc_id, text); ids increase with landing order.

    Planted near-duplicates copy an earlier document (an earlier batch
    for ``cross_rate``, earlier in the same batch for ``within_rate``)
    and replace one interior token, giving word-3-gram Jaccard ~0.9:
    far above the 0.5 threshold, so LSH banding (16 bands x 4 rows)
    misses such a pair with probability ~1e-7 and the exact oracle and
    the program must agree. Unrelated documents share no 3-grams."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    c = corpus or Corpus()
    vocab = _vocab(rng, 20_000)
    for b, size in enumerate(sizes):
        batch_start = len(c.docs)
        ids, texts = [], []
        for _ in range(size):
            doc_id = len(c.docs) + 1
            r = rng.random()
            pool = None
            if r < cross_rate and batch_start:
                pool = (0, batch_start)
            elif r < cross_rate + within_rate and len(c.docs) > batch_start:
                pool = (batch_start, len(c.docs))
            if pool:
                toks = c.docs[rng.randrange(*pool)][1].split()
                toks[rng.randrange(3, len(toks) - 3)] = rng.choice(vocab)
            else:
                toks = [rng.choice(vocab) for _ in range(rng.randrange(40, 80))]
            text = " ".join(toks)
            c.docs.append((doc_id, text))
            ids.append(doc_id)
            texts.append(text)
        p = os.path.join(out_dir, f"docs_{first_index + b:05d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), p)
        c.bytes += land(p, first_index + b)
    return c
