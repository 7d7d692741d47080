"""Seeded input generators.

Every table the benchmark reads is written here, from ``--seed`` alone,
as plain parquet inside the run's work directory: the same seed gives
byte-identical rows.  The shapes follow the repository's synthetic
testdata (an ``events`` log, TPC-H-style ``orders``/``lineitem`` and a
``documents`` corpus); sizes come from a :class:`Scale`.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]
# includes Gopher stop words, so part of the corpus passes curation
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window region cell store flush compact tombstone "
    "version snapshot family qualifier split of and to with that"
).split()

# 2024-01-01T00:00:00Z in epoch milliseconds
T0_MS = 1_704_067_200_000
DAY_MS = 86_400_000


@dataclasses.dataclass(frozen=True)
class Scale:
    """Input sizes.  ``DEFAULT`` is what the benchmark measures;
    ``TINY`` is the self-test's."""

    events: int
    users: int
    orders: int
    lineitem: int
    documents: int
    pe_rows: int
    pe_value_size: int
    write_batch: int
    stream_segments: int
    stream_events: int
    stream_docs: int


# The read inputs sit on the per-job fixed-cost floor (scan and get
# times do not grow with 4x the rows).  The PE table is 16x larger than
# that: at 4k rows a flush is all floor, at 64k rows (12.8 MB of values)
# its data share shows (perfbench/results/SUMMARY.md, "Input sizes").
DEFAULT = Scale(
    events=20_000, users=200, orders=10_000, lineitem=40_000,
    documents=150, pe_rows=64_000, pe_value_size=200, write_batch=6_400,
    stream_segments=2, stream_events=2_000, stream_docs=48,
)
TINY = Scale(
    events=1_000, users=20, orders=1_000, lineitem=3_000,
    documents=120, pe_rows=500, pe_value_size=40, write_batch=50,
    stream_segments=2, stream_events=500, stream_docs=40,
)


def scaled(base: Scale, k: int) -> Scale:
    """``base`` with every count times ``k``; the value size and the
    number of stream segments stay."""
    keep = {"pe_value_size", "stream_segments"}
    return dataclasses.replace(base, **{
        f.name: getattr(base, f.name) * k
        for f in dataclasses.fields(base) if f.name not in keep})


# --scale choices: x2 and x4 are for checking which ops are data-bound
SCALES = {"tiny": TINY, "default": DEFAULT,
          "x2": scaled(DEFAULT, 2), "x4": scaled(DEFAULT, 4)}


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    """One parquet file per part under ``path`` (a directory).  File
    mtimes increase with the part number: a file stream source reads
    files in modification-time order, so segments arrive in order."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        f = f"{path}/part-{i:03d}.parquet"
        pq.write_table(table.slice(lo, hi - lo), f)
        os.utime(f, (T0_MS / 1000 + i, T0_MS / 1000 + i))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def events(rng: np.random.Generator, scale: Scale) -> pa.Table:
    n = scale.events
    ts = np.sort(rng.integers(T0_MS, T0_MS + 30 * DAY_MS, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts * 1000, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, scale.users, n), type=pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.uniform(0, 500, n), 2)),
    })


def orders(rng: np.random.Generator, scale: Scale) -> pa.Table:
    n = scale.orders
    day0 = np.datetime64("1995-01-01", "D")
    dates = day0 + rng.integers(0, 7 * 365, n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(n // 10, 1), n),
                              type=pa.int64()),
        "o_orderstatus": pa.array(
            [ORDER_STATUS[i] for i in rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2)),
        "o_orderdate": pa.array(dates.astype("datetime64[us]"),
                                type=pa.timestamp("us", tz="UTC")),
        "o_orderpriority": pa.array(
            [PRIORITIES[i] for i in rng.integers(0, 5, n)]),
    })


def lineitem(rng: np.random.Generator, scale: Scale) -> pa.Table:
    n = scale.lineitem
    return pa.table({
        "pk": pa.array(np.arange(n, dtype=np.int64)),
        "l_orderkey": pa.array(rng.integers(0, scale.orders, n),
                               type=pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
    })


def documents(rng: np.random.Generator, scale: Scale) -> tuple[pa.Table, dict]:
    """The corpus plus planted duplicates with known answers.

    Every 10th original gets an exact clone (id + 1_000_000) and every
    7th a near-clone (id + 2_000_000: the text plus one appended word,
    so its word-3-shingle Jaccard with the original is >= 0.95).
    Originals are 30-70 random words, so unplanted pairs share almost
    no shingles."""
    n = scale.documents
    ids, texts, langs, sources = [], [], [], []
    for i in range(n):
        ids.append(i)
        texts.append(_text(rng, int(rng.integers(30, 71))))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        sources.append(f"src{i % 5}")
    exact = [i for i in range(n) if i % 10 == 0]
    near = [i for i in range(n) if i % 7 == 3]
    for i in exact:
        ids.append(i + 1_000_000)
        texts.append(texts[i])
        langs.append(langs[i])
        sources.append(sources[i])
    for i in near:
        ids.append(i + 2_000_000)
        texts.append(texts[i] + " " + WORDS[i % len(WORDS)])
        langs.append(langs[i])
        sources.append(sources[i])
    table = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
    })
    planted = {
        "exact": {i + 1_000_000: i for i in exact},
        "near": {i + 2_000_000: i for i in near},
    }
    return table, planted


def stream_docs(rng: np.random.Generator, scale: Scale) -> pa.Table:
    """Documents for the streaming dedup operators: originals plus
    exact re-deliveries and near-clones arriving in later segments.
    Event times span under one minute, far inside every operator's
    one-hour watermark, so no state is evicted and each stream output
    must equal its batch twin."""
    n = scale.stream_docs
    ids, texts = [], []
    for i in range(n):
        ids.append(i)
        texts.append(_text(rng, int(rng.integers(30, 71))))
    for i in range(0, n, 6):
        ids.append(i + 1_000_000)
        texts.append(texts[i])
    for i in range(1, n, 8):
        ids.append(i + 2_000_000)
        texts.append(texts[i] + " again")
    order = np.arange(len(ids))
    # arrival order: originals first, re-deliveries interleaved after
    ts = T0_MS + order * 50
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts),
        "ts": pa.array(ts.astype(np.int64)),
    })


def write_all(root: str, seed: int, scale: Scale) -> dict:
    """Write every input table under ``root``; return their paths, the
    planted-duplicate answers and the input sizes."""
    rng = np.random.default_rng(seed)
    paths = {name: f"{root}/{name}.parquet" for name in
             ("events", "orders", "lineitem", "documents", "stream_docs")}
    ev = events(rng, scale)
    _write(ev, paths["events"])
    _write(orders(rng, scale), paths["orders"])
    _write(lineitem(rng, scale), paths["lineitem"])
    docs, planted = documents(rng, scale)
    _write(docs, paths["documents"])
    sd = stream_docs(rng, scale)
    _write(sd, paths["stream_docs"], parts=scale.stream_segments)
    sizes = {
        "events": ev.num_rows, "orders": scale.orders,
        "lineitem": scale.lineitem, "documents": docs.num_rows,
        "stream_docs": sd.num_rows, "pe_rows": scale.pe_rows,
        "pe_value_size": scale.pe_value_size,
    }
    return {"paths": paths, "planted": planted, "sizes": sizes}
