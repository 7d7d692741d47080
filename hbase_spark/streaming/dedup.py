"""Streaming deduplication for continuous document ingestion.

The batch dedup operators (functions/dedup.py) assume the corpus is at
rest; a training-data ingestion pipeline also needs the STREAMING
shape: drop re-crawled / re-delivered documents as they arrive.  Spark
gives this natively as ``dropDuplicatesWithinWatermark`` — state is a
fingerprint set bounded by the watermark horizon, so the operator runs
forever at 100 TB/day without unbounded state (exactly the windowed
dedup discipline a crawler pipeline uses; re-deliveries are
overwhelmingly near-in-time, duplicates older than the horizon are
left to the periodic batch ``exact_dedup`` compaction pass).

No reference analog — this extends the engine's LLM-pipeline surface
(SURVEY.md §7.2 phase 6) to Structured Streaming.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_spark.functions.text import normalize_text


def fingerprinted(stream: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Append the 64-bit content fingerprint (same normalization as the
    batch ``exact_dedup``: lowercase, collapse whitespace, strip
    non-alphanumerics — so stream and batch agree on what 'duplicate'
    means)."""
    return stream.withColumn("_fp", F.xxhash64(normalize_text(text_col)))


def stream_dedup(
    stream: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first-seen document per content fingerprint within the
    watermark horizon.

    ``ts_col`` is epoch-millis event time (CellFrame convention).
    State size is O(distinct fingerprints inside the horizon): 8-byte
    keys, evicted as the watermark advances — the bounded-state
    requirement for an always-on ingestion job.
    """
    with_ts = fingerprinted(stream, text_col=text_col).withColumn(
        "_event_time", F.timestamp_millis(F.col(ts_col))
    )
    return (
        with_ts.withWatermark("_event_time", watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        # output schema == input schema: both internals are dropped
        .drop("_event_time", "_fp")
    )


def batch_dedup_twin(
    stream_frame: DataFrame, *, text_col: str = "text", ts_col: str = "ts"
) -> DataFrame:
    """The batch definition the streaming operator must agree with on
    any finite prefix: the first-SEEN row per fingerprint — min ts,
    ties broken by the full row's natural order (min_by over a struct,
    deterministic; a bare dropDuplicates would keep an arbitrary row).
    Output schema == input schema, like ``stream_dedup``."""
    cols = stream_frame.columns
    payload = F.struct(*[F.col(c) for c in cols])
    ordering = F.struct(F.col(ts_col), *[F.col(c) for c in cols])
    return (
        fingerprinted(stream_frame, text_col=text_col)
        .groupBy("_fp")
        .agg(F.min_by(payload, ordering).alias("_row"))
        .select(*[F.col(f"_row.{c}").alias(c) for c in cols])
    )


def stream_url_dedup(
    stream: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming URL-level dedup — the ingestion-time twin of the batch
    ``url_dedup`` (functions/text.py): keep the first-seen document per
    CANONICAL URL within the watermark horizon, so a crawl frontier
    that re-delivers tracking-param / fragment / case variants of one
    page emits it once.

    Same state discipline as ``stream_dedup``: the dedup key is the
    xxhash64 of the canonical URL (8-byte state entries, evicted at the
    horizon); canonicalization is the identical codegen rule chain the
    batch op uses, so stream and batch agree on what 'same URL' means.
    """
    from hbase_spark.functions.text import canonical_url

    with_key = stream.withColumn(
        "_uh", F.xxhash64(canonical_url(url_col))
    ).withColumn("_event_time", F.timestamp_millis(F.col(ts_col)))
    return (
        with_key.withWatermark("_event_time", watermark)
        .dropDuplicatesWithinWatermark(["_uh"])
        .drop("_event_time", "_uh")
    )


# Band buckets live under pmod(_bucket, _KEYS) state keys.  A checkpoint
# pins which bucket lives under which key, so this is no knob: it caps
# the stateful stage's parallelism and the Python calls per batch.
_KEYS = 64


def _band_step(stored, rows, *, cap: int, cutoff: int):
    """One state key's micro-batch of ``stream_minhash_candidates``.

    ``stored`` is ``(buckets, counts, members, latest)``: bucket ids
    ascending, each bucket's member count, the members flat in bucket
    order (each bucket's in stored order) and each bucket's latest
    ``_ts_ms``.  ``rows`` is the batch's ``(bucket, id, ts)``.  Buckets
    whose latest is below ``cutoff`` are dropped first.  Returns the
    candidate pairs ``(a, b)`` (a < b, distinct, ascending) and the new
    ``stored``: stored members first, then new ids ascending, at most
    ``cap`` per bucket.

    Vectorized because the call sees its key's whole state every batch:
    a per-bucket Python loop (the test's reference) makes per-batch time
    grow several times faster with the state held.
    """
    sb, sn, sm, st = stored
    rb, ri, rt = rows
    alive = st >= cutoff
    sm = sm[np.repeat(alive, sn)]
    sb, sn, st = sb[alive], sn[alive], st[alive]
    # the pool: stored members, then the batch's (bucket, id) rows that
    # are new to their bucket (np.unique keeps first occurrences)
    pb = np.concatenate([np.repeat(sb, sn), rb])
    pi = np.concatenate([sm, ri])
    _, keep = np.unique(np.column_stack([pb, pi]), axis=0, return_index=True)
    keep.sort()
    pb, pi = pb[keep], pi[keep]
    new = keep >= len(sm)
    # per bucket: stored in stored order, then new ids ascending
    o = np.lexsort((np.where(new, pi, 0), new, pb))
    pb, pi, new = pb[o], pi[o], new[o]
    ub, first, size = np.unique(pb, return_index=True, return_counts=True)
    start = np.repeat(first, size)
    pos = np.arange(len(pb)) - start
    # each new member pairs with every pool entry before it in its
    # bucket: the one at bucket offset k takes offsets 0 .. k-1
    nz = np.flatnonzero(new)
    k = pos[nz]
    offset = np.arange(k.sum()) - np.repeat(np.cumsum(k) - k, k)
    left = np.repeat(pi[nz], k)
    right = pi[np.repeat(start[nz], k) + offset]
    pairs = np.unique(
        np.column_stack([np.minimum(left, right), np.maximum(left, right)]),
        axis=0,
    )
    # the new state: each bucket's first cap pool entries, and its latest
    # ts over the stored latest and the batch rows
    latest = np.full(len(ub), np.iinfo(np.int64).min)
    np.maximum.at(latest, np.searchsorted(ub, sb), st)
    np.maximum.at(latest, np.searchsorted(ub, rb), rt)
    return (pairs[:, 0], pairs[:, 1]), (
        ub, np.minimum(size, cap), pi[pos < cap], latest
    )


def stream_minhash_candidates(
    stream: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    cap: int = 1024,
    watermark: str = "1 hour",
    state_ttl_ms: int = 24 * 3_600_000,
) -> DataFrame:
    """Streaming MinHash near-dup detection — the batch
    ``minhash_candidates`` banding as an ingest-time operator: a new
    document becomes a candidate pair with EVERY earlier document that
    shares any LSH band bucket within the state horizon.  This is the
    near-dup twin of ``stream_dedup`` (exact) and ``stream_url_dedup``
    (URL): what a continuously-fed crawl actually wants, since batch
    near-dedup over the full corpus can't run per-arrival.

    Signatures and band buckets are computed MAP-SIDE with the exact
    SQL pipeline the batch path uses (``minhash_signatures`` +
    ``_band_bucket_expr`` — multi-arg xxhash64 gram hashes, one nested
    transform for the k slots, ``xxhash64(band, slots...)`` bucket
    hash), so stream and batch agree on what "same bucket" means — the
    stream==batch law is pytest-pinned.  The shared selectExpr form
    also keeps per-micro-batch query construction off the py4j
    round-trip path.

    State: the banded rows group by ``pmod(_bucket, 64)``, so a batch
    makes at most 64 Python calls, one NumPy ``_band_step`` each, not
    one per bucket.  Each of the 64 keys holds one flat row: its bucket
    ids, their member counts, the capped member ids, each bucket's
    latest event time (raw epoch millis) and the band-hash scheme id
    (scheme, ``num_hashes``, ``bands``, ``shingle_n``).  State written
    under another scheme id raises ``ValueError`` naming both, and a
    checkpoint of the older per-bucket shape fails Spark's state key
    schema check: a restart never silently misses pairs.  A bucket
    stores its first ``cap`` members (later members still PAIR with the
    stored ones but are not stored — the truncation contract of the
    batch ``_capped_groups`` default).

    Eviction happens inside the call, with no state timeout: before
    pairing, a key drops every bucket whose ``latest + state_ttl_ms``
    is below the current watermark.  So a key's stale buckets go when
    the key next sees data, and no trailing no-data batch runs (an
    availableNow drain of n files at ``maxFilesPerTrigger=1`` is n
    micro-batches).  ``watermark`` therefore no longer filters late
    input (the event-time timeout this replaced made Spark drop rows at
    or below the watermark): a row of any age pairs with whatever
    in-horizon state is left, and ``watermark`` only sets, with
    ``state_ttl_ms``, the eviction threshold.

    Output: (a, b) candidate id pairs, a < b, distinct per key per
    micro-batch; the same pair can re-emit from a bucket under another
    key, or in a later batch when a capped-out member arrives again —
    downstream exact-Jaccard verification (join the doc store,
    ``minhash_pairs``-style) naturally dedups.

    Trade-off: a batch rewrites the whole state row of each key it
    touches, and a dozen documents touch nearly all 64 keys.  So each
    batch's state-store delta grows with the documents held inside the
    horizon, not with the batch: about 0.55 KB per held document, 48 MB
    per batch at 90,000 documents (the default 24 h horizon at one
    document per second), where per-bucket state wrote about 0.3 MB.
    With Spark's default 100 retained versions the state directory
    held 5.0 GB at 90,000 documents.  Batch time grows slowly with held state (4 cores): at
    500-document batches 2.3-2.8 s from 0 to 90,000 held, against
    12-15 s per-bucket; at 50-document batches 0.8-0.9 s at 20,000 held
    and 1.6-1.8 s at 90,000, where per-bucket state took 2.1-2.7 s
    from 0 to 20,000 held.  So for small batches per-bucket state is faster
    past roughly 150,000-200,000 held documents, which a stream of 2
    documents per second reaches within the default horizon.  The
    stateful stage runs at most 64 tasks.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hbase_spark.functions.dedup import (
        _BAND_SCHEME,
        _band_bucket_expr,
        _ident,
        minhash_signatures,
    )

    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sigs = minhash_signatures(
        stream, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
        extra_cols=(ts_col,),
    ).selectExpr(
        "_id",
        f"CAST({_ident(ts_col)} AS LONG) AS _ts_ms",
        f"timestamp_millis({_ident(ts_col)}) AS _event_time",
        "_sig",
    )
    banded = sigs.selectExpr(
        "_id", "_ts_ms", "_event_time",
        _band_bucket_expr(num_hashes, bands),
    ).selectExpr(
        "_id", "_ts_ms", "_event_time", "_bucket",
        f"CAST(pmod(_bucket, {_KEYS}) AS INT) AS _k",
    )

    scheme = f"{_BAND_SCHEME}/{num_hashes}/{bands}/{shingle_n}"
    ttl = int(state_ttl_ms)

    def _fn(key, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs))
        stored = (np.zeros(0, np.int64),) * 4
        if state.exists:
            *arrays, got = state.get
            if got != scheme:
                raise ValueError(
                    "stream_minhash_candidates state was written under "
                    f"band scheme {got!r}, this query uses {scheme!r}: "
                    "start from a fresh checkpoint"
                )
            stored = tuple(np.frombuffer(x, np.int64) for x in arrays)
        (a, b), (sb, sn, sm, st) = _band_step(
            stored,
            tuple(batch[c].to_numpy(np.int64)
                  for c in ("_bucket", "_id", "_ts_ms")),
            cap=cap,
            cutoff=state.getCurrentWatermarkMs() - ttl,
        )
        state.update(
            (sb.tobytes(), sn.tobytes(), sm.tobytes(), st.tobytes(), scheme)
        )
        if len(a):
            yield pd.DataFrame({"a": a, "b": b})

    return (
        banded.withWatermark("_event_time", watermark)
        .groupBy("_k")
        .applyInPandasWithState(
            _fn,
            "a long, b long",
            "buckets binary, counts binary, members binary, latest binary, "
            "scheme string",
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
