"""Byte-pair-encoding tokenizer, Spark-first (training-pipeline op).

Upgrades the heuristic ``bpe_ish_token_count`` to a REAL trained BPE:

- **Training** runs over the DISTINCT-WORD frame, not the corpus: the
  classic word-count formulation (Sennrich et al.'s public algorithm)
  means each round aggregates pair counts weighted by word frequency —
  at 100 TB the distinct-word frame is Zipf-small relative to the
  corpus, and each of the N merge rounds is one shuffle-light
  aggregation plus a single-row argmax to the driver (bounded driver
  traffic: one (pair, count) row per round).  Ties break
  lexicographically so training is deterministic.
- **Encoding** also never touches the corpus per-row: distinct words
  are segmented once (Arrow-batched pandas UDF applying the merge list
  with the same left-to-right fold used in training — segmentation is
  identical by construction), then a broadcast join maps every word
  occurrence to its tokens and a JVM-side sort+flatten reassembles
  per-document token streams.  The only Python is O(distinct words).

The reference has no tokenizer (SURVEY §2.8 — its scalar surface is
byte codecs); this is part of the LLM-data-pipeline extension surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_spark.sources.tables import materialize

END = "</w>"

_ASCII_SPLIT = "[^a-z0-9]+"


def _words(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), _ASCII_SPLIT), lambda t: t != "")


def _char_syms(word: Column) -> Column:
    """word -> [c, h, a, r, s, </w>]"""
    chars = F.filter(F.split(word, ""), lambda ch: ch != "")
    return F.concat(chars, F.array(F.lit(END)))


def _fold_merge(syms: Column, a: str, b: str) -> Column:
    """One left-to-right merge pass: adjacent (a, b) -> a+b."""
    ab = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == a)
            & (x == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_counts(
    docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """(word, count) over the corpus — the BPE training input."""
    return (
        docs.select(F.explode(_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def train_bpe(
    docs: DataFrame,
    *,
    num_merges: int = 50,
    text_col: str = "text",
    batch: int = 8,
    _stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` merge rules.  Each round: weighted pair
    counts over the current segmentation of the distinct-word frame,
    then up to ``batch`` merges applied in ONE chained fold +
    checkpoint.  No Python in the loop body besides one bounded
    collect (at most ``8 * batch`` candidate rows per round).

    ``batch=1`` is the exact sequential algorithm (Sennrich et al.:
    deterministic argmax — count desc, pair asc — one merge per
    round).  ``batch > 1`` (the scale default) is the standard
    batched-BPE trick: from the round's top candidates, greedily take
    pairs — in the same deterministic order — whose symbols are
    disjoint from every pair already taken this round (including the
    concatenations they create).  Disjointness makes each taken
    pair's count invariant under its round-mates' merges, so every
    applied rule was a true argmax among the pairs it could not have
    interacted with.  The learned merge LIST can differ from the
    batch=1 list (sequential BPE re-ranks after every merge; batched
    re-ranks after every round) but is deterministic for a given
    ``batch``, and every consumer downstream (segment / encode /
    detokenize) is correct for ANY merge list — the roundtrip law is
    pinned per list, not per training schedule.

    Why batching is the 100 TB posture: a real 32k-merge vocabulary at
    batch=1 is 32k sequential Spark rounds (one agg job + one
    checkpoint each) — a driver-side bottleneck by construction.  At
    batch=8 the same vocabulary is ~4k rounds, and the per-round work
    is unchanged (the pair-count agg dominates; k nested folds in one
    projection cost what one fold costs, a single pass over the
    distinct-word frame).  ``_stats``, when given, receives
    {'rounds': r} for tests that pin the round count."""
    words = word_counts(docs, text_col=text_col).select(
        _char_syms(F.col("word")).alias("syms"), "count"
    )
    return _train_merges(words, num_merges, batch, _stats)


def _train_merges(
    words: DataFrame,
    num_merges: int,
    batch: int,
    _stats: dict | None = None,
) -> list[tuple[str, str]]:
    """The alphabet-agnostic batched merge-learning loop over a
    (syms array<string>, count) frame — shared by the classic
    word-level trainer (char units + </w>) and the byte-level trainer
    (remapped byte units, no marker)."""
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    # each round's collect() runs the result stage that stores the
    # frame, so no round pays a separate job to store it
    words = materialize(words)
    merges: list[tuple[str, str]] = []
    rounds = 0
    while len(merges) < num_merges:
        k = min(batch, num_merges - len(merges))
        pairs = words.select(
            "count",
            F.explode(
                F.transform(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    lambda s, i: F.struct(
                        s.alias("a"),
                        F.element_at(F.col("syms"), i + 2).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("count").alias("n"))
            .filter(F.col("n") >= 2)
            .orderBy(F.desc("n"), "a", "b")
            .limit(max(8 * k, 8))
            .collect()
        )
        if not top:
            break
        rounds += 1
        chosen: list[tuple[str, str]] = []
        used: set[str] = set()
        for r in top:
            if len(chosen) >= k:
                break
            a, b = r["a"], r["b"]
            if a in used or b in used or (a + b) in used:
                continue
            chosen.append((a, b))
            used.update((a, b, a + b))
        expr: Column = F.col("syms")
        for a, b in chosen:
            expr = _fold_merge(expr, a, b)
        merges.extend(chosen)
        words = materialize(words.select(expr.alias("syms"), "count"))
    if _stats is not None:
        _stats["rounds"] = rounds
    return merges


def _segment(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply the merge list to one word with the SAME left-to-right
    fold used in training — segmentation equals the training-time
    state by construction."""
    syms = list(word) + [END]
    for a, b in merges:
        out: list[str] = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        syms = out
    return syms


def bpe_segment_words(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(word, tokens) for a distinct-word frame — Arrow-batched.

    The merge list ships as ONE executor broadcast (a published
    tokenizer is ~50k rules — several MB that must not be
    re-serialized into every task closure)."""
    bc = words.sparkSession.sparkContext.broadcast(list(merges))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def seg(col: pd.Series) -> pd.Series:
        mg = bc.value
        return col.map(lambda w: _segment(w, mg))

    return words.select("word", seg("word").alias("tokens"))


def _vocab_join_side(vocab: DataFrame, broadcast_vocab: bool | None):
    """The occurrence<->vocab join side under the scale contract.

    ``None`` (default) attaches NO hint: the distinct-pretoken frame's
    cardinality is corpus-dependent (Heaps'-law sublinear, but 100 TB
    of web text — base64 junk, URLs, unicode noise — reaches 1e8-1e9
    distinct pretokens), so a forced ``F.broadcast`` either OOMs the
    driver or trips the broadcast size cap exactly when it matters.
    AQE sees the ACTUAL post-distinct shuffle size at runtime and
    converts the join to broadcast-hash when the vocab is small — the
    common case costs the same as the old forced hint, and the
    pathological case degrades to a shuffle join instead of failing.
    ``True``/``False`` force/forbid the hint for callers that know
    their vocab (e.g. a fixed published tokenizer's closed piece set).
    """
    return F.broadcast(vocab) if broadcast_vocab else vocab


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool | None = None,
) -> DataFrame:
    """(id, tokens, n_tokens) per document.

    Plan: tokenize (map), explode word occurrences with positions,
    join the once-segmented distinct-word frame (AQE picks broadcast
    vs shuffle from the vocab's ACTUAL size — see ``_vocab_join_side``
    for the 100 TB rationale), then reassemble the per-document stream
    JVM-side (sort_array over (pos, tokens) structs + flatten).  The
    corpus text itself is never sent to Python."""
    occurrences = docs.select(
        F.col(id_col),
        F.posexplode(_words(text_col)).alias("pos", "word"),
    )
    vocab = bpe_segment_words(
        occurrences.select("word").distinct(), merges
    )
    joined = occurrences.join(
        _vocab_join_side(vocab, broadcast_vocab), "word"
    )
    assembled = joined.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tokens"))
                ),
                lambda s: s["tokens"],
            )
        ).alias("tokens")
    )
    # docs with no ascii tokens still get a row (empty stream)
    return (
        docs.select(id_col)
        .join(assembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("tokens", F.array().cast("array<string>")).alias(
                "tokens"
            ),
            F.coalesce(F.size("tokens"), F.lit(0)).alias("n_tokens"),
        )
    )


def bpe_detokenize(tokens: str | Column) -> Column:
    """Token stream -> normalized text (words joined by single
    spaces): concatenate and turn each end-of-word marker back into a
    separator.  ``detokenize(encode(text)) == ' '.join(words(text))``
    is the roundtrip law the tests pin."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.trim(
        F.regexp_replace(
            F.concat_ws("", c), "\\Q" + END + "\\E", " "
        )
    )


# ------------------------------------------------- byte-level BPE (apply)

# GPT-2's printable remap of the 256 byte values (Radford et al. 2019,
# public `bytes_to_unicode`): printable latin stays itself, everything
# else shifts to U+0100+.  Makes every byte a visible character so
# merges operate on plain strings.
def bytes_to_unicode() -> dict[int, str]:
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


_B2U = bytes_to_unicode()
_U2B = {u: b for b, u in _B2U.items()}
# the two 256-char alignment strings F.translate needs to undo the
# remap JVM-side (position i of _FROM maps to position i of _TO)
_FROM = "".join(_B2U[b] for b in range(256))
_TO = "".join(chr(b) for b in range(256))

# GPT-2's pretokenizer (public); Java regex supports the lookahead
_GPT2_SPLIT = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"
)


def _bbpe_segment(pretok: str, ranks: dict) -> list[str]:
    """The canonical byte-level BPE apply (GPT-2 `bpe()`): map the
    pretoken's UTF-8 bytes to printable units, then repeatedly merge
    the lowest-rank adjacent pair until none is mergeable.  Unlike the
    trainer's one-pass-per-rule fold, the min-rank loop re-examines
    pairs a merge just created — the published apply semantics."""
    parts = [_B2U[b] for b in pretok.encode("utf-8")]
    while len(parts) > 1:
        best, at = None, -1
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best is None or r < best):
                best, at = r, i
        if best is None:
            break
        parts[at:at + 2] = [parts[at] + parts[at + 1]]
    return parts


def bbpe_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """token -> id, derived the way every byte-level BPE release does:
    the 256 byte units in remap order, then one entry per merge in
    rank order (vocab files are exactly this, so ids line up with the
    published tokenizer when the merge list does)."""
    vocab = {_B2U[b]: i for i, b in enumerate(range(256))}
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab))
    return vocab


def bbpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool | None = None,
) -> DataFrame:
    """(id, tokens, ids, n_tokens) under a PRETRAINED byte-level BPE —
    the apply path (a training pipeline usually APPLIES a published
    tokenizer; ``train_bpe`` is for building one).  Lossless on any
    input: every byte has a unit, so unknown words cannot exist and
    ``bbpe_detokenize(bbpe_encode(x)) == x`` byte-for-byte — the law
    the oracle arm hash-checks.

    Plan shape (same discipline as ``bpe_encode``): the GPT-2
    pretokenizer regex splits JVM-side, only DISTINCT pretokens cross
    into Python for the min-rank merge loop (Zipf-bounded, Arrow-
    batched), the occurrence join is AQE-decided (see
    ``_vocab_join_side``), and per-document streams reassemble with a
    JVM sort+flatten.  Ids come from the derived rank vocabulary
    (``bbpe_vocab``)."""
    mg = list(merges)
    # ranks + vocab for a published tokenizer are ~50k entries each
    # (several MB) — ship once per executor, not per task closure
    bc = docs.sparkSession.sparkContext.broadcast(
        ({tuple(p): i for i, p in enumerate(mg)}, bbpe_vocab(mg))
    )

    occurrences = docs.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(F.col(text_col), F.lit(_GPT2_SPLIT), 0)
        ).alias("pos", "pretok"),
    )

    # tokens AND ids come out of ONE segmentation pass: the rank
    # vocabulary is driver-known, so the id lookup costs a dict get in
    # the same Arrow batch — the earlier explode-the-tokens-again +
    # vocab-join form re-shuffled the corpus token stream a second
    # time and measured super-linear at 16x volume
    @F.pandas_udf("tokens array<string>, ids array<int>")
    def seg(col: pd.Series) -> pd.DataFrame:
        ranks, vocab = bc.value
        toks = col.map(lambda w: _bbpe_segment(w, ranks))
        return pd.DataFrame(
            {
                "tokens": toks,
                "ids": toks.map(lambda ts: [vocab[t] for t in ts]),
            }
        )

    piece_vocab = occurrences.select("pretok").distinct().select(
        "pretok", seg("pretok").alias("_st")
    ).select("pretok", F.col("_st.tokens").alias("toks"),
             F.col("_st.ids").alias("tids"))
    joined = occurrences.join(
        _vocab_join_side(piece_vocab, broadcast_vocab), "pretok"
    )
    with_ids = joined.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "toks", "tids"))
        ).alias("_s")
    ).select(
        id_col,
        F.flatten(F.transform("_s", lambda s: s["toks"])).alias("tokens"),
        F.flatten(F.transform("_s", lambda s: s["tids"])).alias("ids"),
    )
    return (
        docs.select(id_col)
        .join(with_ids, id_col, "left")
        .select(
            id_col,
            F.coalesce("tokens", F.array().cast("array<string>")).alias("tokens"),
            F.coalesce("ids", F.array().cast("array<int>")).alias("ids"),
            F.coalesce(F.size("tokens"), F.lit(0)).alias("n_tokens"),
        )
    )


def bbpe_detokenize(tokens: str | Column) -> Column:
    """Byte-exact inverse, fully JVM-side: concatenate the token
    units, translate each remapped character back to its byte via the
    256-char alignment strings, reinterpret as latin-1 bytes, decode
    UTF-8.  ``bbpe_detokenize(bbpe_encode(x)) == x`` for EVERY string
    (byte-level BPE has no unknown token and loses nothing)."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.decode(
        F.encode(
            F.translate(F.concat_ws("", c), _FROM, _TO), "ISO-8859-1"
        ),
        "UTF-8",
    )


def train_bbpe(
    docs: DataFrame,
    *,
    num_merges: int = 50,
    text_col: str = "text",
    batch: int = 8,
    _stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Train a BYTE-LEVEL BPE (the GPT-2 arrangement end-to-end: train
    here, apply with ``bbpe_encode``): pretokenize with the published
    regex, remap each pretoken's UTF-8 bytes to the printable units —
    entirely JVM-side via encode/decode + the 256-char translate
    alignment — and run the shared batched merge loop over the
    (units, count) frame.  No end-of-word marker: byte-level BPE keeps
    the leading-space convention (Ġ) instead, so merges learned here
    feed ``bbpe_encode``/``bbpe_vocab`` directly and the roundtrip law
    holds for the trained list like any other.

    Caveat shared with the apply path: training uses one left-to-right
    fold per rule within a round while apply uses the canonical
    min-rank loop — the same train/apply asymmetry the original
    Sennrich code has; segmentations agree except on freshly-created
    lower-rank pairs, which only shifts WHICH merges are learned, not
    any consumer's correctness."""
    pretoks = docs.select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(_GPT2_SPLIT), 0)
        ).alias("pretok")
    )
    counts = pretoks.groupBy("pretok").agg(F.count("*").alias("count"))
    # UTF-8 bytes -> printable units, JVM-side: reinterpret the utf-8
    # bytes as latin-1 chars (one char per byte), then translate each
    # byte-char to its remap unit via the 256-char alignment strings
    units = F.filter(
        F.split(
            F.translate(
                F.decode(F.encode(F.col("pretok"), "UTF-8"), "ISO-8859-1"),
                _TO,
                _FROM,
            ),
            "",
        ),
        lambda ch: ch != "",
    )
    words = counts.select(units.alias("syms"), "count")
    return _train_merges(words, num_merges, batch, _stats)
