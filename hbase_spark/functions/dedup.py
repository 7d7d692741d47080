"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard and embedding-cosine
near-dup — the standard large-corpus dedup toolbox, built Spark-first:

- exact:     one hash-groupBy (map-side combinable).
- MinHash:   shingle -> k seeded min-hashes -> band -> bucket join.
             Candidate generation never compares all pairs: documents
             meet only inside an LSH bucket, so the shuffle is keyed by
             (band, band_hash) and scales with corpus size, not its
             square.
- SimHash:   64-bit sign-of-weighted-sum signature; near-dups differ
             in few bits.  Banded the same way.
- n-gram Jaccard: exact verification on candidate pairs only.
- embedding: cosine near-dup via random-hyperplane LSH over an
             embedding column (see functions/similarity.py for ANN).

All hashing is seeded/deterministic — reruns produce identical
clusters (required for reproducible data recipes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_spark.functions.text import normalize_text, tokens
from hbase_spark.sources.tables import materialize


# ---------------------------------------------------------------- exact

def _ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into a SQL
    expression string, escaping embedded backticks (`` ` `` ->
    ``` `` ```) — the interpolated selectExpr forms must stay as
    robust to odd column names as the F.col path they replaced."""
    return "`" + name.replace("`", "``") + "`"


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per exact normalized text.
    Single hash aggregation on a 64-bit digest — no text shuffled."""
    h = F.xxhash64(normalize_text(text_col)).alias("_h")
    keep = (
        docs.select(F.col(id_col), h)
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of identical documents: (hash, ids, size) with size > 1."""
    return (
        docs.select(F.col(id_col), F.xxhash64(normalize_text(text_col)).alias("hash"))
        .groupBy("hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"), F.count("*").alias("size"))
        .filter(F.col("size") > 1)
    )


# -------------------------------------------------------------- shingles

def shingles(text_col: str | Column = "text", n: int = 3) -> Column:
    """Word n-gram shingle array (distinct).

    NOTE: array-lambda form — convenient for per-row use, but the
    lambda re-evaluates the token split per gram (O(tokens²),
    interpreted).  Bulk pipelines should use ``shingle_frame`` below.
    """
    toks = tokens(text_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingle_arrays(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(_id, _g[, *extra_cols]) — per-doc shingle ARRAY with zero
    shuffle; ``extra_cols`` pass through untouched (e.g. an event-time
    column for the streaming twin).

    Two projection stages so the token split is materialized once as a
    real column before the gram transform reads it (inlining the split
    into the lambda re-evaluates the regex per gram — the O(tokens²)
    trap ``shingles()`` warns about).  Same gram multiset as
    ``shingle_frame``: docs shorter than n yield one whole-doc gram,
    token-less docs the empty gram.  This is the minhash scale path:
    signature work becomes a pure map stage — no token-stream shuffle
    at all (measured 2.3x over the explode+window form at sf0.1, and
    the gap widens with corpus size since the window's exchange grows
    linearly)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
    )
    base = docs.select(
        F.col(id_col).alias("_id"), toks.alias("_t"), *extra_cols
    )
    grams = F.when(
        F.size("_t") >= n,
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("_t") - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice("_t", i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", F.col("_t"))))
    return base.select("_id", grams.alias("_g"), *extra_cols)


def shingle_frame(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(_id, _s) — one row per word-n-gram occurrence, whole-stage-
    codegen throughout: posexplode the token split, then assemble each
    gram from ``lead`` over a window keyed by document.  The window's
    hash partitioning on _id is reused by downstream groupBy(_id), so
    the token stream is shuffled once total.  Same gram set as
    ``shingles()`` (docs shorter than n yield one whole-doc gram;
    token-less docs yield the empty gram); occurrences are NOT
    deduplicated — min-hash is duplicate-insensitive and set consumers
    aggregate with collect_set.
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.lower(text_col), "[^a-z0-9]+")).alias("_pos", "_t"),
    ).filter(F.col("_t") != "")
    w = Window.partitionBy("_id").orderBy("_pos")
    leads = [F.col("_t")] + [F.lead("_t", i).over(w) for i in range(1, n)]
    cnt = F.count("*").over(Window.partitionBy("_id"))
    rn = F.row_number().over(w)
    gram = F.when(
        (cnt >= n) & leads[-1].isNotNull(), F.concat_ws(" ", *leads)
    ).when(
        # short doc: one whole-doc gram (concat_ws skips null leads)
        (cnt < n) & (rn == 1),
        F.concat_ws(" ", *leads),
    )
    out = tok.select("_id", gram.alias("_s")).filter(F.col("_s").isNotNull())
    # Empty-doc membership must use the SAME ascii tokenizer as the main
    # path: a doc with unicode tokens but no [a-z0-9] runs produces no
    # gram rows above, so it must get the '' gram here (matching
    # shingle_arrays and the exact-Jaccard SQL oracle, which both
    # tokenize on [^a-z0-9]+ — the unicode tokens() splitter would
    # silently drop such docs from the dedup candidate space).
    ascii_toks = F.filter(
        F.split(F.lower(F.col("_txt")), "[^a-z0-9]+"), lambda x: x != ""
    )
    empty = (
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
        .filter(F.size(ascii_toks) == 0)
        .select("_id", F.lit("").alias("_s"))
    )
    return out.unionByName(empty)


# --------------------------------------------------------------- minhash

_MERSENNE = (1 << 31) - 1  # prime modulus for universal hashing


def _uh_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i * x + b_i) mod p — a_i in [1, p), b_i in [0, p)."""
    out = []
    for i in range(num_hashes):
        a = 1 + (i * 2654435761 + 0x9E3779B9) % (_MERSENNE - 1)
        b = (i * 40503 + 0x85EBCA6B) % _MERSENNE
        out.append((a, b))
    return out


def _tok_expr(text_col: str) -> str:
    """selectExpr string: ascii token array of ``text_col`` as _t."""
    return (
        f"filter(split(lower({_ident(text_col)}), '[^a-z0-9]+'),"
        " x -> x != '') AS _t"
    )


def _gram_hash_exprs(num_hashes: int, shingle_n: int) -> tuple[str, str, str]:
    """The r10 pure-map signature pipeline as three selectExpr strings
    over a token-array column ``_t`` (shared by minhash_pairs, the
    batch banding and the streaming twin — ONE scheme, so stream==batch
    bucket equality is by construction):

    - ``_gh``  — one multi-arg xxhash64 per n-token window (no gram
      string is ever allocated; short docs hash the whole-doc join,
      token-less docs the empty string);
    - ``_harr`` — gram hashes folded into the Mersenne field;
    - ``_sig`` — k universal-hash minima as one nested transform over
      the (a, b) constant array.
    """
    gram_args = ",".join(
        f"element_at(_t,i+{j + 1})" for j in range(shingle_n)
    )
    gh = (
        f"CASE WHEN size(_t) >= {shingle_n}"
        f" THEN transform(sequence(0, size(_t)-{shingle_n}),"
        f" i -> xxhash64({gram_args}))"
        " ELSE array(xxhash64(concat_ws(' ', _t))) END AS _gh"
    )
    harr = f"transform(_gh, h -> pmod(h, {_MERSENNE}L)) AS _harr"
    consts_sql = ",".join(
        f"named_struct('a',{a}L,'b',{b}L)" for a, b in _uh_consts(num_hashes)
    )
    sig = (
        f"transform(array({consts_sql}),"
        f" c -> array_min(transform(_harr,"
        f" h -> (c.a * h + c.b) % {_MERSENNE}L))) AS _sig"
    )
    return gh, harr, sig


# Names the gram/signature/band hash scheme of ``_gram_hash_exprs`` and
# ``_band_bucket_expr``.  Change it with either of them: streaming state
# keyed by bucket ids of another scheme must fail, not silently miss.
_BAND_SCHEME = "xxh64-multiarg"


def _band_bucket_expr(num_hashes: int, bands: int) -> str:
    """selectExpr string: explode the ``_sig`` column into one
    xxhash64 bucket id per band (hashes the band's r slots directly as
    longs — no per-(doc, band) string)."""
    r = num_hashes // bands
    band_slots = ",".join(
        f"element_at(_sig, b*{r}+{j + 1})" for j in range(r)
    )
    return (
        f"explode(transform(sequence(0, {bands - 1}),"
        f" b -> xxhash64(b, {band_slots}))) AS _bucket"
    )


# the aliases minhash_signatures' selectExpr stages carry
_SIG_INTERNAL = frozenset({"_id", "_t", "_gh", "_harr", "_sig"})


def minhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``(_id, *extra_cols, _sig)`` signature frame — a pure map stage,
    NO shuffle, built from the shared ``_gram_hash_exprs`` pipeline:
    grams are hashed with one multi-argument xxhash64 over the n
    tokens (r11 — the gram-string ``concat_ws`` assembly this replaced
    measured ~5x slower at r10, and the string allocation volume grew
    with corpus size), and the k signature slots are integer universal
    hashes folded in a single nested transform.  At 100 TB signatures
    stay embarrassingly parallel map work with zero exchange.

    An extra column named ``_id``, ``_t``, ``_gh``, ``_harr`` or
    ``_sig`` would collide with or shadow an internal column, so it
    raises ``ValueError``."""
    clash = [c for c in extra_cols if c.lower() in _SIG_INTERNAL]
    if clash:
        raise ValueError(
            f"extra_cols {clash} collide with minhash_signatures' "
            f"internal columns {sorted(_SIG_INTERNAL)}"
        )
    extras = [_ident(c) for c in extra_cols]
    gh, harr, sig = _gram_hash_exprs(num_hashes, shingle_n)
    return (
        docs.selectExpr(
            f"{_ident(id_col)} AS _id", *extras, _tok_expr(text_col)
        )
        .selectExpr("_id", *extras, gh)
        .selectExpr("_id", *extras, harr)
        .selectExpr("_id", *extras, sig)
    )


def minhash_candidates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    rows/band r = num_hashes/bands; the similarity threshold is
    ~ (1/bands)^(1/r).  Output: (id_a, id_b) with id_a < id_b, distinct.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    banded = minhash_signatures(
        docs, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
    ).selectExpr("_id", _band_bucket_expr(num_hashes, bands))
    return _bucket_pairs(banded, "_bucket")


_BUCKET_CAP = 1024

# Cap for the matmul (applyInPandas) cluster verify, where memory is
# block-bounded (see _cluster_reps_arrow) and the real budget is FLOPS
# per task: 65536^2 cosines ~ 4e9 flops, seconds of one core.  The
# pair-JOIN paths keep _BUCKET_CAP — an exploded 65536-member bucket
# is 2e9 pair rows, a different hazard entirely.  k-means cluster
# sizes are skewed in practice (the 64x sweep measured clusters >4x
# the auto-nlist 256-member target), so the verify cap must sit well
# above the MEAN the clustering aims for.
_CLUSTER_CAP = 65536


def _bucket_pairs(
    banded: DataFrame,
    bucket_col: str,
    *,
    cap: int = _BUCKET_CAP,
    on_overflow: str = "truncate",
) -> DataFrame:
    """(id_a, id_b) pairs of ids sharing an LSH bucket.

    groupBy-then-explode instead of a bucket self-join: the signature
    subtree is computed ONCE (a self-join would evaluate it per side —
    Spark's exchange reuse does not dedupe across the join inputs), and
    the pair blow-up happens on the tiny collision groups only.  Bucket
    membership is capped at ``cap`` ids (sorted, deterministic) as a
    skew guard: a hotter bucket means the banding threshold is
    mistuned, and capping bounds the quadratic expansion at scale.

    The truncation is never silent: ``on_overflow='error'`` fails the
    job naming the hot bucket; the default 'truncate' keeps the capped
    prefix, and ``bucket_overflow()`` reports affected buckets.
    """
    groups = _capped_groups(banded, bucket_col, cap=cap, on_overflow=on_overflow)
    return (
        groups.select(F.explode("_ids").alias("id_a"), F.col("_ids"))
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def _capped_groups(
    banded: DataFrame, bucket_col: str, *, cap: int, on_overflow: str
) -> DataFrame:
    """Shared cap+audit contract for every LSH group build: collision
    groups of ``_id``s per bucket, membership capped at ``cap`` (sorted,
    deterministic).  ``on_overflow='error'`` fails the job naming the
    hot bucket; 'truncate' keeps the capped prefix (quantify the loss
    with ``bucket_overflow()``).  Both the pairing helper and the fused
    ``minhash_dedup`` path route through here — no caller gets a bare
    uncapped / silently-capped slice."""
    if on_overflow not in ("truncate", "error"):
        raise ValueError(f"bad on_overflow {on_overflow!r}")
    agg = banded.groupBy(bucket_col).agg(
        F.sort_array(F.collect_set("_id")).alias("_all")
    )
    ids = F.slice("_all", 1, cap)
    if on_overflow == "error":
        ids = F.when(
            F.size("_all") > cap,
            F.raise_error(
                F.concat(
                    F.lit(f"LSH bucket over skew cap {cap}: "),
                    F.col(bucket_col).cast("string"),
                )
            ),
        ).otherwise(ids)
    return agg.select(ids.alias("_ids")).filter(F.size("_ids") > 1)


def bucket_overflow(
    banded: DataFrame, bucket_col: str, *, cap: int = _BUCKET_CAP
) -> DataFrame:
    """Audit frame: buckets whose membership exceeds the skew cap,
    with their sizes — run alongside a dedup job to quantify what
    'truncate' dropped."""
    return (
        banded.groupBy(bucket_col)
        .agg(F.countDistinct("_id").alias("n_ids"))
        .filter(F.col("n_ids") > cap)
    )


def paragraph_link_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    cap: int = _BUCKET_CAP,
    on_overflow: str = "truncate",
) -> DataFrame:
    """``(a, b)`` pairs of documents sharing at least one exact
    paragraph — the edge relation of duplicate-content clustering
    (group-then-keep-one over docs linked by duplicated boilerplate or
    syndicated passages, the cluster step next to C4-style
    ``paragraph_dedup``).  Feed the result to ``dedup_clusters(pairs=)``
    for the transitive closure.

    Scale shape: paragraphs travel as xxhash64 values (text never
    crosses an exchange) and pair expansion routes through the shared
    ``_capped_groups`` cap+audit contract — a viral paragraph shared by
    more than ``cap`` docs either truncates deterministically (audit
    with ``bucket_overflow()``) or fails the job, never a silent
    quadratic blow-up."""
    paras = (
        docs.select(
            F.col(id_col).alias("_id"),
            # \Q...\E quotes the separator: ``sep`` is a LITERAL string
            # (matching the DuckDB oracle's string_split), not a regex —
            # a bare F.split would treat '||' or '.' as a pattern
            F.explode(F.split(text_col, "\\Q" + sep + "\\E")).alias("_p"),
        )
        .filter(F.trim("_p") != "")
        .select("_id", F.xxhash64("_p").alias("_ph"))
        .distinct()
    )
    return _bucket_pairs(paras, "_ph", cap=cap, on_overflow=on_overflow).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (verification stage).

    Shingle sets are built only for documents that appear in the pair
    list (semi-join first): at scale the candidate set is a small
    fraction of the corpus, so verification never re-tokenizes the
    whole corpus."""
    ids = (
        pairs.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
        ).distinct()
    )
    sh = shingle_arrays(
        docs.join(ids, id_col, "left_semi"),
        id_col=id_col, text_col=text_col, n=shingle_n,
    ).select("_id", F.array_distinct("_g").alias("_sh"))
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                / F.greatest(F.size(F.array_union("_sh_a", "_sh_b")), F.lit(1))
            ).alias("jaccard"),
        )
    )


def minhash_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    cap: int = _BUCKET_CAP,
    on_overflow: str = "truncate",
) -> DataFrame:
    """Verified near-dup pairs ``(a, b)`` with a < b and exact Jaccard
    (over 64-bit shingle hashes) >= ``threshold`` — the LSH candidate +
    verify stages of ``minhash_dedup``, exposed so cluster-level
    consumers (``dedup_clusters``) share one plan.  See
    ``minhash_dedup`` for the plan-shape notes."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    # Per-doc gram hashes, signature and hash set as PURE MAP work
    # over the token array (r10 rewrite, guide §2.4), built from the
    # shared ``_gram_hash_exprs`` / ``_band_bucket_expr`` pipeline
    # (identical SQL strings — the streaming twin and the plain
    # banding use the same scheme).  Grams are hashed with one
    # multi-argument xxhash64 over the n tokens — no gram string is
    # ever allocated — and the signature is one nested transform over
    # the (a, b) constant array.  This removes the token-stream
    # shuffle the old posexplode+window gram assembly paid plus the
    # 64-min hash aggregation after it: the first exchange of the
    # whole pipeline is the banding shuffle of (id, bucket) pairs.
    # Built as SQL expr strings, one parse per projection: the
    # per-slot Column/lambda form cost ~1s of py4j round-trips PER
    # QUERY CONSTRUCTION (64 slots x several JVM calls each), which
    # the bench pays inside the timed arm — measured at sf0.1:
    # construct 1.2s -> 0.25s, per-doc execution 1.33s (window+agg)
    # -> ~0.4s.  The map recomputes once per consumer (banding;
    # candidates-only verify) instead of being checkpointed: two
    # cheap map passes beat one eager checkpoint job plus
    # corpus-sized executor storage of every doc's hash set — only
    # candidate docs' sets are ever materialized now (the semi-join
    # prunes before the verify joins, and column pruning drops the
    # signature transform from the verify branch).
    gh, harr, sig = _gram_hash_exprs(num_hashes, shingle_n)
    per_doc = (
        docs.selectExpr(f"{_ident(id_col)} AS _id", _tok_expr(text_col))
        .selectExpr("_id", gh)
        .selectExpr("_id", "_gh", harr)
        .selectExpr("_id", sig, "array_distinct(_gh) AS _hs")
    )
    banded = per_doc.selectExpr(
        "_id", _band_bucket_expr(num_hashes, bands)
    )
    groups = _capped_groups(banded, "_bucket", cap=cap, on_overflow=on_overflow)
    pairs = (
        groups.select(F.explode("_ids").alias("a"), F.col("_ids"))
        .select("a", F.explode("_ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    # Exact-Jaccard verify.  The hash-set frame joining into the
    # candidate pairs is the scale-sensitive payload: the 64x sweep
    # caught the unrestricted form going 9.4x-at-4x once the FULL
    # per-doc set frame outgrew AQE's broadcast threshold (both joins
    # fell back to SortMergeJoin and the pair-expanded wide rows were
    # sorted with the payload riding along).  Restricting the fetch to
    # docs that actually appear in a candidate pair — a skinny
    # left-semi join, the same candidates-only discipline
    # semantic_dedup's verify uses — keeps the broadcast viable for as
    # long as the DUPLICATE-involved subset (not the corpus) fits, and
    # shrinks both SMJ inputs when even that overflows.  (A
    # groupBy-collect_list re-keying was measured 2.8x worse at 16x:
    # the hash agg copies every set array an extra time.)
    pairs = materialize(pairs)
    cand_docs = pairs.select(
        F.explode(F.array("a", "b")).alias("_id")
    ).distinct()
    # checkpointed: BOTH pair sides read this frame — without it the
    # semi-join (which sorts the set payload by _id) runs twice
    hsets = materialize(per_doc.join(cand_docs, "_id", "left_semi"))
    ha = hsets.select(F.col("_id").alias("a"), F.col("_hs").alias("_hs_a"))
    hb = hsets.select(F.col("_id").alias("b"), F.col("_hs").alias("_hs_b"))
    verified = pairs.join(ha, "a").join(hb, "b")
    jac = F.size(F.array_intersect("_hs_a", "_hs_b")) / F.greatest(
        F.size(F.array_union("_hs_a", "_hs_b")), F.lit(1)
    )
    return verified.filter(jac >= threshold).select("a", "b")


def minhash_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    cap: int = _BUCKET_CAP,
    on_overflow: str = "truncate",
) -> DataFrame:
    """End-to-end near-dedup: LSH candidates -> exact Jaccard >= t ->
    drop the larger id of each dup pair (greedy representative-keeps-
    min-id; one connected-component hop, sufficient for near-dup
    clusters where every member pairs with the representative — for
    chain-shaped clusters use ``dedup_clusters``, which closes the
    pair graph transitively).

    Skew contract: bucket groups are built through the same
    ``_capped_groups`` cap+audit path as ``_bucket_pairs`` — a bucket
    over ``cap`` ids either truncates deterministically (default; audit
    with ``bucket_overflow()`` over the banded frame) or fails the job
    with ``on_overflow='error'``.  Never a silent bare slice.

    Plan shape (r10 rewrite; see the inline notes in
    ``minhash_pairs``): per-doc gram hashes, signature slots and the
    hash set are PURE MAP work over the token array (multi-arg
    xxhash64 over the n tokens — no gram string, no token-stream
    shuffle, no signature aggregation; the old posexplode+window gram
    assembly plus 64-min hash-agg measured 1.33s against 0.35s for
    the map form at sf0.1).  The first exchange of the pipeline is
    the banding shuffle of (id, bucket) pairs; surviving candidate
    pairs join back only the hash sets of DOCS THAT APPEAR IN A PAIR
    (r8 64x-sweep fix: a skinny semi-join shrink keeps the verify's
    build side broadcastable far past the corpus-wide threshold; when
    even the dup-involved subset overflows, the SMJ fallback is
    linear under a fixed strategy — measured 2.9x wall at 4x data
    with broadcast disabled).  Only the pair and candidate-set frames
    are checkpointed (both candidate-sized); the corpus-sized per-doc
    frame is recomputed per consumer — two cheap map passes beat
    storing every doc's hash set in executor storage.  (Jaccard over
    64-bit shingle hashes instead of shingle strings — collision
    probability is negligible.)
    """
    dup = minhash_pairs(
        docs, id_col=id_col, text_col=text_col, threshold=threshold,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        cap=cap, on_overflow=on_overflow,
    )
    drop = dup.select(F.col("b").alias(id_col)).distinct()
    return docs.join(drop, id_col, "left_anti")


def dedup_clusters(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    cap: int = _BUCKET_CAP,
    on_overflow: str = "truncate",
    pairs: DataFrame | None = None,
    keep_by: str | Column | None = None,
) -> DataFrame:
    """Transitive near-dup clusters: MinHash pair graph -> iterative
    connected components (functions/graph.py large-star/small-star) ->
    ``(id, cluster, keep)`` with ``cluster`` the minimum id reachable
    through verified near-dup pairs and ``keep`` true for the cluster
    representative — by default the minimum id; pass ``keep_by`` (a
    column of ``docs``, e.g. a quality score or token count) to keep
    the HIGHEST-scoring member instead (ties to the smaller id) — the
    RefinedWeb-style "keep the best copy" rule.  Representative
    selection is one min(struct) hash-agg over (cluster, -score, id),
    the same bounded shape as the default.

    This is the closure `minhash_dedup` deliberately skips: its one-hop
    drop rule is exact when every duplicate pairs with its
    representative, but near-dup CHAINS (v1~v2~v3 with
    jaccard(v1, v3) < t — crawl snapshots, document revisions) need the
    pair graph closed transitively or the middle of the chain survives.
    The iteration shuffles only (long, long) edges and converges in
    O(log^2 n) rounds; singleton docs never enter it (they join back as
    their own cluster).

    ``pairs``: pre-computed edge frame (columns a, b) to cluster —
    e.g. `semantic_dedup` candidates or a custom verifier; defaults to
    ``minhash_pairs`` on the same arguments.
    """
    from hbase_spark.functions.graph import connected_components

    if pairs is None:
        pairs = minhash_pairs(
            docs, id_col=id_col, text_col=text_col, threshold=threshold,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            cap=cap, on_overflow=on_overflow,
        )
    comp = connected_components(
        pairs, "a", "b", nodes=docs.select(id_col), node_col=id_col
    )
    labeled = docs.join(
        comp.select(
            F.col("node").alias(id_col), F.col("component").alias("cluster")
        ),
        id_col,
    )
    if keep_by is None:
        return labeled.withColumn("keep", F.col(id_col) == F.col("cluster"))
    score = F.col(keep_by) if isinstance(keep_by, str) else keep_by
    winners = labeled.groupBy("cluster").agg(
        F.min(
            F.struct(
                (-score.cast("double")).alias("_s"),
                F.col(id_col).alias("_i"),
            )
        )["_i"].alias("_keep_id")
    )
    return labeled.join(winners, "cluster").withColumn(
        "keep", F.col(id_col) == F.col("_keep_id")
    ).drop("_keep_id")


# ---------------------------------------------------------------- simhash

def _bit_lit(b: int) -> Column:
    """Long literal with bit b set (two's complement for bit 63 —
    1 << 63 is not a valid signed-long literal)."""
    v = 1 << b
    if v >= 1 << 63:
        v -= 1 << 64
    return F.lit(v).cast("long")


def simhash(text_col: str | Column = "text", bits: int = 64) -> Column:
    """SimHash signature: sign of the per-bit weighted sum of token
    hashes.  Expressed as pure array exprs (no Python in the loop):
    for each bit b, sum over tokens of (+1 if hash bit set else -1)."""
    toks = F.array_distinct(tokens(text_col))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    def bit_sum(b):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(_bit_lit(b)) != 0, 1).otherwise(-1),
        )
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out.bitwiseOR(
            F.when(bit_sum(b) > 0, _bit_lit(b)).otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash_signatures(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 64, portable: bool = False,
) -> DataFrame:
    """(_id, _sig) SimHash frame via explode + hash aggregation — same
    values as ``simhash()`` but with every operator inside codegen (see
    minhash_signatures for why the array-lambda form is the slow path).
    ``explode_outer`` keeps token-less docs (their signature is 0, as in
    the Column form where every bit-sum is empty).

    ``portable=True`` draws the per-token hash bits from md5 instead of
    xxhash64 — two 32-bit halves (hex slices 1-8 and 9-16), each a
    non-negative long, so an SQL oracle replays every signature bit
    without any engine touching signed-64 overflow.  Same discipline
    as ``lm._bucket`` / ``pareto_select(portable=True)``: slower
    hashing, bit-identical cross-engine."""
    if portable and bits != 64:
        raise ValueError("portable simhash is fixed at 64 bits")
    if portable:
        m = F.md5(F.col("_t"))
        tok = docs.select(
            F.col(id_col).alias("_id"),
            F.explode_outer(F.array_distinct(tokens(text_col))).alias("_t"),
        ).select(
            "_id",
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("_hhi"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("_hlo"),
        )

        def _h(b):
            # bit b of the 64-bit md5 prefix: 0..31 from the low half,
            # 32..63 from the high half — both halves < 2^32 so every
            # bit test is plain positive-long arithmetic
            half = F.col("_hlo") if b < 32 else F.col("_hhi")
            return half.bitwiseAND(_bit_lit(b % 32))
    else:
        tok = docs.select(
            F.col(id_col).alias("_id"),
            F.explode_outer(F.array_distinct(tokens(text_col))).alias("_t"),
        ).select("_id", F.xxhash64("_t").alias("_h"))

        def _h(b):
            return F.col("_h").bitwiseAND(_bit_lit(b))

    aggs = [
        F.sum(F.when(_h(b) != 0, 1).otherwise(-1)).alias(f"_b{b}")
        for b in range(bits)
    ]
    per_bit = tok.groupBy("_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"_b{b}") > 0, _bit_lit(b)).otherwise(F.lit(0).cast("long"))
        )
    return per_bit.select("_id", sig.alias("_sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount of xor)."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


def hamming_candidates(
    sig: DataFrame,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    cap: int = _BUCKET_CAP,
    on_overflow: str = "truncate",
) -> DataFrame:
    """Near-dup pairs of any 64-bit signature frame ``(_id, _sig)`` by
    pigeonhole banding: two sigs within ``max_hamming`` bits share at
    least one of ``bands`` equal 64/bands-bit blocks when
    bands > max_hamming; candidates verify by exact Hamming.  Shared by
    SimHash text dedup and dHash image dedup — the signature rides the
    id struct so the verify needs no join back."""
    width = 64 // bands
    banded = sig.select(
        # carry the signature inside the id so the Hamming verify needs
        # no join back: collision groups hold (id, sig) structs
        F.struct(F.col("_id").alias("i"), F.col("_sig").alias("s")).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        F.shiftrightunsigned(F.col("_sig"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1)),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bucket"),
    )
    pairs = _bucket_pairs(banded, "_bucket", cap=cap, on_overflow=on_overflow)
    return (
        pairs.select(
            F.col("id_a.i").alias("id_a"),
            F.col("id_b.i").alias("id_b"),
            hamming64(F.col("id_a.s"), F.col("id_b.s")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_candidates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Near-dup candidates by SimHash banding (pigeonhole: two sigs
    within ``max_hamming`` bits share at least one of ``bands`` equal
    16-bit blocks when bands > max_hamming), verified by exact Hamming.

    With ``bands > max_hamming`` the pigeonhole guarantee makes the
    banded candidate set EXACTLY the set of pairs within
    ``max_hamming`` (no false negatives; false positives are removed
    by the verify), so — absent bucket-cap truncation — the output
    equals a brute-force pairwise Hamming filter, which is what the
    portable oracle computes."""
    sig = simhash_signatures(
        docs, id_col=id_col, text_col=text_col, portable=portable
    )
    return hamming_candidates(sig, max_hamming=max_hamming, bands=bands)


# ------------------------------------------------------- embedding cosine

def embedding_near_dups(
    vecs: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    cap: int = _BUCKET_CAP,
    on_overflow: str = "truncate",
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH bucketing, then
    exact cosine verify on candidate pairs.

    Candidates come from the capped ``_bucket_pairs`` path (NOT an
    uncapped bucket self-join): one hot signature — e.g. a pile of
    zero vectors — would otherwise go quadratic.  The verify join then
    fetches each side's vector by id, keyed shuffles over candidate
    pairs only.  See similarity.hyperplane_sig.

    Pass ``dim=`` (the embedding dimensionality) to keep the plan
    fully lazy; when omitted, a single-row ``first()`` discovers it,
    which costs one extra driver job before the plan launches."""
    from hbase_spark.functions.similarity import dot, hyperplane_sig, norm

    if dim is None:
        dim = len(vecs.select(vec_col).first()[0])
    sig = hyperplane_sig(F.col(vec_col), dim=dim, planes=planes, seed=seed)
    s = vecs.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), sig.alias("_sig")
    )
    pairs = _bucket_pairs(s, "_sig", cap=cap, on_overflow=on_overflow)
    # norms once per side row, not per pair (interpreted higher-order
    # eval); the dot keeps its summation order — bit-identical cosine
    va = s.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        norm(F.col("_v")).alias("_na"),
    )
    vb = s.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        norm(F.col("_v")).alias("_nb"),
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot(F.col("_va"), F.col("_vb"))
             / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    vecs: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int | str = 16,
    cap: int | None = None,
    on_overflow: str = "truncate",
    centroids: list | None = None,
    verify: str = "pandas",
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023 — "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): coarse-
    cluster the embedding space, detect cosine-duplicate pairs WITHIN
    each cluster only, and drop every id that duplicates a smaller-id
    representative.  Output: one row per input id —
    (id, list_id, keep, dup_of, score) where ``dup_of`` is the
    smallest same-cluster id it duplicates (null when kept) and
    ``score`` the cosine to that representative.  The greedy by-id
    rule is deterministic; like the paper, duplicates of a dropped id
    stay dropped (one representative survives per duplicate chain).

    Scale shape: clustering is a map stage against ``nlist`` broadcast
    centroid literals (similarity.ivf_centroids — only ~nlist rows
    ever reach the driver); the within-cluster restriction is the
    LSH-bucket trick with clusters as buckets, so candidate pairs ride
    the shared capped `_bucket_pairs` contract (a hot cluster raises
    under ``on_overflow='error'`` instead of going quadratic), and the
    exact-cosine verify joins fetch vectors for candidate pairs only.
    Compare ``embedding_near_dups`` (hyperplane-LSH buckets): same
    candidate discipline, different bucketing geometry.

    ``nlist='auto'`` sizes the cluster count to the corpus the way the
    paper does (k grows with n): one count job, then
    ``ceil(n / 256)`` clusters (min 16) — ~256 members on AVERAGE,
    with candidate pairs linear in n (n x 256 / 2) instead of
    quadratic.  A fixed nlist stops scaling: cluster membership grows
    with the corpus until it trips the cap.  k-means sizes are skewed
    in practice (the 64x sweep measured clusters >4x the target), so
    the matmul verify's default cap (``_CLUSTER_CAP``, 65536) sits
    far above the mean: its scoring is row-blocked — memory stays
    ~32 MB per task at ANY cluster size — and the cap only fences the
    flops of a genuinely degenerate clustering (e.g. a near-constant
    corpus).  The pair-join verify keeps the tight ``_BUCKET_CAP``.

    ``verify='pandas'`` (default) computes each cluster's cosine
    matrix as ONE normalized matmul in an applyInPandas group — the
    paper's per-cluster shape.  Every vector crosses the wire once
    (one linear shuffle to its cluster); the candidate-PAIR join form
    re-shuffles both sides' vector payloads ~cluster_size times per
    vector and its interpreted per-pair dot was the whole pass's
    bottleneck (measured 4.5x slower at 16x the sf0.1 volume).
    ``verify='expr'`` keeps that pure-Catalyst pair form for SQL-twin
    bit-exactness (numpy pairwise summation can differ in the last
    ulp).  Cluster assignment is the paper's nearest-centroid argmax,
    but computed through a two-level coarse quantizer once nlist
    reaches 128 (see ``_assign_clusters_arrow``): ~sqrt(nlist)
    super-centroids route each vector to one super-cluster, then an
    exact argmax over that super-cluster's children — O(n * sqrt(k))
    instead of the flat O(n * k), so auto-nlist (k ~ n/256) no longer
    carries an O(n^2/256) assignment term.  The centroid model itself
    (nlist x dim floats, one executor-side broadcast) is the only
    thing that grows with k.
    """
    from hbase_spark.functions.similarity import ivf_centroids

    # default cap by verify mode: the matmul verify is block-bounded
    # in memory so its budget is flops (_CLUSTER_CAP); the pair-join
    # verify explodes cap^2/2 rows and keeps the tight _BUCKET_CAP
    if cap is None:
        cap = _CLUSTER_CAP if verify == "pandas" else _BUCKET_CAP
    n = None
    if nlist == "auto":
        n = vecs.count()
        nlist = max(16, -(-n // 256))
    if centroids is None:
        # share the auto-nlist count with the centroid sampler — one
        # count job, not two identical ones over the same scan
        centroids = ivf_centroids(
            vecs, vec_col=vec_col, id_col=id_col, nlist=nlist, n=n
        )
    # The assignment feeds FOUR consumers (bucket pairs, both sides of
    # the candidate-vector fetch, the final keep join); checkpointing
    # materializes the Arrow-batched matmul + upstream scan once
    # instead of four times.  Same lifecycle pattern as the fused
    # minhash path; the paper's pipeline materializes cluster
    # assignments too — (id, vec, list_id) is corpus-sized but spills
    # (MEMORY_AND_DISK), never OOMs.
    assigned = materialize(_assign_clusters_arrow(
        vecs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        centroids,
    ))
    from hbase_spark.functions.similarity import dot, norm

    if verify == "pandas":
        # the paper's actual within-cluster shape: each vector travels
        # to its cluster ONCE (one linear shuffle), and the cluster's
        # cosine matrix is one normalized matmul per group — the
        # pairs-join form re-shuffles BOTH side's vector payloads per
        # candidate pair (~cluster_size copies of every vector)
        rep = _cluster_reps_arrow(
            assigned, threshold=threshold, cap=cap, on_overflow=on_overflow
        )
    else:
        # pure-Catalyst pair verify: bit-exact against a sequential-
        # fold SQL twin.  Norms hoisted to once per SIDE row (the
        # interpreted higher-order eval is the cost); the per-pair dot
        # keeps its summation order so the cosine is bit-identical to
        # cosine(_va, _vb)
        pairs = _bucket_pairs(
            assigned, "list_id", cap=cap, on_overflow=on_overflow
        )
        joined = (
            pairs.join(
                assigned.select(
                    F.col("_id").alias("id_a"),
                    F.col("_v").alias("_va"),
                    norm(F.col("_v")).alias("_na"),
                ),
                "id_a",
            )
            .join(
                assigned.select(
                    F.col("_id").alias("id_b"),
                    F.col("_v").alias("_vb"),
                    norm(F.col("_v")).alias("_nb"),
                ),
                "id_b",
            )
        )
        cos = dot(F.col("_va"), F.col("_vb")) / (
            F.col("_na") * F.col("_nb")
        )
        dups = (
            joined.select("id_a", "id_b", cos.alias("_cos"))
            .filter(F.col("_cos") >= threshold)
        )
        rep = (
            dups.groupBy(F.col("id_b").alias("_id"))
            .agg(F.min(F.struct("id_a", "_cos")).alias("_m"))
            .select(
                "_id",
                F.col("_m.id_a").alias("dup_of"),
                F.col("_m._cos").alias("score"),
            )
        )
    return (
        assigned.select("_id", "list_id")
        .join(rep, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "list_id",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
            "score",
        )
    )


def _cluster_reps_arrow(
    assigned: DataFrame, *, threshold: float, cap: int, on_overflow: str
) -> DataFrame:
    """Within-cluster duplicate representatives — the paper's actual
    per-cluster shape: group (_id, _v) by list_id (each vector crosses
    the wire ONCE), compute the cluster's cosine matrix as a single
    normalized matmul, and emit (member, dup_of, score) for every
    member whose cosine to some smaller-id member reaches the
    threshold (dup_of = the SMALLEST such id, the greedy by-id rule).

    The skew cap mirrors ``_capped_groups``: a cluster beyond ``cap``
    members raises under ``on_overflow='error'`` or keeps the sorted
    capped prefix.  A cluster is one task, but its memory is BLOCK
    bounded (the scoring loop never materializes the m x m matrix),
    so the cap's budget is flops per task — which is why
    ``semantic_dedup`` defaults it to ``_CLUSTER_CAP`` here and to
    the much tighter ``_BUCKET_CAP`` for the pair-exploding verify.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    # _id / dup_of inherit the caller's id type (string keys worked in
    # the expression path and must keep working here)
    id_type = assigned.schema["_id"].dataType
    schema = T.StructType(
        [
            T.StructField("_id", id_type),
            T.StructField("dup_of", id_type),
            T.StructField("score", T.DoubleType()),
        ]
    )
    thr = float(threshold)
    c = int(cap)
    err = on_overflow == "error"

    def _fn(key, pdf):
        empty = {
            "_id": pdf["_id"][:0],
            "dup_of": pdf["_id"][:0],
            "score": pd.Series([], dtype="float64"),
        }
        if len(pdf) > c:
            if err:
                raise ValueError(f"LSH bucket over skew cap {c}: {key[0]}")
            pdf = pdf.sort_values("_id").head(c)
        else:
            pdf = pdf.sort_values("_id")
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        ids = pdf["_id"].to_numpy()
        V = np.asarray(pdf["_v"].tolist(), dtype="float64")
        Vn = V / np.maximum(
            np.linalg.norm(V, axis=1, keepdims=True), 1e-12
        )
        m = len(ids)
        # Row-blocked scoring: a skewed cluster's full m x m cosine
        # matrix is the only O(m^2) MEMORY in this path, so score in
        # blocks of B rows (B*m <= ~4M doubles, 32 MB) — flops stay
        # m^2 (the cap's budget) but no task ever holds the square.
        # Blocks ascend by row index and ids are sorted, so the FIRST
        # block hitting column j holds the smallest qualifying id.
        B = max(32, 4_000_000 // m)
        best = np.full(m, -1, dtype="int64")
        score = np.zeros(m, dtype="float64")
        for s in range(0, m, B):
            e = min(s + B, m)
            S = Vn[s:e] @ Vn.T  # (B, m)
            hit = (S >= thr) & (
                np.arange(s, e)[:, None] < np.arange(m)[None, :]
            )
            cols = np.nonzero(hit.any(axis=0) & (best < 0))[0]
            if cols.size:
                first = hit[:, cols].argmax(axis=0)
                best[cols] = s + first
                score[cols] = S[first, cols]
        js = np.nonzero(best >= 0)[0]
        if not js.size:
            return pd.DataFrame(empty)
        return pd.DataFrame(
            {
                "_id": ids[js],
                "dup_of": ids[best[js]],
                "score": score[js],
            }
        )

    return assigned.groupBy("list_id").applyInPandas(_fn, schema)


# Auto-switch to the two-level quantizer from this nlist up: at 128
# centroids the split (~11 supers + ~12 children) already does ~5x
# fewer flops per vector, and the per-batch numpy group loop is
# amortized over whole Arrow batches.  Below it, flat wins on
# simplicity and the cost difference is noise.
_TWO_LEVEL_NLIST = 128


def _super_centroids(Cn, nsuper: int, *, iters: int = 4):
    """Driver-side spherical k-means over the (normalized) centroid
    matrix itself: nsuper super-centroids plus each super-cluster's
    child index list.  Deterministic by construction — strided init
    over the centroid order, argmax ties to the first index — so the
    two-level assignment below is as reproducible as the flat one.
    Cost is O(nlist * nsuper * iters) numpy flops on the driver
    (~1e9 at nlist 64k / nsuper 256), bounded by model size, never by
    the corpus."""
    import numpy as np

    init = np.unique(
        np.linspace(0, len(Cn) - 1, nsuper).round().astype("int64")
    )
    S = Cn[init]
    a = (Cn @ S.T).argmax(axis=1)
    for _ in range(int(iters)):
        newS = np.empty_like(S)
        for j in range(len(S)):
            m = a == j
            newS[j] = Cn[m].mean(axis=0) if m.any() else S[j]
        S = newS / np.maximum(
            np.linalg.norm(newS, axis=1, keepdims=True), 1e-12
        )
        a = (Cn @ S.T).argmax(axis=1)
    children = [np.nonzero(a == j)[0] for j in range(len(S))]
    # a dead super-cluster (no children) must not be argmax-eligible —
    # a vector routed there would have no child to pick
    live = [j for j, ch in enumerate(children) if len(ch)]
    return S[live], [children[j] for j in live]


def _assign_clusters_arrow(
    vecs: DataFrame, centroids: list, *, two_level: bool | None = None
) -> DataFrame:
    """Nearest-centroid assignment as ONE numpy matmul per Arrow batch
    — input (_id, _v), output adds ``list_id``.

    similarity.ivf_assign expresses the same argmax as a Catalyst
    array-of-structs max, which is fine for a probe-time nprobe
    ranking but quadratic in expression size for dedup-scale nlist
    (64 centroids x 64 dims = thousands of expression nodes per row);
    here the centroid matrix ships once per executor as a Spark
    broadcast and each batch is a (rows x dim) @ (dim x nlist)
    product.  Ties (identical vectors) break to the first max index —
    deterministic, so clones always co-assign.

    ``two_level`` (default: auto at nlist >= 128) switches to the
    hierarchical coarse quantizer the IVF literature uses (inverted
    multi-index family): ~sqrt(nlist) super-centroids first, then an
    exact argmax over only the winning super-cluster's children.
    Per-vector cost drops from O(nlist) to O(sqrt(nlist) +
    max_child_count) — with auto-nlist (k ~ n/256) that turns the
    paper-faithful assignment from O(n^2/256) into O(n^1.5/16), the
    difference between SemDeDup finishing and not at 100 TB.  The
    two-level argmax is the standard IVF approximation: a borderline
    vector may land in the runner-up coarse cluster, which is within
    SemDeDup's own approximate-clustering contract (the cluster set
    is already a sampled k-means); identical vectors still always
    co-assign, so clone recall is unaffected."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    C = np.asarray([c for _, c in centroids], dtype="float64")
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    ids = np.asarray([i for i, _ in centroids])
    if two_level is None:
        two_level = len(Cn) >= _TWO_LEVEL_NLIST
    if two_level:
        nsuper = max(2, int(round(len(Cn) ** 0.5)))
        Sn, children = _super_centroids(Cn, nsuper)
    else:
        Sn, children = None, None

    # the model can be hundreds of MB at real (nlist x dim) — ship it
    # once per executor, not once per task in the closure.  Lifetime:
    # the Broadcast handle lives only in this UDF's closure, so when
    # the returned frame is dropped the handle becomes unreachable and
    # Spark's ContextCleaner reclaims the blocks — per-frame, not
    # session-lifetime, retention.
    bc = vecs.sparkSession.sparkContext.broadcast(
        (ids, Cn, Sn, children)
    )

    schema = T.StructType(
        list(vecs.schema.fields)
        + [T.StructField("list_id", T.IntegerType(), False)]
    )

    def _assign(batches):
        ids_, Cn_, Sn_, children_ = bc.value
        for pdf in batches:
            if len(pdf):
                V = np.asarray(pdf["_v"].to_list(), dtype="float64")
                Vn = V / np.maximum(
                    np.linalg.norm(V, axis=1, keepdims=True), 1e-12
                )
                if Sn_ is None:
                    best = (Vn @ Cn_.T).argmax(axis=1)
                else:
                    sup = (Vn @ Sn_.T).argmax(axis=1)
                    best = np.empty(len(Vn), dtype="int64")
                    for s in np.unique(sup):
                        m = sup == s
                        ch = children_[s]
                        best[m] = ch[(Vn[m] @ Cn_[ch].T).argmax(axis=1)]
                pdf = pdf.assign(list_id=ids_[best].astype("int32"))
            else:
                pdf = pdf.assign(list_id=pd.Series([], dtype="int32"))
            yield pdf

    return vecs.mapInPandas(_assign, schema)


def lsh_params(
    threshold: float,
    num_hashes: int = 128,
    *,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Choose the (bands, rows-per-band) banding for ``minhash_pairs``
    / ``minhash_dedup`` that minimizes the weighted false-positive +
    false-negative probability mass around a Jaccard ``threshold`` —
    the standard MinHashLSH parameter search (MMDS ch. 3; the same
    integral-grid optimization the public datasketch library uses).

    For banding (b, r), the candidate probability at similarity s is
    ``1 - (1 - s^r)^b``; FP mass integrates that below the threshold,
    FN mass integrates its complement above.  Returns (bands, rows)
    with ``bands * rows <= num_hashes``.  Pure driver-side arithmetic
    over at most num_hashes candidate pairs — nothing touches data.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    steps = 1000
    dx = 1.0 / steps
    best, best_err = None, None
    for b in range(1, num_hashes + 1):
        max_r = num_hashes // b
        for r in range(1, max_r + 1):
            fp = sum(
                1.0 - (1.0 - (i * dx) ** r) ** b
                for i in range(int(threshold * steps))
            ) * dx
            fn = sum(
                (1.0 - ((i * dx) ** r)) ** b
                for i in range(int(threshold * steps), steps)
            ) * dx
            err = fp_weight * fp + fn_weight * fn
            if best_err is None or err < best_err:
                best, best_err = (b, r), err
    return best
