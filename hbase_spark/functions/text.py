"""Text-analysis operators for large-scale training-data pipelines.

These extend the engine beyond the reference's KV surface (SURVEY.md
§7.2 phase 6): language ID, quality scoring, token counting and
document fingerprinting over a ``text`` column.  Everything here is
built from JVM-side pyspark.sql.functions (no Python in the hot path),
so the operators stay inside whole-stage codegen and scale linearly —
at 100 TB they are a single map stage with no shuffle.
"""

from __future__ import annotations

import functools as _functools
import re as _re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_spark.sources.tables import materialize


def _memo_expr(fn):
    """Memoize a pure expression BUILDER on hashable arguments.

    The big rule batteries here (language-ID marker/script trees, the
    C4 line rules) are constants of the library parameterized only by
    a column NAME, yet each build pays 0.07-0.17 s of py4j round-trips
    constructing the same unresolved expression tree (measured at r11;
    the tree for ``lang_id`` alone was an entire bench arm's
    construction cost).  Column objects wrap immutable unresolved JVM
    expressions, so one instance is safely shared across any number of
    DataFrames and queries in the process.  Builders called with a
    Column (or any unhashable) argument are never cached — only
    name-string forms, whose output cannot depend on caller state.

    Bound: one entry per distinct hashable argument tuple.  The
    library's call sites pass column-name strings, the ``default``
    label and the C4 bad-word tuple, so a process holds a handful of
    entries per builder; only a caller inventing a fresh column name
    per call grows it, by one small expression tree each.
    """

    cache: dict = {}

    @_functools.wraps(fn)
    def wrapper(*args, **kwargs):
        key = (args, tuple(sorted(kwargs.items())))
        try:
            hash(key)
        except TypeError:
            return fn(*args, **kwargs)
        got = cache.get(key)
        if got is None:
            got = fn(*args, **kwargs)
            cache[key] = got
        return got

    return wrapper

# Tiny per-language marker-word sets for the n-gram/stopword heuristic.
# Deliberately small and public-knowledge (top function words).  The
# post-r6 additions (pt/nl/pl/tr) favor DISTINCTIVE function words over
# raw frequency — 'a'/'de'/'is' style collisions with English and the
# original five would make short-doc argmax ties routing noise.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "que", "por"],
    "it": ["il", "la", "che", "di", "e", "un", "una", "per", "con", "sono"],
    "pt": ["não", "uma", "para", "com", "mais", "como", "dos", "das", "ele", "você"],
    "nl": ["het", "een", "niet", "ook", "maar", "voor", "zijn", "wordt", "naar", "heeft"],
    "pl": ["się", "nie", "jest", "aby", "tylko", "przez", "jak", "ale", "tego", "bardzo"],
    "tr": ["bir", "için", "çok", "daha", "gibi", "ama", "değil", "olarak", "sonra", "kadar"],
}

# Unicode-script routing for languages a Latin marker table can never
# see (CJK has no word separators; Cyrillic/Arabic/Indic words never
# intersect an ASCII marker list).  Keys are the lang code, values the
# Java regex script class (the DuckDB/RE2 twin spells it \p{Name}).
# Han is handled separately: kana present -> 'ja', else 'zh'.
_SCRIPT_CLASSES = {
    "ru": "IsCyrillic",
    "ar": "IsArabic",
    "hi": "IsDevanagari",
    "ko": "IsHangul",
    "el": "IsGreek",
    "he": "IsHebrew",
    "th": "IsThai",
}

_WORD_SPLIT = r"[^\p{L}\p{N}]+"  # unicode letters/digits


def tokens(col: str | Column = "text") -> Column:
    """Whitespace/punctuation tokenization into an array of words."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), _WORD_SPLIT), lambda t: t != "")


def token_count(col: str | Column = "text") -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


_BPE_RE = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]"


def bpe_ish_token_count(col: str | Column = "text") -> Column:
    """A BPE-flavored count: splits letters / digits / punctuation into
    separate tokens plus a length/4 subword correction — a cheap,
    deterministic proxy for tokenizer budgeting at scale."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.size(F.filter(F.split(c, r"\s+"), lambda t: t != ""))
    chars = F.length(F.regexp_replace(c, r"\s+", ""))
    # subword pieces ~ max(words, chars/4)
    return F.greatest(pieces, (chars / 4).cast("int"))


@_memo_expr
def lang_id(col: str | Column = "text", default: str = "unknown") -> Column:
    """Two-stage language ID, still one codegen map stage per row:

    1. **Script vote** — per-script letter counts via Unicode script
       regex classes.  When one script family covers the MAJORITY of
       the text's letters (2 * count > total letters), classify by
       script: Cyrillic->ru, Arabic->ar, Devanagari->hi, Hangul->ko,
       Greek->el, Hebrew->he, Thai->th, and CJK by the kana rule
       (any Hiragana/Katakana -> ja, else Han -> zh).  This is what a
       marker table can never do: CJK has no word separators to
       tokenize on, and non-Latin words never intersect an ASCII
       marker list — pre-r7 such text silently routed to 'unknown'.
    2. **Marker argmax** — otherwise the classic distinct-marker-hit
       argmax over the Latin-script tables (ties break to the
       lexicographically larger code, the array_max struct order);
       'unknown' when nothing hits.

    Mirrored expression-for-expression by the DuckDB oracle (the
    in-window `doc_language_id` hash checks the whole decision
    surface, planted non-Latin docs included).

    Expression-shape notes (all measured on the sf0.1 corpus):

    - The marker split deliberately has NO empty-string filter: a
      higher-order lambda anywhere in the tree knocks the WHOLE
      projection out of whole-stage codegen into interpreted eval
      (~4x), and '' can never match a marker, so the filter was pure
      cost.
    - Each per-script regex count is wrapped as a GATED subexpression
      (``when(non_ascii, regexp_count(...))``) and then freely
      referenced: codegen CSE hoists the wrapper once and the gate
      travels WITH it, so ASCII rows never run the regex.  What must
      never appear is a BARE count referenced twice — CSE would hoist
      the naked regex and evaluate it eagerly for every row (the
      measured 4x ASCII regression of the first cut).
    - The marker argmax folds the default in as a sentinel entry
      (score 0) so the winning struct is referenced once; this needs
      ``default`` to sort above every marker lang code, which holds
      for 'unknown' — other defaults take the two-reference form.
    - A pure-ASCII doc therefore costs: one char-class rlike + one
      tokenize + 9 array-intersects.  The script regexes never run.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks_raw = F.split(F.lower(c), _WORD_SPLIT)  # '' never matches a marker
    scored = []
    for lang, markers in _LANG_MARKERS.items():
        hits = F.size(
            F.array_intersect(toks_raw, F.array(*[F.lit(m) for m in markers]))
        )
        scored.append(F.struct(hits.alias("score"), F.lit(lang).alias("lang")))
    if all(lang < default for lang in _LANG_MARKERS):
        sentinel = F.struct(
            F.lit(0).alias("score"), F.lit(default).alias("lang")
        )
        marker_pick = F.array_max(F.array(*scored, sentinel))["lang"]
    else:
        top = F.array_max(F.array(*scored))
        marker_pick = F.when(top["score"] > 0, top["lang"]).otherwise(
            F.lit(default)
        )

    non_ascii = c.rlike(r"[^\x00-\x7F]")
    letters_g = F.when(non_ascii, F.regexp_count(c, F.lit(r"\p{L}")))
    kana_g = F.when(
        non_ascii, F.regexp_count(c, F.lit(r"[\p{IsHiragana}\p{IsKatakana}]"))
    )
    han_g = F.when(non_ascii, F.regexp_count(c, F.lit(r"\p{IsHan}")))
    # One (count, lang) struct vote per qualifying script family.
    # TWO scripts can both pass the majority test on the same doc —
    # script classes count combining marks and script digits that the
    # \p{L} denominator excludes (e.g. Hebrew letters next to
    # mark-heavy Thai) — so the winner must be the max by (count,
    # lang), which is exactly the struct max the DuckDB twin computes
    # over all scripts: the global count max qualifies whenever any
    # script does (2*smaller > letters implies 2*larger > letters),
    # so max-over-qualifying == the oracle's qualify-the-global-max.
    # Every regex count is a gated hoisted subexpression (cnt_g shape):
    # referenced twice, CSE evaluates it ONCE, and the internal
    # when(non_ascii, ...) keeps ASCII rows regex-free.
    cjk_g = han_g + kana_g
    votes = [
        F.when(
            cjk_g * 2 > letters_g,
            F.struct(
                cjk_g.alias("s"),
                F.when(kana_g > 0, F.lit("ja")).otherwise(F.lit("zh")).alias("l"),
            ),
        )
    ]
    for lang, cls in _SCRIPT_CLASSES.items():
        cnt_g = F.when(non_ascii, F.regexp_count(c, F.lit("\\p{" + cls + "}")))
        votes.append(
            F.when(
                cnt_g * 2 > letters_g,
                F.struct(cnt_g.alias("s"), F.lit(lang).alias("l")),
            )
        )
    return F.coalesce(F.array_max(F.array(*votes))["l"], marker_pick)


def quality_features(col: str | Column = "text") -> dict[str, Column]:
    """The classic cheap quality signals (length / punctuation /
    stopword ratios, mean word length, repetition)."""
    return dict(_quality_features(col))


@_memo_expr
def _quality_features(col: str | Column = "text") -> dict[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    n_chars = F.length(c)
    en_stop = F.array(*[F.lit(m) for m in _LANG_MARKERS["en"]])
    return {
        "n_chars": n_chars,
        "n_tokens": F.size(toks),
        "mean_word_len": (
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_tok
        ),
        "stopword_ratio": (
            F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t))) / n_tok
        ),
        "punct_ratio": (
            F.length(F.regexp_replace(c, r"[\p{L}\p{N}\s]", "")) / F.greatest(n_chars, F.lit(1))
        ),
        "unique_token_ratio": F.size(F.array_distinct(toks)) / n_tok,
    }


@_memo_expr
def quality_score(col: str | Column = "text") -> Column:
    """Composite [0,1] quality score from the features above.  Weights
    are heuristic; the point is a deterministic, fully JVM-side scorer
    usable as a pre-training filter at scale."""
    f = quality_features(col)
    length_ok = F.when((f["n_tokens"] >= 10) & (f["n_tokens"] <= 100_000), 1.0).otherwise(0.2)
    stop_ok = F.least(f["stopword_ratio"] * 4, F.lit(1.0))
    diversity = f["unique_token_ratio"]
    punct_pen = F.greatest(F.lit(0.0), 1 - f["punct_ratio"] * 5)
    word_ok = F.when((f["mean_word_len"] >= 2) & (f["mean_word_len"] <= 12), 1.0).otherwise(0.3)
    return (
        (length_ok * 0.25 + stop_ok * 0.2 + diversity * 0.2 + punct_pen * 0.15 + word_ok * 0.2)
    ).alias("quality")


def normalize_text(col: str | Column = "text") -> Column:
    """Canonical form for hashing: lowercase, collapse whitespace,
    strip non-alphanumerics."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), r"[^\p{L}\p{N}\s]", ""), r"\s+", " ")
    )


def fingerprint(col: str | Column = "text") -> Column:
    """64-bit content fingerprint of the normalized text (the rolling-
    hash document signature, computed as one xxhash64)."""
    return F.xxhash64(normalize_text(col))


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text analysis: id columns + lang + quality + tokens +
    fingerprint.  Single narrow map stage."""
    feats = quality_features(text_col)
    return docs.select(
        "*",
        lang_id(text_col).alias("lang_pred"),
        quality_score(text_col).alias("quality"),
        token_count(text_col).alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
        fingerprint(text_col).alias("fingerprint"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["unique_token_ratio"].alias("unique_token_ratio"),
    )


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into sliding token windows — the context-window
    chunking step of a training/RAG pipeline.

    Whitespace tokens; chunks of ``chunk_tokens`` advancing by
    ``chunk_tokens - overlap`` so consecutive chunks share ``overlap``
    tokens.  Every doc yields >= 1 chunk (short/empty docs give one,
    possibly empty, chunk).  Output: (id, chunk_id, chunk, n_tokens).

    Scale shape: one narrow map stage — split once, explode chunk ids
    from arithmetic (no per-token rows), slice the token array per
    chunk.  No shuffle, no UDF; at 100 TB this is a pure
    embarrassingly-parallel pass whose output partitioning follows the
    input.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != ""
    )
    d = docs.select(F.col(id_col), toks.alias("_toks"))
    n_chunks = F.ceil(
        F.greatest(F.size("_toks") - F.lit(overlap), F.lit(1))
        / F.lit(step)
    ).cast("int")
    d = d.withColumn("_i", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    piece = F.slice("_toks", F.col("_i") * step + 1, chunk_tokens)
    return d.select(
        F.col(id_col),
        F.col("_i").alias("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk"),
        F.size(piece).alias("n_tokens"),
    )


_ASCII_SPLIT = "[^a-z0-9]+"


def _ascii_tokens(col: str | Column) -> Column:
    """ASCII-alnum tokenization — the portable tokenizer shared with
    the dedup shingle paths and every SQL oracle (DuckDB mirrors it as
    ``regexp_split_to_array(lower(text), '[^a-z0-9]+')``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), _ASCII_SPLIT), lambda t: t != "")


def _word_ngrams(toks: Column, n: int) -> Column:
    """Word n-gram array with the shingle short-doc convention: docs
    shorter than ``n`` tokens yield one whole-doc gram (token-less
    docs the empty gram)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def repetition_features(col: str | Column = "text") -> dict[str, Column]:
    """Gopher-style repetition signals, all integers so the SQL oracle
    can match bit-for-bit: total / distinct word-2-gram counts (their
    gap is the duplicate-2-gram mass) and the frequency of the single
    most repeated token.  Everything is a pure array expression over
    one tokenization — a single map stage, no explode, no shuffle, so
    at 100 TB the filter costs one pass like the other quality scores.

    The top-token count runs over ``sort_array(tokens)`` with one
    ``aggregate`` fold (longest equal-run), avoiding the
    explode + groupBy a naive word count would need per document.
    """
    toks = _ascii_tokens(col)
    g2 = _word_ngrams(toks, 2)
    run0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def _step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            t.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return {
        "n_tokens": F.size(toks),
        "n_2grams": F.size(g2),
        "n_distinct_2grams": F.size(F.array_distinct(g2)),
        "top_token_count": F.aggregate(
            F.sort_array(toks), run0, _step, lambda acc: acc["best"]
        ),
    }


#: Gopher's required-word rule list (Rae et al. 2021, Table A1).
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(col: str | Column = "text") -> dict[str, Column]:
    """See ``_gopher_rules`` — returns a fresh dict over the memoized
    rule expressions so callers may add/remove entries freely."""
    return dict(_gopher_rules(col))


@_memo_expr
def _gopher_rules(col: str | Column = "text") -> dict[str, Column]:
    """The document-level quality rules of Gopher (Rae et al. 2021,
    Table A1) as boolean columns: word count in [50, 100k], mean word
    length in [3, 10], symbol-to-word ratio (# and ...) <= 0.1, <= 90%
    bullet-started lines, <= 30% ellipsis-ended lines, >= 80% of words
    with an alphabetic character, and >= 2 of the 8 required stop
    words.

    Every threshold compares cross-multiplied INTEGER counts
    (``10*symbols <= words`` instead of a float ratio), so the DuckDB
    twin matches bit-for-bit.  One tokenization + one line split,
    single map stage, no shuffle — same scale shape as the other
    quality scores."""
    c = F.col(col) if isinstance(col, str) else col
    toks = _ascii_tokens(c)
    n = F.size(toks).cast("long")
    chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    symbols = (
        F.regexp_count(c, F.lit("#")) + F.regexp_count(c, F.lit(r"\.\.\."))
    ).cast("long")
    lines = F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("long")
    bullets = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike("^[-*•]"))
    ).cast("long")
    ellipses = F.size(
        F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
    ).cast("long")
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS]),
        )
    )
    return {
        "word_count_ok": (n >= 50) & (n <= 100_000),
        "mean_word_len_ok": (3 * n <= chars) & (chars <= 10 * n),
        "symbol_ratio_ok": 10 * symbols <= n,
        "bullet_ratio_ok": 10 * bullets <= 9 * n_lines,
        "ellipsis_ratio_ok": 10 * ellipses <= 3 * n_lines,
        "alpha_ratio_ok": 5 * alpha >= 4 * n,
        "stop_words_ok": stop_hits >= 2,
    }


def gopher_filter(
    docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """docs + the per-rule boolean columns + ``keep`` (every rule
    passes) — keep the rule columns for loss auditing per rule, the
    way the paper reports per-filter removal rates."""
    rules = gopher_rules(text_col)
    out = docs.select("*", *[v.alias(k) for k, v in rules.items()])
    keep = F.lit(True)
    for k in rules:
        keep = keep & F.col(k)
    return out.withColumn("keep", keep)


@_memo_expr
def _c4_parts(text_col: str, bad_words: tuple) -> tuple:
    """The C4 battery's expression pieces (memoized builder — see
    ``_memo_expr``): (lines, kept, clean, n_sent, low, bad)."""
    c = F.col(text_col)
    lines = F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "")
    kept = F.filter(
        lines,
        lambda l: F.rtrim(l).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(l), r"\s+")) >= 3)
        & ~F.lower(l).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    n_sent = F.regexp_count(clean, F.lit("[.!?]"))
    low = F.lower(clean)
    # The real C4 blocklist is ~2k entries — one boolean node per entry
    # would build a 2k-node OR tree per row (janino blows past the 64KB
    # method limit long before that).  Instead the whole list costs two
    # expression nodes regardless of size: single-token entries become
    # ONE set-membership probe per token (Catalyst rewrites a large
    # `isin` to INSET, a hash-set lookup), and phrase/hyphenated
    # entries fold into ONE \Q..\E alternation regex (regex find ==
    # the substring-match semantics a token split can never express).
    singles = sorted(
        {w.lower() for w in bad_words if _re.fullmatch(r"[a-z0-9]+", w.lower())}
    )
    phrases = sorted({w.lower() for w in bad_words} - set(singles))
    bad = F.lit(False)
    if singles:
        toks = F.split(low, r"[^a-z0-9]+")
        bad = bad | F.exists(toks, lambda t: t.isin(singles))
    if phrases:
        # \Q..\E injection note: the w.lower() above already makes a
        # literal \E impossible (E lowercases to e), so this re-quote
        # guard is defense-in-depth for any future non-lowercased path,
        # not a live fix — the real protection is the lowering.
        def q(p):
            return "\\Q" + p.replace("\\E", "\\E\\\\E\\Q") + "\\E"

        bad = bad | low.rlike("|".join(q(p) for p in phrases))
    return (lines, kept, clean, n_sent, low, bad)


def c4_clean(
    docs: DataFrame,
    *,
    text_col: str = "text",
    bad_words: tuple = (),
    min_sentences: int = 5,
    out_col: str = "c4_text",
) -> DataFrame:
    """The C4 cleaning battery (Raffel et al. 2020 §2.2 — the other
    canonical web-filter set next to ``gopher_rules``): line-level
    retention then page-level drops.

    Lines are KEPT only when they end in a terminal punctuation mark
    (period / exclamation / question mark / end quote), contain at
    least 3 words, and do not mention "javascript" (the paper's
    enable-JS boilerplate rule).  Pages are then flagged when the
    cleaned text has fewer than ``min_sentences`` sentences, contains
    a curly bracket (code), the phrase "lorem ipsum" (placeholder
    text), or any word from ``bad_words`` (plug the standard blocklist
    at deployment; the default ships empty).  The paper's remaining
    step — drop all but one occurrence of any three-sentence span —
    is corpus-level, not per-page: run ``paragraph_dedup`` /
    ``remove_duplicated_substrings`` after this.

    Output: input + ``out_col`` (the line-cleaned text) + integer
    audit columns (n_lines, n_lines_kept, n_sentences) + per-rule
    booleans + ``keep``.  All rules are integer counts or substring
    tests on regex classes common to Java and RE2 — hash-checkable
    against a SQL twin.  One line split, single map stage, no shuffle.
    """
    lines, kept, clean, n_sent, low, bad = _c4_parts(
        text_col, tuple(bad_words)
    )
    out = (
        docs.withColumn("_lines", lines)
        .withColumn(out_col, clean)
        .select(
            "*",
            F.size("_lines").cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_lines_kept"),
            n_sent.cast("long").alias("n_sentences"),
            (n_sent >= min_sentences).alias("min_sentences_ok"),
            (~low.contains("{") & ~low.contains("}")).alias("no_braces"),
            (~low.contains("lorem ipsum")).alias("no_lorem_ipsum"),
            (~bad).alias("no_bad_words"),
        )
        .drop("_lines")
    )
    return out.withColumn(
        "keep",
        F.col("min_sentences_ok")
        & F.col("no_braces")
        & F.col("no_lorem_ipsum")
        & F.col("no_bad_words"),
    )


def contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per training doc, how many of its
    distinct word-``n``-grams appear anywhere in the eval corpus.
    Output: (id, n_contaminated) for every row of ``docs`` — filter
    ``n_contaminated == 0`` to keep the clean set, or keep the count
    as an audit column.

    Scale shape: the eval side reduces to a distinct-gram frame that
    is tiny relative to the corpus (benchmarks are small by
    construction), so Spark broadcasts it; the training side is a map
    stage (tokenize once, distinct grams per doc, explode) feeding a
    broadcast hash join + partially-aggregated count — the full corpus
    text is never shuffled.  An eval corpus too large to broadcast
    degrades gracefully to a shuffle join on the gram string.
    """
    # two-stage projection: materialize the token split before the gram
    # lambda reads it (see duplicate_ngram_stats — the O(tokens^2) trap)
    ev = (
        eval_docs.select(_ascii_tokens(text_col).alias("_t"))
        .select(
            F.explode(
                F.array_distinct(_word_ngrams(F.col("_t"), n))
            ).alias("_g")
        )
        .distinct()
    )
    tr = docs.select(
        F.col(id_col), _ascii_tokens(text_col).alias("_t")
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(_word_ngrams(F.col("_t"), n))
        ).alias("_g"),
    )
    hits = (
        tr.join(ev, "_g")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated", F.lit(0).cast("long")).alias(
                "n_contaminated"
            ),
        )
    )


def _md5_draw(col: Column, salt: str, mod: int = 1_000_000) -> Column:
    """First 32 bits of md5(col || salt) mod ``mod`` — the portable
    uniform draw every seeded operator shares (stratified/mixture
    sampling, FIM, shuffle sharding).  One definition keeps the Spark
    copies in lockstep; each operator's DuckDB twin replays the same
    expression."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("bigint"),
        F.lit(mod),
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    *,
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Deterministic stratified sampling: keep each row with its
    group's rate, decided by a portable md5 bucket of the id (same
    scheme as RandomRowFilter — first 32 bits of ``md5(id || seed)``
    mod 1e6), so the sample is reproducible run-to-run, stable under
    repartitioning, and verifiable against any SQL engine.  This is
    the corpus-mixing step of a training pipeline (e.g. upsample rare
    languages, downsample boilerplate sources) as one scan-stage
    predicate — no shuffle, no RNG state.
    """
    bucket = _md5_draw(F.col(id_col), str(seed))
    rate = F.lit(int(default_rate * 1_000_000))
    for g, r in sorted(rates.items()):
        rate = F.when(F.col(group_col) == g, int(r * 1_000_000)).otherwise(rate)
    return docs.filter(bucket < rate)


# PII patterns chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround; \b and (?:...) are
# common to both.  Redaction applies them in THIS dict order — the
# order is part of the contract (overlapping matches resolve the same
# way on every engine).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "credit_card": r"\b[0-9]{4}(?:[ -][0-9]{4}){3}\b",
}


def luhn_valid(digits: str | Column) -> Column:
    """Luhn checksum (ISO/IEC 7812 — the public card-number check
    digit) as a pure Column expression over a digit string: from the
    RIGHT, double every second digit (minus 9 past 9), the total must
    be divisible by 10.  Non-digit characters are ignored, so a
    card-shaped match can be passed as-is."""
    c = F.col(digits) if isinstance(digits, str) else digits
    ds = F.reverse(
        F.filter(F.split(c, ""), lambda x: x.between("0", "9"))
    )
    contrib = F.transform(
        ds,
        lambda d, i: F.when(i % 2 == 0, d.cast("int")).otherwise(
            F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9).otherwise(
                d.cast("int") * 2
            )
        ),
    )
    total = F.aggregate(contrib, F.lit(0), lambda a, x: a + x)
    return (F.size(ds) > 0) & (total % 10 == 0)


def pii_stats(
    docs: DataFrame, *, text_col: str = "text",
    types: list[str] | None = None,
    validate_luhn: bool = True,
) -> DataFrame:
    """Per-document PII match counts — the detection half of the
    standard pre-training redaction pass.  Pure column expressions:
    one scan stage, no shuffle, no Python.  Returns the input plus one
    ``pii_<type>`` long column per requested type and a ``pii_total``.

    ``credit_card`` counts only Luhn-VALID card-shaped matches
    (``validate_luhn=False`` restores the raw shape count): a 16-digit
    number with a failing check digit is an order id or a timestamp,
    not a card, and counting it would overstate the corpus's PII
    surface.  ``redact_pii`` deliberately stays shape-based — redaction
    errs toward removing anything card-LIKE."""
    types = list(PII_PATTERNS) if types is None else types
    out = docs
    for t in types:
        if t == "credit_card" and validate_luhn:
            matches = F.regexp_extract_all(
                F.col(text_col), F.lit(PII_PATTERNS[t]), 0
            )
            cnt = F.size(F.filter(matches, lambda m: luhn_valid(m)))
        else:
            cnt = F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[t]))
        # one type regardless of flags — the docstring's long contract
        out = out.withColumn(f"pii_{t}", cnt.cast("long"))
    total = None
    for t in types:
        c = F.col(f"pii_{t}")
        total = c if total is None else total + c
    return out.withColumn("pii_total", total)


def redact_pii(
    docs: DataFrame, *, text_col: str = "text",
    types: list[str] | None = None, out_col: str | None = None,
) -> DataFrame:
    """Replace every PII match with its ``[TYPE]`` tag (the redaction
    half).  Sequential ``regexp_replace`` in PII_PATTERNS order — each
    a codegen'd string expression in the same scan stage."""
    types = list(PII_PATTERNS) if types is None else types
    expr = F.col(text_col)
    for t in types:
        expr = F.regexp_replace(
            expr, PII_PATTERNS[t], f"[{t.upper()}]"
        )
    return docs.withColumn(out_col or text_col, expr)


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
    seed: int = 42,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Domain-mixture sampling with UP-sampling: weight w per group
    means every doc of that group appears floor(w) times plus once
    more with probability frac(w) — the mixture-weights step of a
    training-data pipeline (downsample boilerplate sources, repeat
    rare high-quality ones), generalizing ``stratified_sample`` (pure
    down-sampling) to w > 1.

    Deterministic: the fractional keep uses the same portable md5
    bucket as stratified_sample, so the realized mixture is stable
    under repartitioning and reproducible on any SQL engine.  Plan
    shape: one scan stage with an explode — copies materialize as rows
    with ``epoch_col`` = 0..copies-1, no shuffle, no RNG state."""
    bucket = _md5_draw(F.col(id_col), str(seed))
    whole = F.lit(int(default_weight))
    frac = F.lit(int((default_weight % 1) * 1_000_000))
    for g, w in sorted(weights.items()):
        whole = F.when(F.col(group_col) == g, int(w)).otherwise(whole)
        frac = F.when(
            F.col(group_col) == g, int(round((w % 1) * 1_000_000))
        ).otherwise(frac)
    copies = whole + F.when(bucket < frac, 1).otherwise(0)
    return (
        docs.withColumn("_copies", copies)
        .filter(F.col("_copies") >= 1)
        .withColumn(
            epoch_col,
            F.explode(F.sequence(F.lit(0), F.col("_copies") - 1)),
        )
        .drop("_copies")
    )


# Entity map shared by strip_html and its SQL twin; amp LAST so
# "&amp;lt;" decodes to "&lt;", not "<" (single-pass decode contract).
HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


def strip_html(
    docs: DataFrame, *, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """HTML → text for web-corpus cleaning: drop <script>/<style>
    blocks with their content, strip remaining tags, decode the common
    entities (single pass, HTML_ENTITIES order), collapse whitespace.
    A chain of codegen'd regexp/replace expressions in one scan stage —
    no Python, no parser dependency; the regex subset ((?s), non-greedy,
    no backrefs) behaves identically under Java regex and RE2, so the
    op is oracle-checkable.  A production stack swaps in a real parser
    at the same seam without touching the plan."""
    expr = F.col(text_col)
    expr = F.regexp_replace(expr, r"(?s)<script[^>]*>.*?</script>", " ")
    expr = F.regexp_replace(expr, r"(?s)<style[^>]*>.*?</style>", " ")
    expr = F.regexp_replace(expr, r"(?s)<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        expr = F.replace(expr, F.lit(ent), F.lit(ch))
    expr = F.trim(F.regexp_replace(expr, r"\s+", " "))
    return docs.withColumn(out_col or text_col, expr)


def extract_urls(
    docs: DataFrame, *, text_col: str = "text", out_col: str = "urls"
) -> DataFrame:
    """All http(s) URLs per document as an array column (link-graph /
    provenance extraction).  One regexp_extract_all expression."""
    return docs.withColumn(
        out_col,
        F.regexp_extract_all(
            F.col(text_col), F.lit(r"""https?://[^\s<>"']+"""), F.lit(0)
        ),
    )


#: query parameters stripped by canonical_url — pure click-tracking
#: identifiers that never change the served content.
TRACKING_PARAMS = r"utm_[a-zA-Z]+|fbclid|gclid|mc_cid|mc_eid"


def canonical_url(col) -> Column:
    """Canonical form of a URL for URL-level dedup (the CC-Net/C4-style
    pre-fetch dedup key): strip the #fragment, drop pure tracking
    parameters (TRACKING_PARAMS) and tidy the leftover separators,
    lowercase the scheme://host[:port] prefix (paths stay
    case-sensitive), drop the default port (:80 http / :443 https),
    drop a leading www., and drop a trailing slash.  A fixed chain of
    codegen'd string expressions — the rule order is part of the
    contract (each step's input is the previous step's output)."""
    u = F.trim(col if not isinstance(col, str) else F.col(col))
    u = F.regexp_replace(u, r"#.*", "")
    u = F.regexp_replace(u, "([?&])(?:" + TRACKING_PARAMS + ")=[^&]*", "$1")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    prefix = F.lower(
        F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*", 0)
    )
    rest = F.substring(u, F.length(prefix) + F.lit(1), F.length(u))
    prefix = F.regexp_replace(prefix, r"^(http://[^/?#]+):80$", "$1")
    prefix = F.regexp_replace(prefix, r"^(https://[^/?#]+):443$", "$1")
    prefix = F.regexp_replace(prefix, r"^(https?://)www\.", "$1")
    return F.regexp_replace(F.concat(prefix, rest), r"/$", "")


def url_host(col) -> Column:
    """Registrable host of a (canonical) URL — the per-domain grouping
    key of domain-mixture sampling and crawl politeness stats."""
    u = col if not isinstance(col, str) else F.col(col)
    return F.lower(F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]+)", 1))


def contamination_report(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    eval_id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """The dual of ``contamination``: per EVAL item, how many training
    documents share at least one distinct word-``n``-gram with it —
    the report that tells you WHICH benchmark items are compromised
    (and should be excluded from evaluation) rather than which
    training docs to drop.  Output: (eval id, n_hit_docs,
    n_hit_grams) for every eval row.

    Scale shape: the training side reduces to distinct (doc, gram
    hash) pairs — one tokenize pass, grams travel as xxhash64; the
    eval side is benchmark-sized and its (eval id, gram hash) frame
    broadcasts into the join, so the exchange carries hashes only and
    the training text never shuffles.
    """
    ev = eval_docs.select(
        F.col(eval_id_col).alias("_eid"), _ascii_tokens(text_col).alias("_t")
    ).select(
        "_eid",
        F.explode(
            F.array_distinct(_word_ngrams(F.col("_t"), n))
        ).alias("_g"),
    ).select("_eid", F.xxhash64("_g").alias("_gh")).distinct()
    tr = docs.select(
        F.col(id_col).alias("_tid"), _ascii_tokens(text_col).alias("_t")
    ).select(
        "_tid",
        F.explode(
            F.array_distinct(_word_ngrams(F.col("_t"), n))
        ).alias("_g"),
    ).select("_tid", F.xxhash64("_g").alias("_gh"))
    hits = (
        tr.join(F.broadcast(ev), "_gh")
        .groupBy("_eid")
        .agg(
            F.countDistinct("_tid").cast("long").alias("n_hit_docs"),
            F.countDistinct("_gh").cast("long").alias("n_hit_grams"),
        )
    )
    return (
        eval_docs.select(F.col(eval_id_col).alias("_eid"))
        .join(hits, "_eid", "left")
        .select(
            F.col("_eid").alias(eval_id_col),
            F.coalesce("n_hit_docs", F.lit(0).cast("long")).alias(
                "n_hit_docs"
            ),
            F.coalesce("n_hit_grams", F.lit(0).cast("long")).alias(
                "n_hit_grams"
            ),
        )
    )


#: common two-label public suffixes for registered_domain — the
#: high-traffic subset of the Public Suffix List; swap in the full PSL
#: as a broadcast lookup at deployment (same expression seam).
MULTI_PART_TLDS = (
    "co.uk", "ac.uk", "gov.uk", "org.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.nz", "com.sg", "com.tr", "co.za", "com.ar", "com.hk",
)


def registered_domain(col) -> Column:
    """eTLD+1 of a URL — the per-SITE grouping key (url_host keeps
    subdomains apart; blocklists, politeness budgets, and domain
    mixture weights all want blog.example.co.uk == example.co.uk).
    Last two host labels, or three when the last two are a known
    two-label public suffix (MULTI_PART_TLDS); bare hosts and IPv4
    literals pass through whole.  Pure codegen'd string expressions."""
    host = url_host(col)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1)
    )
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2),
        F.element_at(parts, -1),
    )
    return (
        F.when(host.rlike(r"^[0-9.]+$") | (n <= 2), host)
        .when(last2.isin(*MULTI_PART_TLDS), last3)
        .otherwise(last2)
    )


def domain_stats(
    docs: DataFrame, *, url_col: str = "url", text_col: str | None = "text"
) -> DataFrame:
    """Per-registered-domain corpus profile — (domain, n_docs
    [, n_chars]) — the audit table behind domain blocklists, crawl
    politeness, and per-domain mixture weights.  One map stage + one
    map-side-combinable hash-agg; text never shuffles (chars are
    counted before the exchange)."""
    d = docs.select(
        registered_domain(url_col).alias("domain"),
        *([F.length(text_col).alias("_nc")] if text_col else []),
    )
    aggs = [F.count("*").alias("n_docs")]
    if text_col:
        aggs.append(F.sum("_nc").cast("long").alias("n_chars"))
    return d.groupBy("domain").agg(*aggs)


def domain_filter(
    docs: DataFrame,
    blocklist,
    *,
    url_col: str = "url",
    keep_col: str | None = None,
) -> DataFrame:
    """Drop (or with ``keep_col=``, flag) documents whose registered
    domain is blocklisted — the opt-out / quality-blocklist pass every
    crawl pipeline runs first.  ``blocklist`` is an iterable of
    domains or a 1-column DataFrame; either way it broadcasts and the
    corpus is one scan stage (isin for a literal list, broadcast
    left-anti / left join for a frame)."""
    dom = registered_domain(url_col)
    if isinstance(blocklist, DataFrame):
        bl = F.broadcast(
            blocklist.select(
                F.lower(F.col(blocklist.columns[0])).alias("_bad")
            ).distinct()
        )
        tagged = docs.withColumn("_dom", dom).join(
            bl, F.col("_dom") == F.col("_bad"), "left"
        )
        if keep_col:
            return tagged.withColumn(
                keep_col, F.col("_bad").isNull()
            ).drop("_dom", "_bad")
        return tagged.filter(F.col("_bad").isNull()).drop("_dom", "_bad")
    bad = [d.lower() for d in blocklist]
    keep = ~dom.isin(*bad) if bad else F.lit(True)
    if keep_col:
        return docs.withColumn(keep_col, keep)
    return docs.filter(keep)


def url_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    out_col: str = "canonical_url",
) -> DataFrame:
    """URL-level exact dedup: one surviving document (minimum id) per
    canonical URL — the cheapest dedup pass of a web-corpus pipeline,
    run before any content-based stage.  Adds ``out_col`` and a
    ``keep`` flag; the group key shuffles as the canonical string's
    xxhash64 (URLs never cross an exchange), one map-side-combinable
    min aggregation + a hash join back."""
    canon = docs.withColumn(out_col, canonical_url(url_col))
    winners = (
        canon.groupBy(F.xxhash64(out_col).alias("_uh"))
        .agg(F.min(id_col).alias("_keep_id"))
    )
    return (
        canon.withColumn("_uh", F.xxhash64(out_col))
        .join(winners, "_uh")
        .withColumn("keep", F.col(id_col) == F.col("_keep_id"))
        .drop("_uh", "_keep_id")
    )


def paragraph_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    out_col: str | None = None,
) -> DataFrame:
    """Paragraph-level exact dedup across the corpus (the C4/
    RefinedWeb line-dedup pass): every duplicated paragraph survives
    only at its FIRST global occurrence — ordered by (doc id,
    position) — and is stripped everywhere else (including repeats
    inside one document); documents are reassembled in original
    paragraph order, empty if nothing survived.

    Scale shape: paragraphs shuffle as 8-byte xxhash64 keys, never
    text (collision odds negligible at corpus scale, same argument as
    the MinHash verify); the winner per hash is one min(struct) hash
    aggregation with map-side partials; reassembly is a
    collect_list/array_sort per doc — state bounded by one document's
    paragraphs, the same per-key bound as chunking.  One scan, two
    shuffles (winner agg + reassembly), no window over the corpus.
    """
    out_col = out_col or text_col
    p = docs.select(
        F.col(id_col).alias("_id"),
        # \Q...\E: sep is a literal separator (the rejoin below uses it
        # verbatim), not a regex — '||' or '.' must not explode per char
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("_pos", "_p"),
    ).withColumn("_h", F.xxhash64("_p"))
    winners = p.groupBy("_h").agg(F.min(F.struct("_id", "_pos")).alias("_w"))
    kept = (
        p.join(winners, "_h")
        .filter(
            (F.col("_w._id") == F.col("_id"))
            & (F.col("_w._pos") == F.col("_pos"))
        )
        .groupBy("_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_p"))),
                    lambda s: s["_p"],
                ),
            ).alias("_deduped")
        )
    )
    return (
        docs.join(kept, F.col(id_col) == F.col("_id"), "left")
        .withColumn(out_col, F.coalesce("_deduped", F.lit("")))
        .drop("_id", "_deduped")
    )


def pack_chunks(
    chunks: DataFrame,
    *,
    id_col: str = "doc_id",
    chunk_id_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
    shards: int = 64,
    shard_col: Column | None = None,
) -> DataFrame:
    """Sequence packing: assign chunks to fixed token-budget bins (the
    batch-packing step before training).  Greedy-by-position: within a
    shard, a running token total assigns ``pack_id = floor(pre_sum /
    budget)`` — deterministic, one window pass; a bin may overflow by
    at most one chunk (the standard streaming-packing approximation,
    which avoids the O(n^2) best-fit search).

    Scale shape: packing is per-shard (hash of the doc id, ``shards``
    of them), so the cumulative-sum window parallelizes instead of
    serializing on one global ordering; determinism is preserved
    because shard assignment and within-shard order are pure functions
    of the data.  Output adds (shard, pack_id, pack_key).
    """
    from pyspark.sql import Window

    shard = (
        shard_col
        if shard_col is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards))
    ).cast("int")
    d = chunks.withColumn("_shard", shard)
    w = (
        Window.partitionBy("_shard")
        .orderBy(id_col, chunk_id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = F.sum(tokens_col).over(w) - F.col(tokens_col)
    d = d.withColumn(
        "pack_id", F.floor(pre / F.lit(budget)).cast("int")
    )
    return d.select(
        "*",
        F.concat_ws(
            "-", F.col("_shard").cast("string"),
            F.col("pack_id").cast("string")
        ).alias("pack_key"),
    ).withColumnRenamed("_shard", "shard")


def seeded_shuffle(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    seed: int = 42,
    shards: int = 64,
) -> DataFrame:
    """Deterministic global shuffle for training export — the
    epoch-order step after chunk/pack: every row gets (shard, pos),
    a seeded permutation that is stable under repartitioning,
    reproducible across runs and engines, and different per seed (pass
    the epoch number for epoch-varied order).  Write
    ``partitionBy("shard")`` sorted by ``pos`` and the trainer reads
    shard files in pos order to consume the whole permutation.

    Shard and order both derive from the portable md5 scheme of
    ``stratified_sample``: sort key = md5(id ':' seed) hex, shard =
    first 32 bits mod ``shards``.  ``pos`` is the hash-order rank
    WITHIN the shard — one row_number window per shard, so the sort
    parallelizes ``shards``-wide instead of serializing on a global
    ordering (the reason this is not one big orderBy); a uniform hash
    balances shard sizes to ±O(sqrt(n/shards)).
    """
    from pyspark.sql import Window

    h = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    )
    shard = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(shards)
    ).cast("int")
    d = df.withColumn("_h", h).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return d.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("long")
    ).drop("_h")


def fim_transform(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate: float = 0.5,
    seed: int = 42,
    pre: str = "<|fim_prefix|>",
    suf: str = "<|fim_suffix|>",
    mid: str = "<|fim_middle|>",
    out_col: str = "fim_text",
) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022 —
    "Efficient Training of Language Models to Fill in the Middle"):
    with deterministic probability ``rate`` per document, split the
    text at two seeded character positions and emit the PSM
    arrangement ``prefix-sentinel + prefix + suffix-sentinel + suffix
    + middle-sentinel + middle``; other documents pass through
    unchanged.  Adds ``out_col`` and a boolean ``fim_applied``.

    Everything derives from the portable md5 scheme of
    ``stratified_sample`` (three independent draws: apply?, split u,
    split v), so the realized transform is stable under
    repartitioning, reproducible per (id, seed), and replayable by a
    SQL twin — the transformation the trainer sees is hash-checkable
    end to end.  Pure string expressions in one map stage; no
    shuffle, no RNG state.
    """

    def draw(tag: str) -> Column:
        return _md5_draw(F.col(id_col), f":{seed}:{tag}")

    t = F.col(text_col)
    n = F.length(t)
    apply_ = (draw("apply") < F.lit(int(rate * 1_000_000))) & (n >= 2)
    # split points in [0, n]: u = draw mod (n+1), v likewise; order them
    u = F.pmod(draw("u"), n + 1)
    v = F.pmod(draw("v"), n + 1)
    lo, hi = F.least(u, v), F.greatest(u, v)
    fim = F.concat(
        F.lit(pre), F.substring(t, F.lit(1), lo),
        F.lit(suf), F.substring(t, hi + 1, n - hi),
        F.lit(mid), F.substring(t, lo + 1, hi - lo),
    )
    return docs.withColumn(
        "fim_applied", apply_
    ).withColumn(out_col, F.when(apply_, fim).otherwise(t))


def export_shuffled(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    seed: int = 42,
    shards: int = 64,
) -> None:
    """The training-export last mile: ``seeded_shuffle`` then write —
    one parquet file per shard directory, rows physically in ``pos``
    order, so a trainer streaming shard files front-to-back consumes
    the exact seeded permutation.  ``repartition(shards, "shard")``
    puts each shard's rows in one task (one file per shard dir even
    when shards hash-collide into a partition);
    ``sortWithinPartitions`` orders them before the writer sees them.
    Re-running with the same seed reproduces the bytes; a new epoch is
    a new seed."""
    out = seeded_shuffle(df, id_col=id_col, seed=seed, shards=shards)
    (
        out.repartition(shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def duplicate_ngram_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Corpus-wide duplicate-n-gram fraction — the substring-level
    duplication measure of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2022), computed per document: of a
    document's DISTINCT word-``n``-grams, what fraction also occurs in
    at least one OTHER document.  Output:
    (id, n_grams, n_dup_grams, dup_fraction) for every input row —
    filter on ``dup_fraction`` to drop boilerplate-heavy documents, or
    keep it as an audit column.  (Document-level near-dup is MinHash's
    job, functions/dedup.py; this catches sub-document duplication —
    shared headers, license blocks, templated paragraphs — that
    whole-document similarity misses.)

    Scale shape: grams travel as 8-byte xxhash64 values, never text.
    Pass 1 is a map-side-combinable hash-agg counting documents per
    gram hash; the duplicated-gram set (count >= 2) then left-joins
    back against the per-doc gram hashes for a single roll-up — the
    join touches gram hashes only, and the corpus text is tokenized
    in a map stage, never shuffled.  The (id, hash) gram frame is
    materialized so tokenization runs ONCE instead of once per
    consuming branch (measured 2.2x at sf0.1), at the cost of ~16
    bytes/gram on executor disks.
    """
    # Two projection stages so the token split materializes once as a
    # real column before the gram transform reads it — inlining
    # _ascii_tokens into the gram lambda re-evaluates the regex split
    # per gram, the O(tokens^2) trap dedup.shingle_arrays documents.
    base = docs.select(F.col(id_col), _ascii_tokens(text_col).alias("_t"))
    grams = base.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(_word_ngrams(F.col("_t"), n))
        ).alias("_g"),
    ).select(id_col, F.xxhash64("_g").alias("_h"))
    grams = materialize(grams)
    dup = (
        grams.groupBy("_h")
        .agg(F.count("*").alias("_docs"))
        .filter(F.col("_docs") >= 2)
        .select("_h", F.lit(1).alias("_dup"))
    )
    return (
        grams.join(dup, "_h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count("_dup").cast("long").alias("n_dup_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias(
                "dup_fraction"
            ),
        )
    )


def _rotl64(c: Column, k: Column) -> Column:
    """Bit-rotate a long left by ``k`` (0..63).  Java shift counts are
    taken mod 64, so the k=0 edge degenerates to ``c | c == c``."""
    k = k.cast("int")
    return F.call_function("shiftleft", c, k).bitwiseOR(
        F.call_function("shiftrightunsigned", c, F.lit(64) - k)
    )


def _rotr64(c: Column, k: Column) -> Column:
    """Bit-rotate a long right by ``k`` (0..63)."""
    k = k.cast("int")
    return F.call_function("shiftrightunsigned", c, k).bitwiseOR(
        F.call_function("shiftleft", c, F.lit(64) - k)
    )


def _gram_hash_frames(base: DataFrame, n: int):
    """Shared gram-hashing stage of ExactSubstr: from ``base``
    (``_id``, ``_t`` token array) build the exploded token frame
    (``_id``, ``_pos``, ``_w`` [, ``_gh``]) and the gram-start frame
    (``_id``, ``_s``, ``_gh``).  Exposed as a seam so the profiling
    tool (tools/profile_exact_substr.py) times the REAL stage instead
    of a copy that could drift.  See remove_duplicated_substrings for
    the cyclic-polynomial scheme and the n > 64 fallback rationale."""
    toks = base.select(
        "_id", F.posexplode("_t").alias("_pos", "_w")
    )
    if n <= 64:
        # cyclic-polynomial rolling hash, relational form
        wcum = (
            Window.partitionBy("_id")
            .orderBy("_pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wseq = Window.partitionBy("_id").orderBy("_pos")
        px = F.bit_xor(
            _rotl64(F.xxhash64("_w"), F.pmod(F.col("_pos"), F.lit(64)))
        ).over(wcum)
        hashed = toks.withColumn("_px", px)
        gh = _rotr64(
            F.lead("_px", n - 1).over(wseq).bitwiseXOR(
                F.coalesce(F.lag("_px", 1).over(wseq), F.lit(0))
            ),
            F.pmod(F.col("_pos"), F.lit(64)),
        )
        toks = hashed.withColumn("_gh", gh).drop("_px")
        starts = toks.filter(F.col("_gh").isNotNull()).select(
            "_id", F.col("_pos").alias("_s"), "_gh"
        )
    else:
        # n > 64: hash the n-long slice of PRE-HASHED tokens per start
        # (xxhash64 accepts array<long> — structural hash over 8n
        # bytes, still never re-reading text).  Token hashes
        # materialize once in their own projection stage, like the
        # tokenizer split (the re-evaluation trap documented in
        # duplicate_ngram_stats).
        th = base.filter(F.size("_t") >= n).select(
            "_id", F.transform("_t", lambda t: F.xxhash64(t)).alias("_th")
        )
        starts = th.select(
            "_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_th") - n),
                    lambda i: F.xxhash64(F.slice("_th", i + 1, n)),
                )
            ).alias("_s", "_gh"),
        )
    return toks, starts


def remove_duplicated_substrings(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
    out_col: str | None = None,
) -> DataFrame:
    """ExactSubstr deduplication APPLIED (Lee et al. 2022 §3.1 — the
    companion to ``duplicate_ngram_stats``, which only measures): every
    maximal token run covered by a word-``n``-gram that occurs at least
    twice in the corpus (counting every occurrence, including repeats
    inside one document) is REMOVED from the text, and documents are
    rebuilt from the surviving tokens.  This is the paper's released
    tool behavior — all copies of a duplicated substring go, not all
    but one; the per-document audit columns (``n_tokens``,
    ``n_removed``) make the aggressiveness measurable.  Docs shorter
    than ``n`` tokens carry no ``n``-gram and pass through untouched.

    The paper builds a corpus suffix array; the distributable
    equivalent is gram-coverage: token position ``t`` is removed iff
    some duplicated ``n``-gram starts in ``[t-n+1, t]`` — exactly the
    positions a >=n-token repeated substring covers.

    Scale shape: grams and the duplicate set travel as 8-byte hashes
    (text never shuffles); the duplicate test is one map-side-
    combinable gram-count agg + a semi-joinable inner join on hashes;
    coverage is a per-document RANGE window over token positions
    (state bounded by one document, never the corpus); reassembly is
    the same per-doc collect_list/array_sort bound as paragraph_dedup.

    Gram hashing is O(tokens), not O(tokens x n) (round-8 verdict
    item 1 — at the paper's n=50 the old per-start concat re-read and
    re-hashed every token 50 times): each token is xxhash64'd ONCE,
    rotated by its position (cyclic-polynomial / Buzhash scheme,
    Cohen 1997), and the window hash at start ``i`` falls out of a
    per-doc prefix-XOR as
    ``rotr(PX[i+n-1] ^ PX[i-1], i mod 64)`` — two window expressions
    over the SAME (doc, pos) sort the coverage pass already needs,
    zero extra shuffles.  The scheme is position-independent (equal
    grams always collide) and collision-random for n <= 64; above 64
    tokens the in-window rotations repeat and two tokens exactly 64
    apart could swap undetected, so wider grams fall back to direct
    per-start hashing over the token-hash slice (still O(8n) bytes
    per start, not O(chars x n)).
    """
    out_col = out_col or text_col
    base = docs.select(
        F.col(id_col).alias("_id"), _ascii_tokens(text_col).alias("_t")
    )
    # Tokenize ONCE (r10): the duplicate-gram aggregation, the
    # gram-join-back, and the coverage pass each re-scanned the text
    # and re-ran the split (three parquet text scans in the plan).  The
    # materialized (id, token array) frame is computed by the first
    # consumer inside the action and the other two read it.
    # All three consumers need the FULL token set, so — unlike
    # minhash's candidates-only verify — storing beats recomputing
    # (measured at sf0.1: 1.80 → 1.68 median; checkpointing the
    # post-window starts frame instead was measured WORSE, 1.61 →
    # 1.73, because exchange/stage reuse already shares that subtree).
    base = materialize(base)
    toks, starts = _gram_hash_frames(base, n)
    dup = (
        starts.groupBy("_gh")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_gh")
    )
    dup_starts = starts.join(dup, "_gh").select(
        "_id", F.col("_s").alias("_pos"), F.lit(1).alias("_d")
    )
    w = (
        Window.partitionBy("_id")
        .orderBy("_pos")
        .rangeBetween(-(n - 1), 0)
    )
    flagged = (
        toks.drop("_gh")
        .join(dup_starts, ["_id", "_pos"], "left")
        .withColumn("_cov", F.max("_d").over(w))
    )
    rebuilt = flagged.groupBy("_id").agg(
        F.count("*").cast("long").alias("_n_tokens"),
        F.sum(F.coalesce("_cov", F.lit(0))).cast("long").alias("_n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_cov").isNull(), F.struct("_pos", "_w"))
                    )
                ),
                lambda s: s["_w"],
            ),
        ).alias("_clean"),
    )
    return (
        docs.join(rebuilt, F.col(id_col) == F.col("_id"), "left")
        .withColumn(out_col, F.coalesce("_clean", F.lit("")))
        .withColumn("n_tokens", F.coalesce("_n_tokens", F.lit(0)))
        .withColumn("n_removed", F.coalesce("_n_removed", F.lit(0)))
        .drop("_id", "_clean", "_n_tokens", "_n_removed")
    )


def temperature_weights(
    sizes: dict[str, int | float], *, alpha: float = 0.3, total: float | None = None
) -> dict[str, float]:
    """Temperature-based mixture weights from per-group corpus sizes —
    the multilingual/multi-domain sampling rule (p_i ∝ size_i^alpha,
    mBERT/XLM-R style: alpha < 1 up-weights small groups): returns the
    per-group repeat factor to feed ``mixture_sample`` so the realized
    mixture matches the tempered distribution while the total token
    budget stays at ``total`` × the corpus size (default 1.0 —
    re-mixing, not growing).

    Driver-side arithmetic over a handful of group sizes; use
    ``docs.groupBy(group_col).count()`` (a one-row-per-group collect)
    to obtain ``sizes``.
    """
    if not sizes:
        return {}
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    n = {k: float(v) for k, v in sizes.items()}
    mass = sum(n.values())
    if mass <= 0:
        raise ValueError("sizes must contain a positive total")
    tempered = {k: v**alpha for k, v in n.items()}
    z = sum(tempered.values())
    budget = (total if total is not None else 1.0) * mass
    # weight = desired rows / available rows
    return {
        k: (tempered[k] / z) * budget / n[k] if n[k] > 0 else 0.0
        for k in n
    }


def pack_token_sequences(
    enc: DataFrame,
    *,
    id_col: str = "doc_id",
    ids_col: str = "ids",
    seq_len: int = 2048,
    eos_id: int | None = None,
    pad_id: int = 0,
    drop_last: bool = True,
    shards: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Materialize the trainer's actual input: concatenate tokenized
    documents (causal-LM style — sequences cross document boundaries,
    the standard GPT packing) in a seeded deterministic order and
    slice the stream into fixed ``seq_len`` rows of token ids.  This
    is the last hop of tokenize -> pack -> shuffle -> export: the
    output rows are tensor-shaped.

    Output: (shard, seq_id, ids array<int> of length seq_len,
    n_tokens) — write ``partitionBy("shard")`` sorted by ``seq_id``
    and the loader streams shards independently.

    Plan shape: document order and shard assignment reuse the portable
    md5 scheme of ``seeded_shuffle`` (same corpus + seed -> identical
    packs on any engine); one doc-level window computes each doc's
    running token offset within its shard (doc-count rows, cheap);
    then ONE posexplode turns docs into (global_pos, id) and ONE
    hash aggregation keyed by (shard, seq_id) reassembles sorted
    fixed-length rows.  The token-level explode+shuffle is the
    unavoidable transpose from document rows to training rows and is
    strictly linear, partitioned ``shards``-wide; nothing global
    orders the corpus.  ``eos_id`` (when given) is appended to every
    document before packing — the usual document separator.
    ``drop_last`` drops each shard's trailing partial sequence (the
    trainer default); ``drop_last=False`` pads it with ``pad_id``.
    """
    from pyspark.sql import Window

    ids = F.col(ids_col)
    if eos_id is not None:
        ids = F.concat(ids, F.array(F.lit(int(eos_id))))
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(shards)
    ).cast("int")
    d = enc.select(
        F.col(id_col).alias("_id"), ids.alias("_ids"), h.alias("_h"),
        shard.alias("shard"),
    ).filter(F.size("_ids") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy("_h", "_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_off", F.sum(F.size("_ids")).over(w) - F.size("_ids"))
    tok = d.select(
        "shard",
        F.posexplode("_ids").alias("_p", "_tok"),
        (F.col("_off") + F.col("_p")).alias("_gpos"),
    )
    packed = (
        tok.groupBy(
            "shard",
            F.floor(F.col("_gpos") / F.lit(seq_len)).cast("int").alias("seq_id"),
        )
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.pmod("_gpos", F.lit(seq_len)).alias("_i"), "_tok"))
                ),
                lambda s: s["_tok"],
            ).alias("ids")
        )
    )
    full = F.size("ids") == seq_len
    # n_tokens is the REAL (pre-pad) count — the padded tail row must
    # report how many positions carry tokens, or the trainer's loss
    # mask has nothing to go on
    packed = packed.withColumn("n_tokens", F.size("ids"))
    if drop_last:
        out = packed.filter(full)
    else:
        pad = F.array_repeat(F.lit(int(pad_id)), seq_len - F.size("ids"))
        out = packed.withColumn(
            "ids", F.when(full, F.col("ids")).otherwise(F.concat("ids", pad))
        )
    return out.select("shard", "seq_id", "ids", "n_tokens")


def curation_report(
    docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """The one-call pre-training corpus audit: per predicted language,
    document / token / character volumes, the Gopher quality-gate pass
    count, and the exact-duplicate-adjusted unique count — the summary
    a data engineer reads before spending GPU-hours on a corpus (and
    the input to mixture/temperature weighting decisions).

    Output: (lang, n_docs, n_tokens, n_chars, n_quality_pass,
    n_unique_docs), one row per language.

    Scale shape: one map stage computes every per-doc signal (lang_id,
    unicode token count, Gopher booleans, an md5 content key of the
    normalized text), then ONE hash aggregation keyed by language;
    the distinct-count shuffles 16-byte content keys, never text.
    Output cardinality = languages, so the result is driver-safe at
    any corpus size."""
    from functools import reduce
    from operator import and_

    keep = reduce(and_, gopher_rules(text_col).values())
    d = docs.select(
        lang_id(text_col).alias("lang"),
        token_count(text_col).cast("long").alias("_nt"),
        F.length(text_col).cast("long").alias("_nc"),
        keep.alias("_keep"),
        F.md5(normalize_text(text_col)).alias("_nh"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.sum("_nc").alias("n_chars"),
        F.sum(F.col("_keep").cast("long")).alias("n_quality_pass"),
        F.count_distinct("_nh").alias("n_unique_docs"),
    )
