"""Statistical language-model operators for corpus curation.

Three classic, fully-distributable models that published pretraining
pipelines run at corpus scale, expressed as pure DataFrame plans:

- **Bigram LM perplexity filtering** (the CC-Net recipe, Wenzek et
  al. 2020: score every crawled document with an n-gram LM trained on
  a trusted reference corpus, then keep/bucket by perplexity).  The
  reference pipeline uses a KenLM 5-gram; the distributable analog
  here is an add-k-smoothed bigram model whose training is one
  map-side-combinable hash-agg over gram hashes and whose scoring is
  two hash-joins — no model file, no Python in the hot path.

- **Multinomial Naive Bayes text classification** (the
  "Wikipedia-like" quality / language classifier slot of the GPT-3 and
  CC-Net pipelines).  Training is two hash-aggs (class priors,
  word-class counts); scoring is a broadcast of the class list, one
  join against the count table, and an argmax — all counts integer,
  all smoothing add-k, so a SQL oracle can reproduce every decision.

- **General n-gram LM with stupid backoff** (Brants et al. 2007,
  "Large Language Models in Machine Translation" — the
  MapReduce-scale LM recipe: no context-dependent normalization, so
  training is one count-agg per order and scoring is pure lookups
  with a fixed alpha penalty per backed-off order).

Scale shape (100 TB posture): tokens and grams travel as 8-byte
xxhash64 values — document text is tokenized in a map stage and never
crosses an exchange.  The trained "models" are count DataFrames
(vocab-bounded aggregates, not corpus-sized), so they behave like
dimension tables: Spark broadcasts them when small and shuffle-joins
on the hash key when not.  Scoring never collects anything to the
driver; scalar statistics (vocab size, class totals) ride along as
1-row/¦classes¦-row frames cross-joined into the plan.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_spark.sources.tables import materialize

from .text import _ascii_tokens


def _tok_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) pairs, one row per token OCCURRENCE, tokenized
    map-side with the portable ASCII tokenizer shared by every oracle.
    Two projection stages so the split materializes once (the
    O(tokens^2) re-split trap documented in text.duplicate_ngram_stats).
    """
    base = docs.select(F.col(id_col), _ascii_tokens(text_col).alias("_t"))
    return base.select(id_col, F.explode("_t").alias("_w"))


# --------------------------------------------------------------------
# Bigram LM (CC-Net-style perplexity filtering)
# --------------------------------------------------------------------


@dataclass
class BigramLM:
    """A trained add-k bigram model: three count frames.

    ``unigrams`` — (w1 hash, c1) context counts; ``bigrams`` —
    (bigram hash, c12); ``stats`` — a single row (vocab_size,
    n_tokens).  All aggregates: the model's size is bounded by the
    reference-corpus vocabulary, never by the scored corpus.
    """

    unigrams: DataFrame
    bigrams: DataFrame
    stats: DataFrame
    add_k: float = 1.0


def train_bigram_lm(
    ref_docs: DataFrame,
    *,
    text_col: str = "text",
    add_k: float = 1.0,
) -> BigramLM:
    """Train the bigram LM on a reference corpus (CC-Net trains one
    LM per language on Wikipedia; pass the trusted subset here).

    ONE tokenize pass for both orders (optimization guide §1.2: the
    separate unigram and bigram aggregations each re-scanned and
    re-tokenized the reference corpus): every token contributes an
    order-1 gram hash and every adjacent pair an order-2 hash to a
    single tagged explode, one combined hash-agg counts them, and the
    per-order count frames are filters over the materialized
    result — which is vocabulary-bounded, never corpus-sized, so the
    materialization is the model itself.  Only (order, hash, count)
    rows shuffle.
    """
    base = ref_docs.select(_ascii_tokens(text_col).alias("_t"))
    tagged = F.concat(
        F.transform(
            F.col("_t"),
            lambda w: F.struct(
                F.lit(1).alias("_k"), F.xxhash64(w).alias("_h")
            ),
        ),
        F.when(
            F.size("_t") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - 1),
                lambda i: F.struct(
                    F.lit(2).alias("_k"),
                    # multi-arg xxhash64 — no gram-string allocation;
                    # must stay consistent with lm_score's h12
                    F.xxhash64(
                        F.element_at("_t", i), F.element_at("_t", i + 1)
                    ).alias("_h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<_k:int,_h:long>>")),
    )
    counts = materialize(
        base.select(F.explode(tagged).alias("_g"))
        .groupBy(F.col("_g._k").alias("_k"), F.col("_g._h").alias("_h"))
        .agg(F.count("*").alias("_c"))
    )
    uni = counts.filter(F.col("_k") == 1).select(
        F.col("_h").alias("h1"), F.col("_c").alias("c1")
    )
    bi = counts.filter(F.col("_k") == 2).select(
        F.col("_h").alias("h12"), F.col("_c").alias("c12")
    )
    stats = uni.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("c1").cast("long").alias("n_tokens"),
    )
    return BigramLM(unigrams=uni, bigrams=bi, stats=stats, add_k=add_k)


def lm_score(
    docs: DataFrame,
    lm: BigramLM,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against the trained LM — the CC-Net filtering
    signal.  Per document:

    - ``n_bigrams`` — scored positions (token count - 1; 0 for docs
      shorter than 2 tokens, which get NULL perplexity),
    - ``n_oov_bigrams`` — positions whose bigram the reference corpus
      never saw (integer, exact),
    - ``sum_c12`` / ``sum_c1`` — total matched bigram / context mass
      (integers, exact — these pin the training counts and the join),
    - ``log_ppl`` — add-k perplexity in log space:
      ``-avg log p(w2|w1)`` with
      ``p = (c12 + k) / (c1 + k * vocab_size)``,
    - ``ppl = exp(log_ppl)``.

    Plan: explode positions map-side, two left hash-joins on 8-byte
    gram hashes, one hash-agg back to documents, scalar stats
    cross-joined (1-row broadcast).  Nothing collects to the driver.
    """
    base = docs.select(F.col(id_col), _ascii_tokens(text_col).alias("_t"))
    pos = base.select(
        id_col,
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - 1),
                    lambda i: F.struct(
                        # multi-arg xxhash64, consistent with training
                        F.xxhash64(
                            F.element_at("_t", i), F.element_at("_t", i + 1)
                        ).alias("h12"),
                        F.xxhash64(F.element_at("_t", i)).alias("h1"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<h12:long,h1:long>>"))
        ).alias("_p"),
    ).select(id_col, F.col("_p.h12").alias("h12"), F.col("_p.h1").alias("h1"))
    joined = (
        pos.join(lm.bigrams, "h12", "left")
        .join(lm.unigrams, "h1", "left")
        .select(
            id_col,
            F.coalesce("c12", F.lit(0)).alias("c12"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
        )
    )
    k = float(lm.add_k)
    stats = lm.stats.select("vocab_size")
    scored = (
        joined.crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum((F.col("c12") == 0).cast("long")).alias("n_oov_bigrams"),
            F.sum("c12").cast("long").alias("sum_c12"),
            F.sum("c1").cast("long").alias("sum_c1"),
            F.sum(
                F.log(F.col("c12") + F.lit(k))
                - F.log(F.col("c1") + F.lit(k) * F.col("vocab_size"))
            ).alias("_sum_logp"),
        )
    )
    out = docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("n_oov_bigrams", F.lit(0)).cast("long").alias(
            "n_oov_bigrams"
        ),
        F.coalesce("sum_c12", F.lit(0)).cast("long").alias("sum_c12"),
        F.coalesce("sum_c1", F.lit(0)).cast("long").alias("sum_c1"),
        (-F.col("_sum_logp") / F.col("n_bigrams")).alias("log_ppl"),
    )
    return out.withColumn("ppl", F.exp("log_ppl"))


def perplexity_bucket(
    scored: DataFrame,
    *,
    head: float,
    tail: float,
    col: str = "log_ppl",
) -> DataFrame:
    """CC-Net's head/middle/tail split at fixed log-perplexity
    thresholds (the paper derives them as percentiles of the scored
    reference distribution; pass those numbers in — recomputing
    percentiles inline would make the output depend on approximate
    quantile internals).  NULL (too-short docs) buckets as 'tail'.
    """
    c = F.col(col)
    return scored.withColumn(
        "ppl_bucket",
        F.when(c.isNull(), "tail")
        .when(c <= F.lit(head), "head")
        .when(c <= F.lit(tail), "middle")
        .otherwise("tail"),
    )


# --------------------------------------------------------------------
# Multinomial Naive Bayes (quality / language classifier)
# --------------------------------------------------------------------


@dataclass
class NaiveBayesModel:
    """Count frames of a trained multinomial NB classifier.

    ``classes`` — (label, n_docs, n_tokens) priors + class token
    totals; ``word_class`` — (word hash, label, c_wc); ``stats`` —
    1 row (vocab_size, n_docs_total).
    """

    classes: DataFrame
    word_class: DataFrame
    stats: DataFrame
    add_k: float = 1.0


def train_naive_bayes(
    docs: DataFrame,
    *,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
) -> NaiveBayesModel:
    """Train multinomial NB from labeled documents in ONE tokenize
    pass (optimization guide §1.2: the word-class counts, the class
    priors, and the vocab stat each used to re-scan and re-tokenize
    the corpus): a materialized (id, label, word-hash) occurrence
    frame — ``explode_outer`` keeps token-less documents as one
    NULL-hash row so the class priors still count them — feeds all
    three aggregates.  Only (word hash, label, count) rows shuffle;
    the model is vocab × classes aggregates, never corpus-sized.

    ``id_col`` must identify documents uniquely (the class prior is a
    distinct-count over it).
    """
    feats = materialize(
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("label"),
            _ascii_tokens(text_col).alias("_t"),
        )
        .select(
            "_id",
            "label",
            F.explode_outer(
                F.transform("_t", lambda w: F.xxhash64(w))
            ).alias("hw"),
        )
    )
    word_class = (
        feats.filter(F.col("hw").isNotNull())
        .groupBy("hw", "label")
        .agg(F.count("*").alias("c_wc"))
    )
    classes = feats.groupBy("label").agg(
        F.count_distinct("_id").cast("long").alias("n_docs"),
        F.count("hw").cast("long").alias("n_tokens"),
    )
    stats = word_class.agg(
        F.count_distinct("hw").cast("long").alias("vocab_size")
    ).crossJoin(
        classes.agg(F.sum("n_docs").cast("long").alias("n_docs_total"))
    )
    return NaiveBayesModel(
        classes=classes, word_class=word_class, stats=stats, add_k=add_k
    )


def nb_classify(
    docs: DataFrame,
    model: NaiveBayesModel,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_margin: float | None = None,
) -> DataFrame:
    """Classify documents: argmax over classes of
    ``log P(c) + sum_w log P(w|c)`` with add-k smoothing
    ``P(w|c) = (c_wc + k) / (n_tokens_c + k * vocab_size)``.

    Output: (id, pred, score, margin) — ``margin`` is the winner's
    lead in log space over the runner-up (+inf for a single class).
    ``min_margin`` arms an in-plan gate: any document whose decision
    is closer than the threshold fails the job instead of silently
    returning an engine-dependent argmax — the contract that makes the
    discrete prediction hash-checkable across engines (same pattern as
    the ANN recall gates).

    Plan: token occurrences cross-joined with the (tiny, broadcast)
    class frame, one left join on (word hash, label), hash-agg to
    (doc, class), argmax via max_by over a (score, label) struct —
    deterministic tie-break on the label, though the gate makes ties a
    failure, not a coin flip.  OOV words score k / (n_tokens_c + kV)
    like any unseen-in-class word, the standard multinomial-NB
    convention.  Token-LESS documents carry no evidence and are absent
    from the output — left-join the result back onto the corpus and
    default to the majority prior if you need total coverage.
    """
    # Aggregate to (doc, word-hash, occurrence count) BEFORE fanning
    # out over classes: the class cross-join and the word-class lookup
    # then touch each distinct word once per doc, not each occurrence —
    # sum over occurrences of log p(w) == sum over distinct words of
    # cnt * log p(w), bit-identical math on a fraction of the rows.
    tok = (
        _tok_frame(docs, id_col, text_col)
        .groupBy(id_col, F.xxhash64("_w").alias("hw"))
        .agg(F.count("*").cast("long").alias("_cnt"))
    )
    cls = model.classes.crossJoin(F.broadcast(model.stats))
    k = float(model.add_k)
    per_word = (
        tok.crossJoin(F.broadcast(cls.select("label")))
        .join(model.word_class, ["hw", "label"], "left")
        .groupBy(id_col, "label")
        .agg(
            F.sum("_cnt").cast("long").alias("n_words"),
            F.sum(
                F.col("_cnt")
                * F.log(F.coalesce("c_wc", F.lit(0)) + F.lit(k))
            ).alias("_sum_log_num"),
        )
    )
    scored = (
        per_word.join(F.broadcast(cls), "label")
        .select(
            id_col,
            "label",
            (
                F.log(F.col("n_docs") / F.col("n_docs_total"))
                + F.col("_sum_log_num")
                - F.col("n_words")
                * F.log(
                    F.col("n_tokens") + F.lit(k) * F.col("vocab_size")
                )
            ).alias("score"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.max(F.struct("score", "label")).alias("_best"),
        F.count("*").alias("_n_cls"),
        F.max("score").alias("_s1"),
        F.sort_array(F.collect_list("score"), asc=False).alias("_scores"),
    )
    out = best.select(
        id_col,
        F.col("_best.label").alias("pred"),
        F.col("_best.score").alias("score"),
        F.when(F.col("_n_cls") > 1, F.col("_s1") - F.element_at("_scores", 2))
        .otherwise(F.lit(float("inf")))
        .alias("margin"),
    )
    if min_margin is not None:
        out = out.select(
            id_col,
            F.when(
                F.col("margin") < F.lit(float(min_margin)),
                F.raise_error(
                    F.concat(
                        F.lit("nb_classify margin below gate: "),
                        F.col("margin").cast("string"),
                    )
                ),
            )
            .otherwise(F.col("pred"))
            .alias("pred"),
            "score",
            "margin",
        )
    return out


# --------------------------------------------------------------------
# General n-gram LM with stupid backoff (Brants et al. 2007)
# --------------------------------------------------------------------


@dataclass
class NgramLM:
    """Counts for orders 1..n: ``orders[k]`` is a (hash-of-k-words
    gram, count) frame; ``stats`` one row (vocab_size, n_tokens).
    Like BigramLM, every frame is a vocabulary-bounded aggregate —
    the model behaves like a set of dimension tables.
    """

    n: int
    orders: dict[int, DataFrame]
    stats: DataFrame


def _gram_strings(toks: Column, k: int) -> Column:
    """Array of every k-token window of ``toks`` as "w1 .. wk" strings
    (empty when the doc is shorter than k)."""
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _gram_hashes(toks: Column, k: int) -> Column:
    """Array of one xxhash64 per k-token window of ``toks`` — the
    multi-argument form (r10, guide §2.4): hashing the k token
    elements directly skips the per-window ``slice``+``concat_ws``
    gram-string allocation the string form paid.  Internal-only hash:
    training and scoring both key on it, and every oracle recomputes
    counts from gram STRINGS, so the scheme only has to be consistent
    across the two sides (the portable DSIR/classifier buckets keep
    ``_gram_strings`` — md5 over the string IS their contract)."""
    if k == 1:
        return F.transform(toks, lambda w: F.xxhash64(w))
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.xxhash64(
                *[F.element_at(toks, i + j + 1) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _bucket(gram: Column, buckets: int, portable: bool) -> Column:
    """Feature bucket of a gram string: xxhash64 (fast, JVM-only) or
    the portable md5 scheme every SQL oracle can replay (same
    conversion as stratified_sample / RandomRowFilter)."""
    if portable:
        h = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
    else:
        h = F.xxhash64(gram)
    return F.pmod(h, F.lit(buckets)).cast("long")


def train_ngram_lm(
    ref_docs: DataFrame, *, n: int = 3, text_col: str = "text"
) -> NgramLM:
    """Count every order 1..n in ONE tokenize pass — the MapReduce
    LM-training shape of "Large Language Models in Machine
    Translation" (Brants et al., 2007).  Optimization guide §1.2: the
    per-order aggregations used to re-scan and re-tokenize the corpus
    n times; now every order's gram hashes ride one tagged explode
    into one combined hash-agg (map-side combinable; text never
    shuffles), and the per-order frames filter the materialized
    counts — vocabulary-bounded, the model itself.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    base = ref_docs.select(_ascii_tokens(text_col).alias("_t"))

    def _tag(k: int):
        # closure factory, NOT a default-arg lambda: pyspark passes the
        # array index to any two-parameter higher-order-function lambda
        return lambda h: F.struct(F.lit(k).alias("_k"), h.alias("_h"))

    tagged = F.concat(
        *[
            F.transform(_gram_hashes(F.col("_t"), k), _tag(k))
            for k in range(1, n + 1)
        ]
    )
    counts = materialize(
        base.select(F.explode(tagged).alias("_g"))
        .groupBy(F.col("_g._k").alias("_k"), F.col("_g._h").alias("_h"))
        .agg(F.count("*").cast("long").alias("_c"))
    )
    orders = {
        k: counts.filter(F.col("_k") == k).select(
            F.col("_h").alias(f"h{k}"), F.col("_c").alias(f"c{k}")
        )
        for k in range(1, n + 1)
    }
    stats = orders[1].agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("c1").cast("long").alias("n_tokens"),
    )
    return NgramLM(n=n, orders=orders, stats=stats)


def lm_score_backoff(
    docs: DataFrame,
    lm: NgramLM,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid-backoff scoring (Brants et al. 2007 §4): for each token
    position with its longest available context,

        S(w | ctx_k) = count_k+1(ctx_k . w) / count_k(ctx_k)   if seen
                     = alpha * S(w | ctx_k-1)                  else

    grounding at S(w) = count_1(w) / N, with the add-1 floor
    (1 / (N + V)) for out-of-vocabulary words so log scores stay
    finite.  The paper's point — and this implementation's — is that
    backoff needs NO context-dependent normalization, so scoring is
    pure count lookups: one left hash-join per order on an 8-byte
    gram hash, a coalesce cascade picks the longest seen order.

    Output per document: ``n_scored`` positions (every token scores —
    position i uses min(i, n-1) context words), ``n_backoffs`` (total
    orders backed off across positions, integer — pins the cascade),
    and ``avg_logs`` / ``score_ppl`` (the perplexity-style
    exp(-avg log S); S is not a normalized probability, the standard
    stupid-backoff caveat).
    """
    n = lm.n
    base = docs.select(F.col(id_col), _ascii_tokens(text_col).alias("_t"))

    # One struct per token position with the gram hash ENDING at the
    # position for every order k (null when the position has fewer
    # than k-1 context tokens before it) and the context hash for
    # every order.  Built as ONE array transform over the token array
    # and exploded (r10, guide §2.4): the old posexplode form carried
    # the full token array on every position row and built 2n-1 gram
    # STRINGS per position via slice+concat_ws; here each hash is a
    # multi-arg xxhash64 straight over the token elements (consistent
    # with _gram_hashes, which trains the count tables).
    def _g(i, k):  # gram of the k tokens ending at 0-based position i
        return F.xxhash64(
            *[F.element_at("_t", i - k + 2 + j) for j in range(k)]
        )

    def _pos_struct(i):
        fields = [
            (F.when(i >= k - 1, _g(i, k)) if k > 1 else _g(i, 1)).alias(
                f"g{k}"
            )
            for k in range(1, n + 1)
        ]
        fields += [
            F.when(i >= k - 1, _g(i - 1, k - 1)).alias(f"x{k}")
            for k in range(2, n + 1)
        ]
        return F.struct(*fields)

    pos = base.select(
        id_col,
        F.explode(
            F.when(
                F.size("_t") >= 1,
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - 1), _pos_struct
                ),
            ).otherwise(
                F.array().cast(
                    "array<struct<"
                    + ",".join(
                        [f"g{k}:bigint" for k in range(1, n + 1)]
                        + [f"x{k}:bigint" for k in range(2, n + 1)]
                    )
                    + ">>"
                )
            )
        ).alias("_p"),
    ).select(
        id_col,
        *[F.col(f"_p.g{k}").alias(f"g{k}") for k in range(1, n + 1)],
        *[F.col(f"_p.x{k}").alias(f"x{k}") for k in range(2, n + 1)],
    )
    j = pos
    for k in range(1, n + 1):
        j = j.join(
            lm.orders[k].withColumnRenamed(f"h{k}", f"g{k}"), f"g{k}", "left"
        )
    for k in range(2, n + 1):
        j = j.join(
            lm.orders[k - 1]
            .select(
                F.col(f"h{k-1}").alias(f"x{k}"),
                F.col(f"c{k-1}").alias(f"cx{k}"),
            ),
            f"x{k}",
            "left",
        )
    stats = lm.stats
    # coalesce cascade: highest seen order wins; each step down costs
    # one factor of alpha (applied below via the backoff count)
    score = None
    for k in range(n, 1, -1):
        term = F.when(
            F.col(f"c{k}").isNotNull() & F.col(f"cx{k}").isNotNull(),
            F.log(F.col(f"c{k}") / F.col(f"cx{k}")),
        )
        score = term if score is None else F.coalesce(score, term)
    # the alpha penalties: a position that fell through d orders pays
    # d * log(alpha); count the fall-throughs explicitly
    backoffs = None
    for k in range(n, 1, -1):
        # a backoff happens only when order k was AVAILABLE (enough
        # context before the position — g_k non-null) but unseen;
        # doc-start positions simply start at their longest available
        # order with no penalty (the paper scores the longest
        # available context)
        miss = (
            F.col(f"g{k}").isNotNull()
            & (F.col(f"c{k}").isNull() | F.col(f"cx{k}").isNull())
        ).cast("int")
        backoffs = miss if backoffs is None else backoffs + miss
    # a miss at order k only counts if every higher available order
    # also missed — with nested contexts that is automatic (if
    # ctx_k.w is seen, the shorter ctx_{k-1}.w inside it is seen
    # too), so the simple sum of misses equals the fall-through depth.
    unigram = F.when(
        F.col("c1").isNotNull(),
        F.log(F.col("c1") / F.col("n_tokens")),
    ).otherwise(
        F.log(F.lit(1.0) / (F.col("n_tokens") + F.col("vocab_size")))
    )
    oov = F.col("c1").isNull().cast("int")
    full = F.coalesce(score, unigram) if score is not None else unigram
    logs = full + (
        (backoffs if backoffs is not None else F.lit(0))
        * F.lit(math.log(alpha))
    )
    per_doc = (
        j.crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_scored"),
            F.sum(backoffs if backoffs is not None else F.lit(0))
            .cast("long")
            .alias("n_backoffs"),
            F.sum(oov).cast("long").alias("n_oov"),
            F.sum(logs).alias("_sum_logs"),
        )
    )
    out = docs.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
        F.coalesce("n_backoffs", F.lit(0)).cast("long").alias("n_backoffs"),
        F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
        (-F.col("_sum_logs") / F.col("n_scored")).alias("avg_logs"),
    )
    return out.withColumn("score_ppl", F.exp("avg_logs"))


# --------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023)
# --------------------------------------------------------------------


def hashed_ngram_features(
    docs: DataFrame,
    *,
    n: int = 2,
    buckets: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
    extra_cols: tuple = (),
) -> DataFrame:
    """DSIR's per-occurrence feature frame: one row per hashed n-gram
    occurrence — (id, [extra passthrough cols,] bucket).  The single
    tokenize+hash pass every DSIR input derives from: raw counts are
    ``groupBy(bucket).count()``, target counts the same over a label
    slice (pass the label through ``extra_cols``), and the per-doc
    weight sum groups by id.  ``materialize`` it when feeding all three —
    the paper's pipeline materializes hashed features once too, and
    (id, bucket) rows are about the size of the tokens themselves."""
    base = docs.select(
        F.col(id_col), *extra_cols, _ascii_tokens(text_col).alias("_t")
    )
    return base.select(
        id_col,
        *extra_cols,
        F.explode(
            F.concat(
                *[_gram_strings(F.col("_t"), k) for k in range(1, n + 1)]
            )
        ).alias("_g"),
    ).select(
        id_col, *extra_cols, _bucket(F.col("_g"), buckets, portable).alias("bucket")
    )


def hashed_ngram_counts(
    docs: DataFrame,
    *,
    n: int = 2,
    buckets: int = 10_000,
    text_col: str = "text",
    portable: bool = False,
    features: DataFrame | None = None,
) -> DataFrame:
    """DSIR's feature extractor: word n-grams (unigrams AND bigrams for
    n=2, matching the paper's unigram+bigram bag) hashed into
    ``buckets`` buckets; returns (bucket, c) counts.  One tokenize
    pass, one hash-agg; the "model" is at most ``buckets`` rows.
    ``portable=True`` buckets by the md5 scheme (slower; engine-
    portable — use it when a SQL twin must replay the weights).
    Pass a precomputed ``hashed_ngram_features`` frame (``features``)
    to skip re-tokenizing — only its ``bucket`` column is read.
    CONTRACT: the frame must have been built with the SAME
    (n, buckets, portable) as this call — bucket ids carry no
    self-description, so a mismatched frame yields silently wrong
    counts (and downstream, wrong smoothing in dsir_weights).
    """
    if features is None:
        base = docs.select(_ascii_tokens(text_col).alias("_t"))
        features = base.select(
            F.explode(
                F.concat(
                    *[_gram_strings(F.col("_t"), k) for k in range(1, n + 1)]
                )
            ).alias("_g")
        ).select(_bucket(F.col("_g"), buckets, portable).alias("bucket"))
    return features.groupBy("bucket").agg(
        F.count("*").cast("long").alias("c")
    )


def dsir_weights(
    docs: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    *,
    n: int = 2,
    buckets: int = 10_000,
    add_k: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
    features: DataFrame | None = None,
) -> DataFrame:
    """Per-document importance log-weight
    ``sum_f log p_target(f) - log p_raw(f)`` over the doc's hashed
    n-gram feature occurrences, with add-k smoothing over the bucket
    space — "Data Selection for Language Models via Importance
    Resampling" (Xie et al., 2023).  Select by weight (deterministic
    top-fraction) or resample with seeded Gumbel noise on top of it.

    Output: (id, n_features, weight).  Scale shape: both count frames
    are <= ``buckets`` rows (broadcast-able); the doc side is a map
    stage + two broadcast joins + one hash-agg; totals ride as 1-row
    broadcasts.  Docs with no features get weight NULL.  Pass a
    precomputed ``hashed_ngram_features`` frame (``features``) to skip
    re-tokenizing — with a materialized feature frame the whole DSIR
    chain tokenizes the corpus ONCE instead of three times.
    CONTRACT: the frame, the count frames, and this call must all use
    the SAME (n, buckets, portable) — the add-k smoothing divides by
    k*buckets, so a features frame bucketed differently produces
    silently skewed weights, not an error.
    """
    if features is not None:
        feats = features.select(id_col, "bucket")
    else:
        base = docs.select(F.col(id_col), _ascii_tokens(text_col).alias("_t"))
        feats = base.select(
            id_col,
            F.explode(
                F.concat(
                    *[_gram_strings(F.col("_t"), k) for k in range(1, n + 1)]
                )
            ).alias("_g"),
        ).select(id_col, _bucket(F.col("_g"), buckets, portable).alias("bucket"))
    t_tot = target_counts.agg(F.sum("c").cast("double").alias("_nt"))
    r_tot = raw_counts.agg(F.sum("c").cast("double").alias("_nr"))
    k = float(add_k)
    b = float(buckets)
    joined = (
        feats.join(
            F.broadcast(target_counts.withColumnRenamed("c", "_ct")),
            "bucket",
            "left",
        )
        .join(
            F.broadcast(raw_counts.withColumnRenamed("c", "_cr")),
            "bucket",
            "left",
        )
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
    )
    logw = (
        F.log(F.coalesce("_ct", F.lit(0)) + F.lit(k))
        - F.log(F.col("_nt") + F.lit(k * b))
        - F.log(F.coalesce("_cr", F.lit(0)) + F.lit(k))
        + F.log(F.col("_nr") + F.lit(k * b))
    )
    scored = joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_features"),
        F.sum(logw).alias("weight"),
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_features", F.lit(0)).cast("long").alias("n_features"),
        "weight",
    )


def dsir_sample(
    weighted: DataFrame,
    *,
    fraction: float,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    seed: int = 42,
    gumbel: bool = True,
) -> DataFrame:
    """Select ~``fraction`` of documents by importance weight.  With
    ``gumbel=True`` (the paper's sampling-without-replacement view):
    rank by ``weight + Gumbel(seed, id)`` where the noise is a
    DETERMINISTIC function of (seed, id) — md5-bucket uniform through
    the inverse-Gumbel transform — so the realized sample is stable
    under repartitioning and reproducible on any engine; with
    ``gumbel=False`` a pure top-fraction by weight (ties to smaller
    id).  NULL-weight docs (no features) never selected.

    The rank threshold uses percent_rank over the weight ordering —
    one window over (weight, id); at extreme scale swap for an
    approx-quantile cutoff, the same trade as perplexity_bucket.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"), F.lit(f":{seed}")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**15))
    )
    # clamp away from 0/1 so the double log stays finite
    u = F.least(F.greatest(u, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    key = (
        F.col(weight_col) + (-F.log(-F.log(u)))
        if gumbel
        else F.col(weight_col)
    )
    w = Window.orderBy(F.col("_key").desc(), F.col(id_col).asc())
    ranked = (
        weighted.filter(F.col(weight_col).isNotNull())
        .withColumn("_key", key)
        .withColumn("_pr", F.percent_rank().over(w))
    )
    return ranked.filter(F.col("_pr") < F.lit(float(fraction))).drop(
        "_key", "_pr"
    )


def lm_score_routed(
    docs: DataFrame,
    lms: dict[str, BigramLM],
    *,
    lang_col: str = "lang",
    default: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-language LM routing — the full CC-Net arrangement (one LM
    per language, each document scored by ITS language's model):
    filter + score per language, union the slices, each row tagged
    with ``lm_lang``.  Documents whose language has no LM score with
    ``lms[default]`` when given and are dropped otherwise.

    The union has one branch per LM — a handful — and each branch is
    the plain lm_score plan over its language's slice; Spark runs the
    branches independently, so this costs the same as scoring each
    slice separately, with no shuffle added by the union.
    """
    if not lms:
        raise ValueError("lms must contain at least one language model")
    if default is not None and default not in lms:
        raise ValueError("default must name a key of lms")
    parts = []
    langs = sorted(lms)
    for lang in langs:
        part = lm_score(
            docs.filter(F.col(lang_col) == lang),
            lms[lang],
            id_col=id_col,
            text_col=text_col,
        ).withColumn("lm_lang", F.lit(lang))
        parts.append(part)
    if default is not None:
        rest = docs.filter(
            ~F.col(lang_col).isin(langs) | F.col(lang_col).isNull()
        )
        parts.append(
            lm_score(
                rest, lms[default], id_col=id_col, text_col=text_col
            ).withColumn("lm_lang", F.lit(default))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def perplexity_thresholds(
    scored: DataFrame,
    *,
    col: str = "log_ppl",
    probs: tuple[float, float] = (1 / 3, 2 / 3),
    accuracy: int = 10_000,
) -> tuple[float, float]:
    """The CC-Net head/tail cut points: percentiles of a REFERENCE
    scored distribution (the paper buckets each language at its own
    33/66 perplexity percentiles).  Returns (head, tail) floats for
    ``perplexity_bucket``.  Uses percentile_approx — a fixed-size,
    map-side-combinable sketch; the cut points land within 1/accuracy
    of the exact quantile, which is noise relative to the bucket
    semantics (the paper's thresholds are themselves heuristic).
    """
    lo, hi = probs
    if not 0 < lo < hi < 1:
        raise ValueError("probs must satisfy 0 < lo < hi < 1")
    row = scored.filter(F.col(col).isNotNull()).agg(
        F.percentile_approx(col, F.lit(float(lo)), F.lit(accuracy)).alias("_l"),
        F.percentile_approx(col, F.lit(float(hi)), F.lit(accuracy)).alias("_h"),
    ).first()
    return float(row["_l"]), float(row["_h"])
