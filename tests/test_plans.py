"""Physical-plan shape guards.

Correctness tests prove WHAT is computed; these prove HOW — that the
plans keep the shapes the 100 TB design depends on.  A regression that
turns a broadcast mask join into a sort-merge join or loses parquet
pushdown still passes every value test, so we pin the plan shape here.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hbase_spark.filters import SingleColumnValueFilter
from hbase_spark.operators.mutations import make_cells
from hbase_spark.operators.resolve import resolve
from hbase_spark.sources.layout import write_table


def plan_of(df, execute: bool = True) -> str:
    # AQE replans at runtime: materialize THIS DataFrame's own query
    # execution (collect, not a writer — a writer builds a fresh one)
    # so the final adaptive plan is what we assert on.
    if execute:
        df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan prints "Final Plan" then "Initial Plan"; only the
    # final section is what actually ran.
    return plan.split("Initial Plan")[0]


def cells(spark, n=64):
    rows = [
        (str(i).zfill(6), "f", q, 1, 4, f"v{i}", i)
        for i in range(n)
        for q in ("a", "b")
    ]
    return make_cells(spark, rows)


def test_resolve_masks_via_broadcast_not_sortmerge(spark):
    rows = [(str(i).zfill(6), "f", "a", 1, 4, "v", i) for i in range(64)]
    rows += [(str(i).zfill(6), "f", "a", 2, 12, None, 100 + i) for i in range(4)]
    plan = plan_of(resolve(make_cells(spark, rows), versions=1))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scvf_plan_has_no_window(spark):
    # the essential-family rewrite must not reintroduce a row window
    flt = SingleColumnValueFilter("f", "a", "=", "v3")
    plan = plan_of(flt.post(cells(spark)))
    assert "Window" not in plan
    assert "Join" in plan


def test_range_scan_pushes_row_predicate_to_parquet(spark):
    d = tempfile.mkdtemp(prefix="hb_plan_")
    try:
        write_table(cells(spark), d, num_regions=4, by_family=False)
        back = spark.read.parquet(d)
        pruned = back.filter((F.col("row") >= "000010") & (F.col("row") < "000020"))
        plan = plan_of(pruned)
        assert "PushedFilters: [" in plan
        assert "GreaterThanOrEqual(row" in plan
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_resolve_versions1_uses_hash_agg_not_window(spark):
    plan = plan_of(resolve(cells(spark), versions=1))
    assert "Window" not in plan  # max_by hash agg with map-side combine


def test_multi_get_small_batch_pushes_in_filter(spark):
    # small key batches must reach the parquet scan as In(row, ...) so
    # row-group stats + the row bloom filter prune before any data moves
    from hbase_spark.operators.get import multi_get

    d = tempfile.mkdtemp(prefix="hb_mget_")
    try:
        write_table(cells(spark), d, num_regions=4, by_family=False)
        back = spark.read.parquet(d)
        plan = plan_of(multi_get(back, ["000001", "000002"]))
        assert "In(row, [000001,000002])" in plan  # inside PushedFilters
        assert "LeftSemi" not in plan  # key set is a predicate, not a join
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_multi_get_large_batch_is_broadcast_semi_join(spark):
    from hbase_spark.operators.get import multi_get

    keys = [str(i).zfill(6) for i in range(1001)]
    plan = plan_of(multi_get(cells(spark), keys))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def _logical_plan_of(df) -> str:
    # the optimized logical plan keeps user-supplied hints as
    # ResolvedHint / the physical plan would show BroadcastExchange even
    # under AQE; a FORCED hint also appears pre-execution.
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_dependent_column_filter_has_no_forced_broadcast(spark):
    # the (row, ts) reference set grows with the table: a forced
    # broadcast OOMs at scale (reference filter/DependentColumnFilter
    # .java:46 streams it region-local). AQE must stay free to choose.
    from hbase_spark.filters import DependentColumnFilter

    flt = DependentColumnFilter("f", "a")
    assert "ResolvedHint" not in _logical_plan_of(flt.post(cells(spark)))


def test_check_and_mutate_has_no_forced_broadcast(spark):
    # ok_rows scales with the mutation batch (rs/HRegion.java:5140
    # checks row-local) — same rule.
    from hbase_spark.operators.mutations import apply_check_and_mutate, make_cells

    base = cells(spark)
    muts = make_cells(
        spark, [(str(i).zfill(6), "f", "c", 2, 4, "new", 100) for i in range(8)]
    )
    out = apply_check_and_mutate(
        base, muts, guard_family="f", guard_qualifier="a", op="=", value="v3"
    )
    assert "ResolvedHint" not in _logical_plan_of(out)


@pytest.mark.parametrize("versions", [1, 3])
def test_whole_stage_codegen_present(spark, versions):
    # AQE's final-plan text marks codegen'd operators with a "*(n)" prefix
    plan = plan_of(resolve(cells(spark), versions=versions))
    assert "*(" in plan


def test_increment_then_resolve_materializes_result_cells_once(spark):
    # the RMW result frame feeds every branch of a downstream resolve
    # (union, tombstone masks, version cap); without the checkpoint in
    # apply_increments each branch recomputes the slice+resolve subtree
    # and the executed plan balloons (36 exchanges at sf0.1).  The
    # checkpointed result frame shows as ONE extra "Scan ExistingRDD"
    # beside the base frame's own (2 total); without it the recomputed
    # subtrees re-scan the base per branch (4+ in this fixture, 36
    # exchanges at sf0.1).
    from hbase_spark.operators.mutations import apply_increments
    from hbase_spark.operators.resolve import resolve as _resolve

    base = make_cells(
        spark,
        [
            (str(i).zfill(6), "f", q, 1, 4, str(i * 10), i)
            for i in range(64)
            for q in ("a", "b")
        ],
    )
    deltas = spark.createDataFrame(
        [(str(i).zfill(6), "f", "a", 1) for i in range(16)],
        "row string, family string, qualifier string, delta long",
    )
    merged = apply_increments(base, deltas, ts=9, seq=10_000)
    plan = plan_of(_resolve(merged, versions=1))
    assert plan.count("Scan ExistingRDD") <= 2


def test_increment_view_resolves_base_once(spark):
    """increment_view is the single-resolve RMW shape (reckonDeltas reads
    only the touched slice; the untouched snapshot is never re-resolved):
    the base CellFrame is scanned ONCE, the merge is one full-outer join
    on the resolve's own (row, family, ...) partitioning, and the whole
    plan carries at most 3 hash exchanges (mask, delta agg, co-partition
    of the small delta side) — versus the append-then-re-resolve path
    whose second resolve rescans and reshuffles everything."""
    import re

    from hbase_spark.operators.mutations import increment_view

    base = make_cells(
        spark,
        [
            (str(i).zfill(6), "f", q, 1, 4, str(i * 10), i)
            for i in range(64)
            for q in ("a", "b")
        ],
    )
    deltas = spark.createDataFrame(
        [(str(i).zfill(6), "f", "a", 1) for i in range(16)],
        "row string, family string, qualifier string, delta long",
    )
    v = increment_view(base, deltas, ts=9, seq=10_000)
    v.collect()
    plan = (
        v._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    )
    assert plan.count("Scan ExistingRDD") == 2  # base once + deltas once
    assert "FullOuter" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3


def test_bucketed_layout_resolves_and_joins_without_exchange(spark, tmp_path):
    """write_bucketed registers the bucket spec with the catalog, so
    the version-cap aggregation (grouping keys prefixed by `row`) and
    row-keyed self-joins reuse the bucket partitioning — ZERO Exchange
    in either plan.  This is the co-located-join deployment variant of
    the layout (SCALE.md)."""
    import re

    from hbase_spark.operators.mutations import put_cells
    from hbase_spark.operators.resolve import resolve
    from hbase_spark.sources.layout import read_bucketed, write_bucketed

    cells = put_cells(
        spark,
        [(f"r{i:03d}", "f", f"q{j}", f"v{i}{j}") for i in range(50) for j in range(2)],
        ts=10,
        seq=1,
    )
    write_bucketed(cells, "plan_bucketed_t", num_buckets=4)
    try:
        b = read_bucketed(spark, "plan_bucketed_t")
        out = resolve(b, versions=1)
        out.collect()
        plan = (
            out._jdf.queryExecution().executedPlan().toString()
            .split("Initial Plan")[0]
        )
        assert not re.search(r"Exchange (hash|range)partitioning", plan)
        j = b.alias("a").join(b.alias("b"), "row").select("row")
        j.collect()
        plan2 = (
            j._jdf.queryExecution().executedPlan().toString()
            .split("Initial Plan")[0]
        )
        assert not re.search(r"Exchange (hash|range)partitioning", plan2)
    finally:
        spark.sql("DROP TABLE IF EXISTS plan_bucketed_t")


def test_cobucketed_sync_diff_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by `row` diff with ZERO exchange: the
    (row, family, qualifier) full-outer join co-partitions on the
    bucket key subset (requireAllClusterKeysForCoPartition=false, set
    by get_spark; asserted here with broadcast disabled so bucketing —
    not broadcast — is what removes the shuffle)."""
    import re

    from hbase_spark.operators.mutations import put_cells
    from hbase_spark.operators.sync import sync_diff
    from hbase_spark.sources.layout import read_bucketed, write_bucketed

    a = put_cells(spark, [(f"r{i:03d}", "f", "q", f"v{i}") for i in range(80)], ts=10, seq=1)
    b = put_cells(
        spark,
        [(f"r{i:03d}", "f", "q", f"v{i if i % 7 else 0}") for i in range(80)],
        ts=10,
        seq=1,
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    prev_co = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try:
        write_bucketed(a, "plan_sync_a", num_buckets=4)
        write_bucketed(b, "plan_sync_b", num_buckets=4)
        d = sync_diff(
            read_bucketed(spark, "plan_sync_a"),
            read_bucketed(spark, "plan_sync_b"),
        )
        assert d.count() == 11  # 80/7 rounded: rows where i%7==0 mismatch
        plan = (
            d._jdf.queryExecution().executedPlan().toString()
            .split("Initial Plan")[0]
        )
        assert not re.search(r"Exchange (hash|range)partitioning", plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", prev_co)
        spark.sql("DROP TABLE IF EXISTS plan_sync_a")
        spark.sql("DROP TABLE IF EXISTS plan_sync_b")


def test_mob_table_point_read_pushes_row_filter_to_both_stores(spark):
    """A point read on a MOB-enabled table pushes the row predicate
    into BOTH parquet scans (main + mob union) — the mob store must
    not degrade pruning."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hbase_spark.admin import Admin
    from hbase_spark.shell import shell_put
    from hbase_spark.table import FamilyDescriptor

    d = tempfile.mkdtemp(prefix="hb_mobplan_")
    try:
        adm = Admin(spark, d)
        adm.create_table("mp", {"f": FamilyDescriptor(mob_threshold=50)})
        t = adm.table("mp")
        for i in range(20):
            v = "X" * 200 if i % 4 == 0 else f"v{i}"
            t = shell_put(t, f"r{i:02d}", "f:q", v, ts=10, seq=i)
        adm.flush("mp", t, num_regions=2)
        q = adm.table("mp").cells.filter(F.col("row") == "r04")
        q.collect()
        plan = q._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
        assert len(scans) == 2, plan  # main + mob store
        for ln in scans:
            assert "EqualTo(row,r04)" in ln, ln
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_duplicate_ngram_plan_shuffles_hashes_not_text(spark):
    """duplicate_ngram_stats: every exchange carries gram HASHES or
    ids — the document text must never cross a shuffle boundary."""
    from hbase_spark.functions.text import duplicate_ngram_stats

    docs = spark.createDataFrame(
        [(i, f"some shared boilerplate text plus unique tail {i % 7}")
         for i in range(64)],
        "doc_id long, text string",
    )
    df = duplicate_ngram_stats(docs)
    plan = plan_of(df)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text" not in ln, ln
    assert "CartesianProduct" not in plan
    assert "hashpartitioning" in plan  # the gram-count agg is real


def test_semantic_dedup_plan_no_cartesian_no_forced_broadcast(spark):
    """semantic_dedup: candidate pairs come from capped cluster
    groups, never an all-pairs product; the verify joins have no
    forced broadcast (AQE sizes the build side)."""
    from hbase_spark.functions.dedup import semantic_dedup

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(8)])
         for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    df = semantic_dedup(vecs, threshold=0.999, nlist=4)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_connected_components_shuffles_long_pairs_only(spark):
    """connected_components: every exchange carries the two long node
    columns (or aggregates of them) — no arrays, no strings, no
    cartesian expansion; convergence state never reaches the driver
    beyond the one-row signature."""
    from hbase_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(48) if i % 8 != 7], ["src", "dst"]
    )
    df = connected_components(edges)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "collect_list" not in ln and "collect_set" not in ln, ln


def test_paragraph_link_pairs_shuffles_hashes_not_text(spark):
    """paragraph_link_pairs: paragraphs cross exchanges only as
    xxhash64 values through the capped-group contract."""
    from hbase_spark.functions.dedup import paragraph_link_pairs

    docs = spark.createDataFrame(
        [(i, f"unique body {i}\n\nshared boilerplate {i % 5}")
         for i in range(64)],
        "doc_id long, text string",
    )
    plan = plan_of(paragraph_link_pairs(docs))
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text" not in ln and "_p#" not in ln, ln
    assert "CartesianProduct" not in plan


def test_url_dedup_shuffles_url_hash_not_strings(spark):
    """url_dedup: the group key crossing the exchange is xxhash64 of
    the canonical URL, never the URL string itself."""
    from hbase_spark.functions.text import url_dedup

    docs = spark.createDataFrame(
        [(i, f"https://example.com/p/{i % 9}?utm_source=x") for i in range(64)],
        "doc_id long, url string",
    )
    import re

    plan = plan_of(url_dedup(docs))
    seen = 0
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            seen += 1
            # the partition key is a long (the xxhash64 — Catalyst may
            # inline it as _groupingexpression#NL); never a URL string
            assert re.search(r"hashpartitioning\((?:_uh|_groupingexpression)#\d+L", ln), ln
            assert "canonical_url" not in ln and "url#" not in ln, ln
    assert seen >= 1


def _text_docs(spark, n=64):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i % 7} delta epsilon") for i in range(n)],
        "doc_id long, text string",
    )


def test_lm_score_shuffles_gram_hashes_not_text(spark):
    """lm_score: training counts and scoring joins exchange 8-byte
    gram hashes; document text is tokenized map-side and never crosses
    an exchange.  The scalar vocab frame rides as a broadcast."""
    from hbase_spark.functions.lm import lm_score, train_bigram_lm

    docs = _text_docs(spark)
    plan = plan_of(lm_score(docs, train_bigram_lm(docs)))
    assert "BroadcastExchange" in plan  # 1-row vocab stats
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
            assert "_t#" not in ln, ln


def test_nb_classify_broadcasts_classes_and_shuffles_hashes(spark):
    """nb_classify: the class list and model stats are broadcast; the
    (word hash, label) join and the per-doc agg shuffle longs + the
    short label, never the document text."""
    from hbase_spark.functions.lm import nb_classify, train_naive_bayes

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 5}", "x" if i % 2 else "y")
         for i in range(64)],
        "doc_id long, text string, lang string",
    )
    model = train_naive_bayes(docs, label_col="lang")
    plan = plan_of(nb_classify(docs, model))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan  # class fan-out is BNLJ/broadcast
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln


def test_bm25_broadcasts_query_terms_and_windows_matched_set_only(spark):
    """bm25_topk: query terms and corpus stats broadcast against the
    postings frame; the rank window partitions on query_id over the
    MATCHED set (the join precedes the window); text never shuffles."""
    from hbase_spark.functions.retrieval import bm25_topk

    plan = plan_of(bm25_topk(_text_docs(spark), [(1, "alpha tok1")], k=5))
    assert "BroadcastExchange" in plan
    assert "Window" in plan
    # the window's sort input comes from the scored (post-join) agg,
    # partitioned by query_id — a single-column long partition key
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln


def test_c4_bad_words_plan_is_list_size_invariant(spark):
    """c4_clean at real blocklist scale: a 1,000-entry bad_words list
    must compile to a constant number of expression nodes (one INSET
    token probe + one alternation regex), never a per-entry boolean
    chain — a ~2k-node OR tree per row is a janino/codegen fallback
    waiting to happen.  Guard: the executed plan mentions each
    mechanism once-ish and its size does not scale with the list."""
    from hbase_spark.functions.text import c4_clean

    words = tuple(f"badword{i}" for i in range(900)) + tuple(
        f"bad phrase {i}" for i in range(100)
    )
    docs = spark.createDataFrame(
        [(1, "A clean sentence that is long enough to keep here.\n" * 6),
         (2, "This line mentions badword7 so it must be flagged now.\n" * 6),
         (3, "Sadly a bad phrase 42 appears in this very long line.\n" * 6)],
        ["doc_id", "text"],
    )
    out = c4_clean(docs, bad_words=words)
    got = {r.doc_id: r.no_bad_words for r in out.collect()}
    assert got == {1: True, 2: False, 3: False}

    plan = plan_of(out)
    # the small list keeps >10 singles so both plans are past Spark's
    # In->InSet conversion threshold — comparing like with like
    small = plan_of(c4_clean(
        docs,
        bad_words=tuple(f"badword{i}" for i in range(12))
        + ("bad phrase 42", "bad phrase 43"),
    ))
    # node-count invariance: the 1,000-entry plan has exactly as many
    # set probes / regex nodes / OR nodes as the 2-entry plan — growth
    # would mean a per-entry expression chain is back
    for marker in ("INSET", "RLIKE", " OR ", "array_contains", "exists"):
        assert plan.count(marker) == small.count(marker), (
            marker, plan.count(marker), small.count(marker)
        )
    assert plan.count("INSET") >= 1  # the big list really is a set probe

    # \Q..\E injection: a phrase containing a literal \E must stay a
    # literal (match exactly itself), not terminate the quote and turn
    # the tail into live regex
    inj = c4_clean(
        spark.createDataFrame(
            [(1, "plain long enough line ends with period here okay.\n" * 6),
             (2, ("contains a" + "\\E" + "b+c literally in this line.\n") * 6),
             (3, "contains abbbc which only live regex would flag.\n" * 6)],
            ["doc_id", "text"],
        ),
        bad_words=("a\\Eb+c",),
    )
    got_inj = {r.doc_id: r.no_bad_words for r in inj.collect()}
    assert got_inj == {1: True, 2: False, 3: True}


def test_visibility_plan_is_pure_codegen_set_probe(spark):
    """visible(): the admitted-expression filter is one codegen set
    probe — no executor Python (BatchEvalPython) and no join in the
    plan (round-6 verdict item 7); the policy cap raises on a
    data-derived label column instead of collecting it."""
    from hbase_spark.functions.visibility import visible

    rows = [
        (str(i).zfill(4), "f", "q", 1, 4, f"v{i}",
         ["secret & ops", "ops", "", None][i % 4])
        for i in range(64)
    ]
    df = spark.createDataFrame(
        rows, "row string, family string, qualifier string, "
        "ts long, type int, value string, labels string"
    )
    out = visible(df, {"secret", "ops"})
    assert out.count() == 64  # all four label shapes admitted
    out2 = visible(df, {"ops"})
    assert out2.count() == 48  # the secret&ops quarter drops
    plan = plan_of(out2)
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    with pytest.raises(ValueError, match="max_policies"):
        visible(
            df.withColumn("labels", F.concat(F.lit("l"), F.col("row"))),
            {"ops"},
            max_policies=16,
        )


def test_pack_token_sequences_plan_has_no_global_sort(spark):
    """pack_token_sequences: the export transpose must stay sharded —
    no global range sort anywhere (one hash exchange for the doc-level
    offset window, one for the (shard, seq_id) reassembly agg), and
    the token-level exchange carries shard/seq keys plus int tokens,
    never text."""
    from hbase_spark.functions.text import pack_token_sequences

    enc = spark.createDataFrame(
        [(i, list(range(i, i + 7))) for i in range(200)],
        "doc_id long, ids array<int>",
    )
    out = pack_token_sequences(enc, seq_len=16, shards=8, seed=3)
    plan = plan_of(out)
    assert "rangepartitioning" not in plan.lower()  # no global orderBy
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ivfpq_probe_prunes_persisted_partitions(spark, tmp_path):
    """The IVF-PQ probe over a PERSISTED index layout: codes written
    partitionBy(list_id) let the nprobe filter prune at the directory
    level — the plan's partition filters carry the probe list and the
    scan touches only those directories.  This is the at-scale shape:
    the ADC pass reads nprobe/nlist of the m-byte codes, nothing
    else."""
    from hbase_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids,
        ivfpq_topk,
        pq_encode,
        pq_train,
    )
    from hbase_spark.sources.tables import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = [float(x) for x in vecs.filter("vec_id = 0").first()["embedding"]]
    books = pq_train(vecs, m=8, nbits=4)
    cents = ivf_centroids(vecs, nlist=8)
    coded = pq_encode(ivf_assign(vecs, cents), books, extra_cols=("list_id",))
    path = str(tmp_path / "pq_index")
    coded.write.partitionBy("list_id").parquet(path)

    persisted = spark.read.parquet(path)
    out = ivfpq_topk(persisted, cents, books, q, k=5, nprobe=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the probe list reaches the partition filter (pruned scan), and
    # the scan reads ONLY id + code columns — vectors never load
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "list_id" in m.group(1) and m.group(1).strip() != ""
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "embedding" not in rs.group(1)


def test_bpe_vocab_join_is_aqe_decided_not_forced(spark):
    """The occurrence<->vocab join in both BPE apply paths must carry
    NO forced broadcast hint: the distinct-pretoken frame's
    cardinality is corpus-dependent (1e8-1e9 on real web text) and a
    forced hint OOMs the driver / trips the broadcast cap exactly at
    scale.  AQE still converts to broadcast-hash at runtime when the
    vocab is actually small — assert both halves: hint-free logical
    plan, broadcast-chosen final plan on a small vocab.  The explicit
    ``broadcast_vocab=True`` override keeps the hint for closed piece
    sets."""
    from hbase_spark.functions.bpe import bbpe_encode, bpe_encode, train_bpe

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i}") for i in range(50)],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, num_merges=4)

    for enc in (bpe_encode, bbpe_encode):
        out = enc(docs, merges)
        lp = _logical_plan_of(out)
        assert "ResolvedHint" not in lp and "strategy=broadcast" not in lp
        assert "BroadcastHashJoin" in plan_of(out)  # AQE chose it anyway
        forced = enc(docs, merges, broadcast_vocab=True)
        # the optimizer consumes the hint onto the Join node
        assert "strategy=broadcast" in _logical_plan_of(forced)


def test_single_version_resolve_is_map_only_and_equivalent(spark):
    """resolve/scan(single_version=True): on a PUT-only one-version
    frame the output matches the general path exactly AND the plan
    carries no Exchange, Sort or aggregate — the contract the
    scan_range/multi_get/agg_endpoint/increment_merge bench arms
    assert over the bulk-load melts (r10 optimization)."""
    from hbase_spark.operators.scan import Scan, scan

    c = cells(spark)
    general = resolve(c, versions=1)
    fast = resolve(c, versions=1, single_version=True)
    assert fast.exceptAll(general).count() == 0
    assert general.exceptAll(fast).count() == 0
    plan = plan_of(fast)
    for node in ("Exchange", "Sort", "Aggregate"):
        assert node not in plan, plan
    # the scan form keeps filters + limits working on the fast path
    spec = Scan(start_row="000010", stop_row="000030", limit=5)
    a = scan(c, spec).orderBy("row", "qualifier").collect()
    b = scan(c, spec, single_version=True).orderBy("row", "qualifier").collect()
    assert a == b and len(a) == 10


def test_single_version_rejects_bad_versions_like_cap_versions(spark):
    with pytest.raises(ValueError, match="versions must be >= 1"):
        resolve(cells(spark), versions=0, single_version=True)


def test_debug_mode_validates_caller_contracts(spark, monkeypatch):
    """HBASE_SPARK_DEBUG_CONTRACTS=1 turns the trusted single_version /
    delete_kinds caller contracts into checked ones: a violating frame
    fails loudly at resolve() instead of surfacing as duplicate or
    unmasked rows downstream.  Off (the default), the same calls build
    plans without running any validation job."""
    from hbase_spark.model import CellType

    good = cells(spark)
    multi = make_cells(
        spark,
        [("000001", "f", "a", t, 4, f"v{t}", t) for t in (1, 2)],
    )
    tomb = make_cells(
        spark,
        [
            ("000001", "f", "a", 1, 4, "v", 1),
            ("000001", "f", "a", 2, 8, None, 2),  # exact-version DELETE
        ],
    )
    # default: no validation job, contract trusted (plan builds fine)
    resolve(multi, versions=1, single_version=True)

    monkeypatch.setenv("HBASE_SPARK_DEBUG_CONTRACTS", "1")
    # satisfied contracts still pass with validation on
    assert resolve(good, versions=1, single_version=True).count() == 128
    with pytest.raises(ValueError, match="single_version contract"):
        resolve(multi, versions=1, single_version=True)
    with pytest.raises(ValueError, match="single_version contract"):
        resolve(tomb, versions=1, single_version=True)
    with pytest.raises(ValueError, match="delete_kinds contract"):
        resolve(
            tomb, versions=1, delete_kinds={CellType.DELETE_COLUMN}
        )
    # scan/get/multi_get resolve through the same core, so the same
    # check covers their single_version fast path
    from hbase_spark.operators.get import get, multi_get
    from hbase_spark.operators.scan import scan

    assert scan(good, single_version=True).count() == 128
    for read in (
        lambda: scan(multi, single_version=True),
        lambda: get(multi, "000001", single_version=True),
        lambda: multi_get(multi, ["000001"], single_version=True),
    ):
        with pytest.raises(ValueError, match="single_version contract"):
            read()
    # the contract a Table derives from its layout (Admin.table) is
    # checked the same way on every Table read
    from hbase_spark.table import Table

    wrong = Table(tomb, _delete_kinds=frozenset())
    for read in (
        wrong.snapshot,
        wrong.scan,
        lambda: wrong.multi_get(["000001"]),
        lambda: wrong.compact().cells,
    ):
        with pytest.raises(ValueError, match="delete_kinds contract"):
            read()


def _column_delete_cells(spark):
    """Multi-version puts + DELETE_COLUMN markers exercising every
    edge of the fused contract: a marker masking all versions of its
    column, a marker tied exactly with the newest put (delete wins),
    a marker older than the newest put (older versions masked, newest
    survives), marker-only columns, and untouched columns."""
    rows = []
    for i in range(32):
        key = str(i).zfill(6)
        rows += [(key, "f", "a", t, 4, f"v{i}.{t}", 10 * i + t) for t in (1, 2, 3)]
        if i % 3 == 0:  # masks everything (ts >= newest put)
            rows.append((key, "f", "a", 5, 12, None, 1000 + i))
        if i % 3 == 1:  # exact tie with newest put: delete wins
            rows.append((key, "f", "a", 3, 12, None, 1000 + i))
        if i % 4 == 0:  # older marker: only ts<=2 masked
            rows.append((key, "f", "b", 2, 12, None, 2000 + i))
        rows += [(key, "f", "b", t, 4, f"w{i}.{t}", 30 * i + t) for t in (1, 3)]
        if i % 5 == 0:  # marker-only column
            rows.append((key, "f", "c", 9, 12, None, 3000 + i))
    return make_cells(spark, rows)


def test_column_delete_kinds_resolve_fused_and_equivalent(spark):
    """resolve(delete_kinds={DELETE_COLUMN}): one grouped aggregation
    replaces mask_deletes + cap_versions — output matches the general
    path exactly (including same-ts delete-wins ties, fully-masked and
    marker-only columns, time ranges) and the plan has NO join and ONE
    exchange (r11 optimization; the resolve_latest bench arm's shape)."""
    from hbase_spark.model import CellType

    c = _column_delete_cells(spark)
    kinds = {CellType.DELETE_COLUMN}
    for kw in (
        dict(versions=1),
        dict(versions=1, time_range=(None, 3)),
        dict(versions=1, time_range=(2, 4)),
        dict(versions=1, time_range=(None, 4), keep_deleted_cells=True),
    ):
        general = resolve(c, **kw)
        fused = resolve(c, delete_kinds=kinds, **kw)
        assert fused.exceptAll(general).count() == 0, kw
        assert general.exceptAll(fused).count() == 0, kw
    plan = plan_of(resolve(c, versions=1, delete_kinds=kinds))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2  # tree + details listing


def test_column_delete_kinds_falls_back_outside_contract(spark):
    """Any knob outside the fused contract (versions>1, min_versions,
    NVB, family TTL) must take the general mask path — the contract
    narrows the plan, never the semantics."""
    from hbase_spark.model import CellType

    c = _column_delete_cells(spark)
    kinds = {CellType.DELETE_COLUMN}
    for kw in (
        dict(versions=2),
        dict(versions=1, min_versions=1, ttl_by_family={"f": 1}, now=10),
        dict(versions=1, new_version_behavior=True),
    ):
        fb = resolve(c, delete_kinds=kinds, **kw)
        assert "Join" in plan_of(fb), kw
        general = resolve(c, **kw)
        assert fb.exceptAll(general).count() == 0, kw
        assert general.exceptAll(fb).count() == 0, kw


def test_materialize_job_timing(spark):
    """materialize()'s documented job timing on this Spark build (AQE
    on): over a map-only plan the call starts no job; over a plan with
    one exchange it starts exactly one (the shuffle map stage), and the
    result stage waits for the first action.  A Spark upgrade that
    changes either shows up here."""
    from hbase_spark.sources.tables import materialize

    sc = spark.sparkContext

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    map_only = spark.range(100_000).select((F.col("id") % 7).alias("k"))
    grouped = spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).count()
    for name, df, at_call in (("map_only", map_only, 0), ("exchange", grouped, 1)):
        stored, n = jobs_in(f"materialize_{name}_call", lambda: materialize(df))
        assert n == at_call, (name, n)
        rows, n = jobs_in(f"materialize_{name}_action", stored.collect)
        assert n >= 1 and len(rows) == df.count(), (name, n)


def test_materialize_is_the_only_checkpoint_site():
    """Every library frame stored for several consumers goes through
    ``sources.tables.materialize``: no other ``.localCheckpoint`` use
    exists in the package or the entry module."""
    import ast
    import pathlib

    class Sites(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.scope, self.found = rel, ["<module>"], []

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Attribute(self, node):
            if node.attr == "localCheckpoint":
                self.found.append((self.rel, self.scope[-1]))
            self.generic_visit(node)

    root = pathlib.Path(__file__).resolve().parent.parent
    sites = []
    for path in [*sorted((root / "hbase_spark").rglob("*.py")),
                 root / "__spark_entry__.py"]:
        v = Sites(path.relative_to(root).as_posix())
        v.visit(ast.parse(path.read_text(), filename=str(path)))
        sites += v.found
    assert sites == [("hbase_spark/sources/tables.py", "materialize")]


def test_materialize_passes_streaming_frames_through(spark):
    from hbase_spark.sources.tables import materialize

    stream = spark.readStream.format("rate").load()
    assert materialize(stream) is stream


def test_multi_get_on_put_only_layout_skips_tombstone_masking(spark, tmp_path):
    # A flushed PUT-only layout is recorded as such; a Table read of it
    # then has nothing to mask: no tombstone-slice checkpoint, no mask joins
    # — one aggregation.  The same read with the facts unknown keeps
    # the general path (the guard's control).  Both plan sections are
    # searched: AQE drops the mask joins from the final plan once their
    # build sides come out empty, but only after the jobs that built
    # them ran.
    import re
    from dataclasses import replace

    from hbase_spark.admin import Admin

    admin = Admin(spark, str(tmp_path))
    admin.create_table("t", ["f"])
    puts = [(str(i).zfill(6), "f", "q", f"v{i}") for i in range(64)]
    admin.flush("t", admin.table("t").put(puts, ts=1, seq=1), num_regions=4)
    t = admin.table("t")
    mask_join = re.compile(r"BroadcastHashJoin \[[^\]]*\], \[[^\]]*\], LeftOuter")
    tomb_scan = re.compile(r"Scan ExistingRDD\[[^\]]*type#")

    def whole_plan(table):
        df = table.multi_get(["000001", "000002"])
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    plan = whole_plan(t)
    assert not mask_join.search(plan) and not tomb_scan.search(plan)
    assert plan_of(t.multi_get(["000001"])).count("Exchange hashpartitioning") == 1
    general = whole_plan(replace(t, _delete_kinds=None))
    assert mask_join.search(general) and tomb_scan.search(general)
