"""Plan lint for the round-6 library operators (the corpus-wide lint in
test_plan_lint.py covers only declared corpus queries): each op's
executed plan must stay free of cartesian products, non-broadcast
nested-loop joins, and row-at-a-time Python (BatchEvalPython) — and the
exchange-count claims recorded in PLANS.md stay measured, not asserted
from memory."""

import pyspark.sql.functions as F
import pytest


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _lint(plan: str, name: str):
    assert "CartesianProduct" not in plan, name
    assert "BatchEvalPython" not in plan, name  # row-Python forbidden
    # nested loop only acceptable when broadcast (tiny side)
    for line in plan.splitlines():
        if "NestedLoop" in line:
            assert "Broadcast" in line, f"{name}: {line}"


@pytest.fixture(scope="module")
def tiny(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, "b c d e f")], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 2.0]) for i in range(30)],
        "vec_id long, embedding array<float>")
    ev = spark.createDataFrame([("a", 1.0), ("b", 2.0)],
                               "item string, v double")
    return docs, emb, ev


def test_sketch_plans(spark, tiny):
    from nasctn_sea_ingest_spark.operators.sketch import (
        cm_lookup, cm_sketch, grouped_quantile_sketch)
    _docs, _emb, ev = tiny
    sk = cm_sketch(ev, "item")
    p = _plan(sk)
    _lint(p, "cm_sketch")
    assert p.count("Exchange") == 1 and "partial" in p
    q = spark.createDataFrame([("a",)], "item string")
    _lint(_plan(cm_lookup(sk, q, "item")), "cm_lookup")
    p2 = _plan(grouped_quantile_sketch(ev, ["item"], "v"))
    _lint(p2.replace("FlatMapGroupsInPandas", ""), "gqs")
    assert p2.count("Exchange") == 1


def test_search_bpe_knn_plans(spark, tiny):
    from nasctn_sea_ingest_spark.operators.bpe import word_vocab
    from nasctn_sea_ingest_spark.operators.search import (
        bm25_search, build_inverted_index)
    from nasctn_sea_ingest_spark.operators.similarity import knn_graph
    docs, emb, _ev = tiny
    idx = build_inverted_index(docs)
    p = _plan(idx)
    _lint(p, "build_inverted_index")
    assert p.count("Exchange") == 1      # the PLANS.md claim, asserted
    _lint(_plan(bm25_search(idx, ["a", "b"], k=3, stats=(2, 5.0))),
          "bm25_search")
    _lint(_plan(word_vocab(docs)), "word_vocab")
    _lint(_plan(knn_graph(emb, k=2, n_tables=2, n_planes=3, dim=4)),
          "knn_graph")


def test_text_cdc_and_dhash_plans(spark, tiny):
    from nasctn_sea_ingest_spark.operators.text import cdc_chunk_dedup
    docs, _emb, _ev = tiny
    _lint(_plan(cdc_chunk_dedup(docs)), "cdc_chunk_dedup")


def test_spatial_and_fuzzy_plans(spark):
    """Round-8 library ops: the spatial radius/kNN joins and the
    SymSpell fuzzy join must candidate-generate via hash equi-joins —
    no cartesian, no non-broadcast nested loop, no row-Python — and
    the kNN loop's per-ring join stays equi-shaped too."""
    from nasctn_sea_ingest_spark.operators.dedup import \
        edit_distance_pairs
    from nasctn_sea_ingest_spark.operators.spatial import (
        grid_distance_join, grid_knn_join)

    pts = spark.createDataFrame(
        [(i, float(i % 7) * 3.0, float(i % 5) * 3.0) for i in range(40)],
        "id long, x double, y double")
    p = _plan(grid_distance_join(pts, 4.0))
    _lint(p, "grid_distance_join")
    assert "Join" in p                       # positive: a join exists
    knn = grid_knn_join(pts, 2, cell=4.0, max_rings=2)
    _lint(_plan(knn), "grid_knn_join")
    from nasctn_sea_ingest_spark.operators.spatial import \
        grid_distance_join_nd
    p3 = spark.createDataFrame(
        [(i, float(i % 7) * 3.0, float(i % 5) * 3.0,
          float(i % 3) * 3.0) for i in range(40)],
        "id long, x double, y double, z double")
    pn = _plan(grid_distance_join_nd(p3, 4.0,
                                     coord_cols=("x", "y", "z")))
    _lint(pn, "grid_distance_join_nd")
    assert "Join" in pn
    names = spark.createDataFrame(
        [(i, f"name-{i:04d}") for i in range(40)],
        "id long, text string")
    p = _plan(edit_distance_pairs(names, max_distance=1))
    _lint(p, "edit_distance_pairs")
    assert "levenshtein" in p


def test_star_components_round_plans(spark):
    """Each alternating-star round must stay hash-shuffle shaped (one
    groupBy-min + one equi-join per star op) — no cartesian, no
    row-Python; the per-round localCheckpoint makes the FINAL labels
    plan a bounded scan, not a 2*max_iter-deep join tree."""
    from nasctn_sea_ingest_spark.operators.graph import star_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)] + [(100, 150), (150, 160)],
        "d1 long, d2 long")
    # local_graph_rows=0: this lints the DISTRIBUTED round plans
    out = star_components(pairs, local_graph_rows=0)
    p = _plan(out)
    _lint(p, "star_components")
    assert p.count("Scan ExistingRDD") >= 1   # checkpoint-backed, flat


def test_er_and_funnel_plans(spark):
    """FS linkage and the generic funnel: block/step candidate stages
    must be hash equi-joins with scoring/bounds as projections/filters
    — no cartesian, no non-broadcast nested loop, no row-Python."""
    from nasctn_sea_ingest_spark.operators.er import (
        FieldRule, linkage_scores)
    from nasctn_sea_ingest_spark.operators.funnel import funnel_anchors

    recs = spark.createDataFrame(
        [(i, f"name{i % 9}", str(i % 4)) for i in range(40)],
        "pid long, name string, zip string")
    p = _plan(linkage_scores(recs, "pid", ["zip"],
                             [FieldRule("name", 0.9, 0.05)]))
    _lint(p, "linkage_scores")
    ev = spark.createDataFrame(
        [(i % 7, i * 10, "vcp"[i % 3]) for i in range(60)],
        "user_id long, ts_us long, e string")
    p = _plan(funnel_anchors(ev, [("v", "e='v'"), ("c", "e='c'"),
                                  ("p", "e='p'")], within_us=100))
    _lint(p, "funnel_anchors")


def test_fd_and_graph_library_plans(spark, tiny):
    """Round-9 library ops.  fd_counts: exactly ONE exchange (the melt
    feeds one hash agg with map-side combine — the PLANS.md claim,
    asserted); fd_errors_from_counts adds the per-lhs and per-candidate
    aggregates, join-free and window-free end-to-end.  cooccur_pairs /
    triangle_count / shortest_paths seed-round: equi-joins only."""
    from nasctn_sea_ingest_spark.functions import (fd_counts,
                                                   fd_errors_from_counts,
                                                   fd_profile)
    from nasctn_sea_ingest_spark.operators.graph import (cooccur_pairs,
                                                         triangle_count)
    docs, _emb, ev = tiny
    counts = fd_counts(ev, [("item", "v")])
    p = _plan(counts)
    _lint(p, "fd_counts")
    assert p.count("Exchange") == 1 and "partial" in p
    p2 = _plan(fd_profile(ev, [("item", "v"), ("v", "item")]))
    _lint(p2, "fd_profile")
    assert "Join" not in p2 and "Window" not in p2
    _lint(_plan(fd_errors_from_counts(counts)), "fd_errors_from_counts")
    baskets = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "c")],
        "bk long, item string")
    pc = _plan(cooccur_pairs(baskets, "bk", "item"))
    _lint(pc, "cooccur_pairs")
    assert "SortMergeJoin" in pc or "ShuffledHashJoin" in pc \
        or "BroadcastHashJoin" in pc
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)],
                                  "d1 long, d2 long")
    pt = _plan(triangle_count(edges))
    _lint(pt, "triangle_count")


def test_local_triangles_and_bloom_contamination_plans(spark, tiny):
    """Round-15 library ops.  local_triangles: the q128 equi-join-only
    discipline holds for the per-node face too (orientation joins,
    wedge close, corner explode — no cartesian, no row-Python).
    bloom_contamination: every bitmask probe join is BROADCAST (the
    whole point — the train side never shuffles before the verify
    stage), and the plan stays row-Python-free."""
    from nasctn_sea_ingest_spark.operators.graph import local_triangles
    from nasctn_sea_ingest_spark.operators.text import bloom_contamination

    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)],
                                  "d1 long, d2 long")
    p = _plan(local_triangles(edges))
    _lint(p, "local_triangles")

    docs, _emb, _ev = tiny
    ev_docs = spark.createDataFrame([(9, "b c d")],
                                    "doc_id long, text string")
    out = bloom_contamination(docs, ev_docs, n=2, n_hashes=2)
    pb = _plan(out)
    _lint(pb, "bloom_contamination")
    assert "BroadcastHashJoin" in pb, "bitmask probe joins must broadcast"


def test_dbscan_nd_and_k_core_plans(spark):
    """Round-10 library ops: dbscan_nd's pair stage is the d-part
    hash equi-join (no cartesian, no row-Python), and each k_core
    peel round is one degree hash-agg + endpoint anti-joins."""
    from nasctn_sea_ingest_spark.operators.graph import k_core
    from nasctn_sea_ingest_spark.operators.spatial import dbscan_nd

    pts = spark.createDataFrame(
        [(i, float(i % 7) * 3.0, float(i % 5) * 3.0,
          float(i % 3) * 3.0) for i in range(60)],
        "id long, x double, y double, z double")
    out = dbscan_nd(pts, 4.0, 3, coord_cols=("x", "y", "z"))
    _lint(_plan(out), "dbscan_nd")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)] + [(0, 5), (0, 10), (5, 10)],
        "d1 long, d2 long")
    core = k_core(pairs, 2)
    p = _plan(core)
    _lint(p, "k_core")
    assert "Scan ExistingRDD" in p          # checkpoint-bounded rounds


def test_dbscan_nd_cache_pricing_never_runs_pair_join(spark,
                                                      monkeypatch):
    """Round-10 verdict #3: dbscan_nd's cache decision must be priced
    by the cell-histogram aggregate, never by executing the 3^d grid
    join (the old pairs.count() ran the join once to decide, then
    persist() re-ran it to fill the cache).  Booby-trap the pair
    frame's count() — the operator must still complete, in BOTH the
    cached and the over-limit regime."""
    from nasctn_sea_ingest_spark.operators import spatial as SP

    real = SP.grid_distance_join_nd

    def wrapped(*a, **kw):
        df = real(*a, **kw)

        def boom(*_a, **_kw):
            raise AssertionError(
                "cache pricing executed the pair join via count()")

        df.count = boom
        return df

    monkeypatch.setattr(SP, "grid_distance_join_nd", wrapped)
    pts = spark.createDataFrame(
        [(i, float(i % 7) * 3.0, float(i % 5) * 3.0,
          float(i % 3) * 3.0) for i in range(60)],
        "id long, x double, y double, z double")
    for limit in (50_000_000, 1):   # cached and recompute regimes
        out = SP.dbscan_nd(pts, 4.0, 3, coord_cols=("x", "y", "z"),
                           pair_cache_limit=limit)
        assert out.count() == 60


def test_ppr_and_lpa_round_plans(spark):
    """personalized_pagerank and label_propagation rounds: equi-joins +
    hash aggregates only (the 1-row dangling frame may broadcast);
    checkpoint-backed final plans."""
    from nasctn_sea_ingest_spark.operators.graph import (
        label_propagation, personalized_pagerank)

    edges = spark.createDataFrame(
        [(i, (i + 1) % 9) for i in range(9)] + [(0, 5), (3, 7)],
        "src long, dst long")
    out = personalized_pagerank(edges, [0], max_iter=3, tol=None)
    _lint(_plan(out), "personalized_pagerank")
    pairs = edges.toDF("d1", "d2")
    com = label_propagation(pairs, max_iter=3)
    p = _plan(com)
    _lint(p, "label_propagation")
    assert "Scan ExistingRDD" in p


def test_bounded_hop_and_skew_counts_plans(spark, tiny):
    """Round-13 library ops: bounded_hop_distances' small-budget plan
    is fully UNROLLED (no checkpoint scan — digest-visible) and pure
    equi-join + hash-agg; skew_counts is one Expand over one source
    with partial aggregation (the skew_survey shape, value-carrying);
    skew_report off stored counts is one hash-agg, no join."""
    from nasctn_sea_ingest_spark.operators.graph import (
        bounded_hop_distances)
    from nasctn_sea_ingest_spark.operators.quality import (
        skew_counts, skew_report)

    edges = spark.createDataFrame(
        [(i, (i + 1) % 9, i + 1) for i in range(9)],
        "src long, dst long, weight long")
    out = bounded_hop_distances(edges, [0], 3)
    out.collect()
    p = _plan(out).split("== Initial Plan ==")[0]
    _lint(p, "bounded_hop_distances")
    # small budget: the three hops stay UNROLLED in one plan (only the
    # edge list is checkpoint-backed, and that stage carries its own
    # digest) — three relax joins visible, map-side min combine
    import re as _re
    assert len(_re.findall(
        r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", p)) >= 3
    assert "partial_min" in p                # map-side combine per hop

    ev = spark.createDataFrame(
        [("a", i % 3) for i in range(12)], "k string, v int")
    cnts = skew_counts(ev, ["k", ("k", "v")])
    cnts.collect()
    pc = _plan(cnts).split("== Initial Plan ==")[0]
    _lint(pc, "skew_counts")
    assert pc.count("Expand") == 1
    assert "partial_count" in pc
    rep = skew_report(cnts)
    rep.collect()
    pr = _plan(rep).split("== Initial Plan ==")[0]
    _lint(pr, "skew_report")
    assert "Join" not in pr


def test_trace_statistics_plans_have_no_sort_lambda_or_mask_literal(spark):
    """The trace-array statistics stay lambda-free built-ins: no
    array_sort (whose default comparator is a lambda Spark evaluates for
    every comparison) in capture_summary or array_quantile, and
    ul_dl_split slices the trace instead of carrying its downlink masks
    as trace-length boolean literal arrays."""
    import re

    from nasctn_sea_ingest_spark.functions import array_quantile
    from nasctn_sea_ingest_spark.operators import (capture_summary,
                                                   ul_dl_split)

    def plans(df):
        qe = df._jdf.queryExecution()
        return qe.analyzed().toString(), qe.optimizedPlan().toString()

    traces = spark.createDataFrame(
        [("pfp", "mean", "rms", 1.0, 2.0, [1.0, 3.0, 2.0]),
         ("psd", "mean", "rms", 1.0, 2.0, [4.0, 5.0])],
        "table string, capture_statistic string, detector string, "
        "datetime double, frequency double, values array<float>")
    for name, df in (
            ("capture_summary", capture_summary(traces)),
            ("array_quantile",
             traces.select(array_quantile("values", 0.9).alias("q")))):
        for plan in plans(df):
            assert "array_sort(" not in plan, name
            assert "sort_array(" in plan, name

    pfp = traces.withColumn("frame_format", F.lit(2))
    for plan in plans(ul_dl_split(pfp, trace_length=560)):
        runs = [len(m.group(0).split(",")) for m in re.finditer(
            r"(?:(?:true|false),\s*)+(?:true|false)", plan)]
        assert max(runs, default=0) < 560, runs
