"""Physical-plan regression tests: predicate pushdown, column pruning and
broadcast joins must survive refactors — these assert on the executed plan
text for representative registry queries (Spark version is pinned in this
environment, so the plan markers are stable)."""

from __future__ import annotations

import pytest

from translator_tm_provider_pipelines_spark.plans import testdata_queries as tq

SF = "/root/testdata/sf0.001"


def plan_text(spark, name: str) -> str:
    df = tq.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_documents_pushdown(spark):
    p = plan_text(spark, "filter_documents")
    assert "PushedFilters:" in p
    assert "In(source" in p and "GreaterThanOrEqual(n_chars,100)" in p
    # column pruning: the wide 'text' column must NOT be read
    assert "text" not in p.split("ReadSchema:")[1].splitlines()[0]


def test_regional_revenue_broadcasts_dims(spark):
    p = plan_text(spark, "regional_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pricing_summary_partial_aggregation(spark):
    p = plan_text(spark, "pricing_summary")
    # map-side partial aggregation before the shuffle
    assert "partial_sum" in p or "partial_count" in p


def test_cooccurrence_no_cartesian(spark):
    p = plan_text(spark, "cooccurrence_metrics")
    # the two scalar totals arrive via broadcast nested loop (one-row
    # frames); no unbounded cartesian products
    assert "CartesianProduct" not in p


def test_dictionary_ner_broadcast_dictionary(spark):
    p = plan_text(spark, "dictionary_ner")
    assert "BroadcastHashJoin" in p


def test_minhash_and_fingerprints_zero_shuffle(spark):
    # the doc-level MinHash / fingerprint paths are pure narrow
    # projections: no Exchange may appear in the physical plan
    for q in ("minhash_band_signatures", "doc_fingerprints"):
        assert "Exchange" not in plan_text(spark, q), q


def test_simhash_single_shuffle(spark):
    # one per-doc aggregation shuffle; the shingle DISTINCT is per-row
    # (array_distinct), so exactly one Exchange total
    assert plan_text(spark, "simhash_fingerprints").count("Exchange") == 1


def test_minhash_doc_and_relation_paths_agree(spark):
    from translator_tm_provider_pipelines_spark.operators import dedup

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(50)
        .selectExpr("cast(doc_id as string) doc_id", "text")
    )
    via_doc = {
        (r.doc_id, tuple(r.sig)) for r in dedup.minhash_signatures_doc(docs, num_perms=8).collect()
    }
    via_rel = {
        (r.doc_id, tuple(r.sig))
        for r in dedup.minhash_signatures(dedup.word_shingles(docs), num_perms=8).collect()
    }
    assert via_doc == via_rel


def test_lsh_bucket_cap(spark):
    from pyspark.sql import functions as F

    from translator_tm_provider_pipelines_spark.operators import dedup

    bands = spark.createDataFrame(
        [(0, "sig", f"d{i}") for i in range(5)] + [(1, "other", "a"), (1, "other", "b")],
        "band int, band_sig string, doc_id string",
    )
    uncapped = dedup.lsh_candidate_pairs(bands)
    capped = dedup.lsh_candidate_pairs(bands, max_bucket_size=3)
    assert uncapped.count() == 10 + 1  # C(5,2) + C(2,2)
    assert capped.count() == 1  # the 5-doc bucket is dropped, the pair stays


def test_bucket_cap_reaches_end_to_end_api(spark):
    # The boilerplate-bucket guard must be engageable from the end-to-end
    # near_duplicates / near_dup_keep_list API, not just lsh_candidate_pairs:
    # 40 identical boilerplate docs form one pathological bucket; an
    # unrelated near-dup pair must still dedup when the bucket is dropped.
    from translator_tm_provider_pipelines_spark.operators import dedup

    boiler = "this exact same boilerplate footer text repeats everywhere verbatim"
    rows = [(f"b{i:02d}", boiler) for i in range(40)] + [
        ("x1", "the quick brown fox jumps over the lazy dog near the river"),
        ("x2", "the quick brown fox jumps over the lazy dog near the riverbank"),
        ("solo", "completely unrelated text about spark physical plans and shuffles"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    uncapped = dedup.near_duplicates(docs, threshold=0.5)
    capped = dedup.near_duplicates(docs, threshold=0.5, max_bucket_size=10)
    un_pairs = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    cap_pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert ("x1", "x2") in un_pairs and ("x1", "x2") in cap_pairs
    assert any(a.startswith("b") for a, _ in un_pairs)
    assert not any(a.startswith("b") or b.startswith("b") for a, b in cap_pairs)
    # output otherwise identical: dropping the bucket only removes b-pairs
    assert cap_pairs == {(a, b) for a, b in un_pairs
                         if not (a.startswith("b") or b.startswith("b"))}

    keep = {r.doc_id: r for r in
            dedup.near_dup_keep_list(docs, threshold=0.5, max_bucket_size=10).collect()}
    assert all(keep[f"b{i:02d}"].is_kept for i in range(40))  # bucket dropped
    assert keep["x1"].is_kept and not keep["x2"].is_kept
    assert keep["x2"].canonical_id == "x1"
    assert keep["solo"].is_kept


def test_lsh_band_join_not_ambiguous(spark):
    # variable-length decimal sig values must hash with a separator:
    # without one, ('123','45','6','789') and ('12','3456','78','9') both
    # concatenate to '123456789' and collide
    from translator_tm_provider_pipelines_spark.operators import dedup

    sigs = spark.createDataFrame(
        [("a", ["123", "45", "6", "789"]), ("b", ["12", "3456", "78", "9"])],
        "doc_id string, sig array<string>",
    )
    bands = {r.doc_id: r.band_sig for r in dedup.lsh_bands(sigs, rows_per_band=4).collect()}
    assert bands["a"] != bands["b"]


def test_topk_similar_pairs_no_all_pairs_join(spark):
    # the registered query must use banded-LSH candidates + verification,
    # never an all-pairs self-join (cartesian / nested-loop on vec_a<vec_b)
    p = plan_text(spark, "topk_similar_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dictionary_build_all_broadcast_joins(spark):
    # every join in the ontology-dictionary build is against a
    # dimension-size side → none may fall back to sort-merge. r12: the
    # static config lists (removed/added synonyms, excluded-root closure)
    # became literal map/isin expressions, so the dictionary build itself
    # now has NO joins at all — only the category lookup join of the KGX
    # edge export remains, and it must broadcast.
    for q in ("oger_dictionary", "ontology_kgx_edges"):
        p = plan_text(spark, q)
        assert "SortMergeJoin" not in p, q
    p = plan_text(spark, "oger_dictionary")
    assert "Join" not in p  # literal predicates replaced every join (r12)
    p = plan_text(spark, "ontology_kgx_edges")
    assert "BroadcastHashJoin" in p


def test_ontology_ner_broadcast_dictionary(spark):
    p = plan_text(spark, "ontology_dictionary_ner")
    assert "BroadcastHashJoin" in p


def test_language_id_single_text_scan(spark):
    # round-3 single-scan language ID: exactly ONE regexp_extract_all of
    # the text column in the plan (union-regex over all marker words),
    # not one scan per profile
    p = plan_text(spark, "language_id")
    assert p.count("regexp_extract_all") == 1
    assert "Exchange" not in p  # pure narrow projection


def test_annotation_batch_overlap_broadcast_grid(spark):
    # the dense key×key grid comes from a broadcast nested-loop cross of
    # the dimension-sized key list; the overlaps come from equi-joins —
    # no unplanned CartesianProduct anywhere
    p = plan_text(spark, "annotation_batch_overlap")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_pmid_reference_fix_no_shuffle_before_join(spark):
    # the line-table build and span shift are per-row array expressions;
    # the only exchange permitted is the doc_id equi-join between the
    # fixed docs and fixed annotations
    p = plan_text(spark, "pmid_reference_fix")
    assert "CartesianProduct" not in p


def test_semmed_idf_partial_aggregation(spark):
    # the distinct-PMID count must partial-aggregate map-side before the
    # cui shuffle
    p = plan_text(spark, "semmed_cui_idf")
    assert "partial_count" in p or "partial_aggregation" in p.lower()


def test_star_components_long_chain_logarithmic(spark):
    # A 10k-node path graph has diameter 9999: min-label propagation would
    # need ~10k rounds, the alternating star iteration (the distributed
    # path of connected_components) must finish inside max_iter=30
    # (O(log n)) with every node labeled by the chain minimum.
    import pytest

    from translator_tm_provider_pipelines_spark.operators import dedup

    n = 10_000
    pairs = spark.createDataFrame(
        [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(n - 1)],
        "doc_a string, doc_b string",
    )
    comp = dedup.connected_components(
        pairs, max_iter=30, driver_threshold=0
    ).collect()
    assert len(comp) == n
    assert {r.component for r in comp} == {"n00000"}
    # a round budget that ends before the fixpoint raises instead of
    # returning a split labelling
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2, driver_threshold=0)


def test_star_components_agree_with_label_propagation(spark):
    from translator_tm_provider_pipelines_spark.operators import dedup

    # several clusters incl. a chain, a triangle, reversed edge order
    edges = [
        ("b", "a"), ("b", "c"), ("c", "d"),      # chain with min 'a'
        ("x", "y"), ("y", "z"), ("z", "x"),      # triangle
        ("q", "p"),                               # simple pair
    ]
    # a 120-node path: label propagation would need ~120 rounds (one per
    # hop of diameter), more than the default max_iter of 50
    edges += [(f"w{i:03d}", f"w{i + 1:03d}") for i in range(119)]
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    star = {(r.node, r.component)
            for r in dedup.connected_components(pairs, driver_threshold=0).collect()}
    driver = {(r.node, r.component)
              for r in dedup.connected_components(pairs).collect()}
    assert star == driver
    assert {c for n, c in driver if n.startswith("w")} == {"w000"}
    assert len(driver) == 4 + 3 + 2 + 120


def test_ner_token_chain_single_exchange_and_sort(spark):
    # tokenize → n-gram → broadcast-dict match: the corpus-side token
    # relation must shuffle ONCE (hashpartitioning on doc_id) and sort
    # ONCE — the n-gram lead window orders by the tokenizer's part_idx so
    # it reuses the offset windows' sort (round-4 fix: ordering by the
    # derived tok_idx inserted a second Sort and kept an otherwise-pruned
    # row_number window alive)
    p = plan_text(spark, "dictionary_ner")
    # one corpus-side shuffle on doc_id; the other hash exchange is the
    # dimension-sized dictionary distinct feeding the broadcast
    assert p.count("Exchange hashpartitioning(doc_id") == 1
    assert p.count("+- Sort") == 1


def test_paragraph_dedup(spark):
    from translator_tm_provider_pipelines_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            ("d1", "alpha paragraph\n\nSHARED FOOTER\n\nAD\n\nbeta paragraph"),
            ("d2", "gamma paragraph\n\nSHARED FOOTER\n\nAD"),
            ("d3", "SHARED FOOTER"),          # everything duplicated -> empty
            ("d4", "delta\n\n\n\ndelta"),      # intra-doc dup + empty para
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in dedup.paragraph_dedup(docs, min_chars=5).collect()}
    # first occurrence (min doc_id, pos) keeps the shared footer
    assert out["d1"].text == "alpha paragraph\n\nSHARED FOOTER\n\nAD\n\nbeta paragraph"
    assert out["d1"].n_paragraphs == 4 and out["d1"].n_kept == 4
    # later docs lose it; short 'AD' (< min_chars) is never deduped
    assert out["d2"].text == "gamma paragraph\n\nAD"
    assert out["d2"].n_kept == 2
    assert out["d3"].text == "" and out["d3"].n_kept == 0
    assert out["d3"].n_paragraphs == 1
    # intra-doc duplicate collapses to the first position; empties dropped
    assert out["d4"].text == "delta"
    assert out["d4"].n_paragraphs == 2 and out["d4"].n_kept == 1


def test_pii_redaction_zero_shuffle(spark):
    # the scrub is a pure narrow regexp chain; the fabricated-input scan
    # must also prune to the columns the text is built from
    p = plan_text(spark, "pii_redaction")
    assert "Exchange" not in p
    assert "c_acctbal" not in p.split("ReadSchema:")[1].splitlines()[0]


def test_benchmark_decontamination_corpus_never_shuffles(spark):
    # the benchmark n-gram dim broadcasts; the corpus side's only
    # exchange is the one-row-per-doc aggregate AFTER partial combine
    p = plan_text(spark, "benchmark_decontamination")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_count" in p  # map-side combine on doc_id


def test_sequence_packing_single_shard_exchange(spark):
    p = plan_text(spark, "sequence_packing")
    assert p.count("Exchange hashpartitioning(shard") == 1
    assert "Exchange SinglePartition" not in p  # no one-reducer global sort


def test_deterministic_sample_zero_shuffle(spark):
    for q in ("deterministic_corpus_sample", "stratified_corpus_mixture"):
        assert "Exchange" not in plan_text(spark, q), q


def test_repeated_kgram_spans_two_exchanges(spark):
    # exactly two data exchanges: the gram-key count window and the
    # doc-keyed span merge — the corpus text itself never re-shuffles
    p = plan_text(spark, "repeated_kgram_spans")
    assert p.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_oversize_star_policy(spark):
    """oversize_policy='star': over-cap buckets emit linear
    representative->member edges instead of being dropped; keep list
    equals the uncapped one while candidate volume is linear."""
    from translator_tm_provider_pipelines_spark.operators import dedup

    bands = spark.createDataFrame(
        [(0, "sig", f"d{i}") for i in range(5)] + [(1, "other", "a"), (1, "other", "b")],
        "band int, band_sig string, doc_id string",
    )
    star = dedup.lsh_candidate_pairs(bands, max_bucket_size=3, oversize_policy="star")
    got = {(r.doc_a, r.doc_b) for r in star.collect()}
    # over-cap 5-bucket: 4 star edges from min member d0; small bucket keeps its pair
    assert got == {("d0", "d1"), ("d0", "d2"), ("d0", "d3"), ("d0", "d4"), ("a", "b")}

    import pytest

    with pytest.raises(ValueError, match="oversize_policy"):
        dedup.lsh_candidate_pairs(bands, max_bucket_size=3, oversize_policy="nope")

    boiler = "this exact same boilerplate footer text repeats everywhere verbatim"
    rows = [(f"b{i:02d}", boiler) for i in range(40)] + [
        ("x1", "the quick brown fox jumps over the lazy dog near the river"),
        ("x2", "the quick brown fox jumps over the lazy dog near the riverbank"),
        ("solo", "completely unrelated text about spark physical plans and shuffles"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    keep_star = {
        r.doc_id: r
        for r in dedup.near_dup_keep_list(
            docs, threshold=0.5, max_bucket_size=10, oversize_policy="star"
        ).collect()
    }
    keep_full = {
        r.doc_id: r for r in dedup.near_dup_keep_list(docs, threshold=0.5).collect()
    }
    assert {k: (v.canonical_id, v.is_kept) for k, v in keep_star.items()} == {
        k: (v.canonical_id, v.is_kept) for k, v in keep_full.items()
    }
    # the boilerplate cluster still collapses to its min member under star
    assert not keep_star["b39"].is_kept and keep_star["b39"].canonical_id == "b00"
    # ...but through linear candidate volume: 39 star edges + tail pairs,
    # nowhere near C(40,2)=780
    n_cand = dedup.lsh_candidate_pairs(
        dedup.lsh_bands(dedup.minhash_signatures_doc(docs)),
        max_bucket_size=10,
        oversize_policy="star",
    ).count()
    assert n_cand < 100


def test_dsir_weights_broadcast_ratio_table(spark):
    """DSIR scoring joins the exploded feature stream against the
    bucket-ratio table via BROADCAST (the table is <= n_buckets rows) —
    a sort-merge there would shuffle the corpus-sized feature stream."""
    p = plan_text(spark, "dsir_log_weights")
    assert "BroadcastHashJoin" in p


def test_unigram_logprob_broadcast_vocab(spark):
    """Unigram scoring broadcasts the vocabulary logprob table; the
    token stream itself is never sort-merge-joined."""
    p = plan_text(spark, "unigram_logprob")
    assert "BroadcastHashJoin" in p


def _first_filter_below(plan: str, window_marker: str) -> str:
    """The first Filter line below the (unique) matching Window operator —
    the boundary-slice guard these tests pin."""
    lines = plan.splitlines()
    idx = [i for i, l in enumerate(lines) if "Window [row_number()" in l and window_marker in l]
    assert len(idx) == 1, f"expected exactly one ranking window, got {len(idx)}"
    for line in lines[idx[0] + 1:]:
        if "Filter" in line:
            return line
    raise AssertionError("no Filter below the ranking window")


def test_dsir_selection_ranks_boundary_slice_only(spark):
    """dsir_select's global row_number window must consume the
    approxQuantile-bracketed boundary slice, never the full weight
    relation (the round-6 `weak`: a partition-less window funnels every
    row through ONE task at 10^9+ docs)."""
    f = _first_filter_below(plan_text(spark, "dsir_top_selection"), "log_weight")
    assert "log_weight" in f and ">=" in f and "<=" in f


def _first_join_below(plan: str, window_marker: str, col_marker: str) -> str:
    """The first BroadcastHashJoin line below the (unique) matching Window
    operator — the mixture samplers' slice predicate lives in its residual
    join condition."""
    lines = plan.splitlines()
    idx = [
        i
        for i, l in enumerate(lines)
        if window_marker in l and col_marker in l
    ]
    assert len(idx) == 1, f"expected exactly one matching window, got {len(idx)}"
    for line in lines[idx[0] + 1:]:
        if "BroadcastHashJoin" in line:
            return line
    raise AssertionError("no BroadcastHashJoin below the window")


def test_temperature_sample_ranks_prefiltered_sources(spark):
    """temperature_sample's per-source window must consume only the
    md5-prefix survivors (~slack x quota rows per source), never each
    source's full row set (source cardinality is small by design, so an
    unfiltered window is one task per source over the whole corpus).
    The threshold must arrive via the BROADCAST plan-table join, never
    an O(n_sources) CASE WHEN chain (codegen blowup past ~1k sources).
    Catalyst folds the slice predicate into the broadcast join's residual
    condition — rows are dropped during the probe, before the window's
    Exchange+Sort ever sees them."""
    plan = plan_text(spark, "temperature_mixture_sample")
    j = _first_join_below(plan, "Window [row_number()", "source")
    assert "substring(md5(" in j and "__thr" in j and "__def" in j
    assert "CASE WHEN" not in plan


def test_token_budget_sample_cumsum_over_prefiltered_sources(spark):
    """token_budget_sample's per-source cumulative-sum window must consume
    only the md5-prefix survivors, mirroring temperature_sample's
    boundary-slice contract — threshold via the broadcast plan table
    (folded into the join's residual condition), never a per-source
    CASE WHEN chain."""
    plan = plan_text(spark, "token_budget_mixture_sample")
    j = _first_join_below(plan, "Window [sum(", "source")
    assert "substring(md5(" in j and "__thr" in j and "__def" in j
    assert "CASE WHEN" not in plan


def test_dsir_gumbel_ranks_boundary_slice_only(spark):
    """dsir_gumbel_resample shares boundary_top_n with dsir_select: its
    Gumbel-key window must consume a bracketed Filter slice, never the
    full weight relation."""
    f = _first_filter_below(plan_text(spark, "dsir_gumbel_resample"), "__gkey")
    assert "__gkey" in f and ">=" in f and "<=" in f


@pytest.mark.slow
def test_plans_md_is_fresh(tmp_path):
    """r8 VERDICT task 7: PLANS.md must be exactly what
    scripts/dump_plans.py would write for the current code — the
    snapshots were hand-refreshed and drifted mid-round in r8. Runs in a
    subprocess with the generator's own session config (the suite's
    local[4]/4-shuffle-partition session would legitimately change
    Exchange partition counts); session-dependent ids are normalized by
    the generator itself."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_file = tmp_path / "plans_now.md"
    script = tmp_path / "regen.py"
    script.write_text(
        f"""
import importlib.util, sys
sys.path.insert(0, {repo!r})
spec = importlib.util.spec_from_file_location(
    "dump_plans", {repo!r} + "/scripts/dump_plans.py")
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
from translator_tm_provider_pipelines_spark.session import get_spark
spark = get_spark(app_name="plans-fresh")
spark.sparkContext.setLogLevel("ERROR")
open({str(out_file)!r}, "w").write(m.render(spark))
spark.stop()
"""
    )
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "32"  # the generator's committed config
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=repo,
        env=env,
    )
    assert proc.returncode == 0, (
        f"plan regeneration failed\nstdout: {proc.stdout[-2000:]}\n"
        f"stderr: {proc.stderr[-2000:]}"
    )
    with open(os.path.join(repo, "PLANS.md")) as f:
        committed = f.read()
    fresh = out_file.read_text()
    assert fresh == committed, (
        "PLANS.md is stale: an operator's executed plan changed without a "
        "snapshot refresh. Run `python scripts/dump_plans.py` and commit "
        "the result. First divergence:\n"
        + next(
            (
                f"committed: {a!r}\nfresh:     {b!r}"
                for a, b in zip(committed.splitlines(), fresh.splitlines())
                if a != b
            ),
            "(length difference only)",
        )
    )


def test_near_dup_star_rescued_checkpointed_reuse(spark):
    """r11 task 4: the rescued registry query materializes the band and
    candidate tables once — the final executed plan verifies only the
    rescue round's candidates on top of checkpointed inputs (ExistingRDD
    scans), never a re-derivation of the minhash->bands->star pipeline,
    and contains no cartesian expansion. A full execution stays within a
    bounded job count: four checkpoints plus the final action, not a
    per-consumer recompute of the base pipeline (the r10 shape ran ~95
    stages and 11.3 s at sf0.1; the checkpointed shape halves it)."""
    sc = spark.sparkContext
    sc.setJobGroup("rescued_shape", "plan/job shape")
    try:
        df = tq.QUERIES["near_dup_star_rescued"](spark, SF)
        df.count()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("rescued_shape")
    assert 0 < len(jobs) <= 40
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # v1 and cand2 enter the final plan as checkpoint scans
    assert p.count("Scan ExistingRDD") >= 2
    # only the second verify stage still reads the corpus
    assert p.count("Scan parquet") <= 4


def test_near_dup_star_repaired_checkpointed_reuse(spark):
    """r12: the repaired registry query gets the same treatment the
    rescued one got in r11 task 4 — bands/candidates/v1 materialized
    once, the single repair hop built on checkpoint scans. The final
    executed plan verifies only the hop's candidates on top of
    ExistingRDD scans (never a re-derivation of the minhash->bands->star
    pipeline), contains no cartesian expansion, and a full execution
    stays within the same bounded job count as the rescued sibling."""
    sc = spark.sparkContext
    sc.setJobGroup("repaired_shape", "plan/job shape")
    try:
        df = tq.QUERIES["near_dup_star_repaired"](spark, SF)
        df.count()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("repaired_shape")
    assert 0 < len(jobs) <= 40
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # v1 and cand2 enter the final plan as checkpoint scans
    assert p.count("Scan ExistingRDD") >= 2
    # only the second verify stage still reads the corpus
    assert p.count("Scan parquet") <= 4


def test_star_loops_reuse_materialized_overcap_bands(spark, monkeypatch):
    """r11: once a converged hop/rescue loop proves it is genuinely
    looping (a first productive round), it materializes the over-cap
    band restriction and the attempted set ONCE and passes them into
    every later round — instead of re-running the minhash->bands->sizes
    pipeline per iteration (the sf10 converged hop loop paid that
    full-corpus re-derivation 6x). Lazily, so a single-round run never
    pays the checkpoint (measured ~2 s pure overhead on the 1-hop bench
    query at sf0.1)."""
    from translator_tm_provider_pipelines_spark.operators import dedup

    seen = []
    real_untried = dedup._star_untried_edges
    real_hop = dedup.star_second_hop_pairs

    def spy_untried(bands, verified, mbs, **kw):
        seen.append(("rescue", kw.get("overcap_bands")))
        return real_untried(bands, verified, mbs, **kw)

    def spy_hop(bands, verified, mbs, **kw):
        seen.append(("hop", kw.get("overcap_bands")))
        return real_hop(bands, verified, mbs, **kw)

    monkeypatch.setattr(dedup, "_star_untried_edges", spy_untried)
    monkeypatch.setattr(dedup, "star_second_hop_pairs", spy_hop)
    # chain corpus: adjacent docs are near-dups at 0.85, far pairs are
    # not, so the converged hop loop runs a productive hop before the
    # empty-check round (same fixture family as test_dedup_incremental)
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu amber birch cedar dune "
        "ember fjord grove heath iris jade knoll lotus maple nectar "
        "onyx pearl quartz reef slate topaz umber vale willow zenith "
        "arbor basin cliff ridge marsh glen fen moor crag peak"
    ).split()
    repl = "one two three four five six seven eight nine ten".split()
    docs = spark.createDataFrame(
        [(i, " ".join(repl[: 2 * i] + base[2 * i:])) for i in range(5)],
        "doc_id int, text string",
    )
    dedup.near_duplicates(
        docs, threshold=0.85, k=3, num_perms=8, rows_per_band=1,
        max_bucket_size=2, oversize_policy="star",
        star_repair_hops=-1, star_rescue_reps=8,
    ).count()
    hops = [ob for kind, ob in seen if kind == "hop"]
    rescues = [ob for kind, ob in seen if kind == "rescue"]
    assert hops and rescues
    # first hop derives from lineage (lazy), later rounds get the
    # materialized frame; the rescue reuses the hop loop's checkpoint
    assert hops[0] is None
    assert len(hops) >= 2 and hops[-1] is not None
    assert all(ob is not None for ob in rescues)
    for ob in hops[1:] + rescues:
        # materialized (checkpoint scan), not lineage
        assert "LogicalRDD" in ob._jdf.queryExecution().analyzed().toString()
