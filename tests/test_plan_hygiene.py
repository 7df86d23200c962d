"""Plan-hygiene gate over the whole catalog.

Catalyst does NOT dedupe common subtrees: every extra plan reference to
an expensive stage re-EXECUTES it (round 4 found the perceptual-hash
near-dup query running its Arrow-batch Python decode FOUR times via a
self-join + guard-join).  This test plans every registered query and
fails if any physical plan contains more than one Python stage — the
canonical symptom of that class of bug.

Repeated SCANS are allowed (several queries re-read a pruned column set
for intrinsic reasons: set ops, train-then-score LMs, MAD's two passes)
— but a repeated Python stage is never intentional in this codebase.
"""

from __future__ import annotations

import pytest

from waddleml_spark import catalog
from tests.conftest import SF_SMOKE

_PY_MARKERS = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")

# wide-column (text/payload) scan budget: 1 unless the query's semantics
# genuinely need independent passes.  Adding a name here requires a
# justification — "Catalyst evaluated my subtree twice" is NOT one
# (restructure instead: window flags, bucket-group, or a digest-grain
# localCheckpoint).
_WIDE_SCAN_BUDGET = {
    "bigram_lm_quality_by_lang": 2,   # train the LM, then score (two passes by definition)
    # same fit-then-score class as the bigram LM: one pass counts the
    # target/raw bucket multinomials, one scores occurrences against the
    # <=1024-row weight table; a rotate_persist of the occurrence frame
    # was measured NOT better (r9: 0.909 vs 0.855 s at sf0.1, ambiguous
    # at 100x — textstats.dsir_scores docstring)
    "dsir_importance_by_source": 2,
    "perplexity_buckets_by_lang": 2,  # same bigram-LM train-then-score core; the bucketing
                                      # join reads only doc_id/lang/n_chars (pruned, no text)
    "contamination_by_source": 2,     # corpus shingles vs eval-set shingles (different filters)
    "incremental_dedup_report": 2,    # stored-index role vs incoming-batch role of the same table
    "jaccard_verify_lsh": 3,          # candidates + two hydration sides; persisting shingle sets
                                      # would materialize corpus-scale arrays (documented trade)
    "minhash_estimate_audit": 3,      # same composition: signature-carrying candidate pipeline
                                      # (one text pass) + the jaccard_verify_lsh hydration trade
                                      # (two sides; corpus-scale shingle arrays don't persist)
    # levenshtein hydration persists BOTH the candidates frame (read 3x:
    # id-union twice + pair join) and the participant text frame (read
    # 2x: join sides) — the plan STRING prints the cached subtree's text
    # scan once per reference (3+2+2 nested = 7 textual), but execution
    # scans text exactly TWICE (one cache build each), down from 3 in
    # the uncached shape (measured 1.99 -> 1.71 s at sf0.1)
    "levenshtein_verify_lsh": 7,
    # the two verifier demos are minhash-block-candidate-fed (round-6
    # de-quadratic): blocking chain + two hydration sides, same trade as
    # jaccard_verify_lsh (persisting corpus-scale ws/tx arrays loses)
    "jaccard_word_pairs_src0": 3,
    "levenshtein_pairs_src0": 3,
    # these two persist() a digest/doc-grain frame: the plan STRING
    # embeds the cached subtree's FileScan once per reference, but the
    # InMemoryRelation executes the scan once — textual count 2,
    # execution count 1
    "media_frame_neardup_pairs": 2,
    "sequence_packing_report": 2,
    # the bloom report rotate_persists ONE exploded shingle-row frame
    # (round-6: the former localCheckpoint pinned corpus-scale
    # unevictable blocks); three consumers reference it (probe branch,
    # exact-audit pair) and the plan STRING prints the cached subtree's
    # text scan per nested reference — textual 6, execution 1 (the
    # bloom_build action builds the cache; everything after reads it)
    "bloom_decontamination_report": 6,
    # two passes by definition (train the merges from word frequencies,
    # then encode every doc); the encode side's persisted word explode
    # prints its text scan once per plan reference (textual 2, execution
    # 2 — the frequency pass + the cache build)
    "bpe_encode_report": 2,
    # the CMS audit persists the token explode; the sketch-build action
    # materializes it, so the returned plan's single reference prints
    # the cached subtree's text scan twice (cache-build + reference) —
    # textual count 2, execution count 1.  The audit is intrinsically
    # two logical passes (sketch pass + exact-count pass) like the
    # bigram LM's train-then-score
    "cms_heavy_hitters_report": 2,
    # the end-to-end funnel persists THREE doc-grain frames (base flags,
    # exact keepers, final keepers) and unions five aggregates over
    # them; the plan STRING prints the cached base subtree's text scan
    # once per nested reference (8 textual), but execution scans text
    # exactly TWICE — the base cache build and the pruned re-scan
    # feeding MinHash on exact-unique survivors (stage-count verified:
    # the funnel's only corpus-scale work is those two passes)
    "corpus_pipeline_report": 8,
    # gram pass + chunk pass over the corpus (cross-grain logic the
    # no-CSE rule cannot fuse; the bigram-LM two-pass precedent) plus
    # the bench-side gram scan
    "decontamination_rewrite_report": 3,
}


@pytest.mark.parametrize("name", sorted(catalog.QUERIES))
def test_no_duplicated_python_stage(spark, name):
    import re

    # plan stringification truncates ReadSchema at
    # spark.sql.maxMetadataStringLength (default 100): a wide schema
    # could push 'text'/'payload' past the cutoff and under-count scans.
    # Clear the SQL cache first: a MATERIALIZED InMemoryRelation left by
    # an earlier test prints its embedded FileScan with extra detail per
    # reference, inflating the textual count without extra execution.
    spark.catalog.clearCache()
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = catalog.QUERIES[name](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    counts = {m: plan.count(m) for m in _PY_MARKERS if plan.count(m)}
    total = sum(counts.values())
    assert total <= 1, (
        f"{name}: {total} Python stages in one plan ({counts}) — a plan "
        "subtree containing Python is referenced more than once and will "
        "re-execute per reference; restructure to a single evaluation "
        "(bucket-group / window flags / localCheckpoint)"
    )
    wide = len(re.findall(r"ReadSchema: [^\n]*(?:text|payload)[^\n]*", plan))
    budget = _WIDE_SCAN_BUDGET.get(name, 1)
    assert wide <= budget, (
        f"{name}: {wide} scans read the wide text/payload columns "
        f"(budget {budget}) — at corpus scale each extra scan is a full "
        "pass over the biggest bytes in the table"
    )


def test_containment_carries_partial_window_group_limit(spark):
    """doc_containment_pairs' scale guard (r11): the dense_rank <=
    max_df+1 cap must compile to a PARTIAL WindowGroupLimit — the
    map-side cut that bounds what a universal shingle ships through
    the gram-grain exchange.  If a Spark upgrade or plan edit drops
    the partial mode, the memory bound silently reverts to the
    unbounded collect-then-filter posture this guard replaced."""
    df = catalog.QUERIES["doc_containment_pairs"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan[:2000]
    partial = [
        l for l in plan.splitlines()
        if "WindowGroupLimit" in l and "Partial" in l
    ]
    assert any("dense_rank" in l for l in partial), partial


def test_decontamination_bench_scan_pushes_predicate(spark):
    """r11 opt round: the NULL-predicate fix originally spelled the
    bench/corpus split as NOT coalesce(pred, false), which is not a
    parquet-translatable atom — every PushedFilters entry vanished and
    the selective benchmark scan stopped pruning.  The filters are now
    pushable leaves (filter(pred) on the bench side, ~pred OR pred IS
    NULL on the corpus side); pin that the bench scan actually pushes
    the source equality so a future edit cannot silently regress it."""
    import re

    df = catalog.QUERIES["decontamination_rewrite_report"](spark, SF_SMOKE)
    qe = df._jdf.queryExecution()
    # the bench side's literal, read from the query's own predicate
    bench = re.findall(r"Filter \(source#\d+ = ([^)]+)\)", qe.optimizedPlan().toString())
    assert bench, "no `source = <literal>` Filter left: the bench split changed shape"
    want = f"EqualTo(source,{bench[0]})"
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", qe.executedPlan().toString())
    assert any(want in p for p in pushed), f"no scan pushes {want}; PushedFilters: {pushed}"
