"""Lifecycle of the memoized model frames in queries/_model_cache.py
(the co-purchase edge checkpoint q121/q164/q166/q197 share, the pair,
signature, index, DSIR and BPE memos): eviction must actually free the
localCheckpoint blocks, and a forced view refresh or a view-dir switch
must invalidate the memo so a regenerated fixture dir can't serve stale
frames — while leaving other sessions' memos alone."""

from __future__ import annotations

import os

from tests.conftest import SF_MED, SF_SMALL


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _rows(df):
    return sorted(df.collect())


def test_force_register_invalidates_edge_cache(spark):
    from pandas_td_spark.queries.advanced import (
        _copurchase_adjacency,
        _copurchase_edges,
        _copurchase_oriented,
        distinct_order_parts,
    )
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF_SMALL)
    helpers = (
        distinct_order_parts,
        _copurchase_edges,
        _copurchase_oriented,
        _copurchase_adjacency,
    )
    frames = [h(spark) for h in helpers]
    # collected BEFORE eviction — eviction releases checkpoint blocks
    # eagerly, so stale handles are unusable afterwards (by design)
    before = [_rows(f) for f in frames]
    assert before[1], "fixture must have co-purchase edges"
    assert [h(spark) for h in helpers] == frames, "a hit must not rebuild"
    register_views(spark, SF_SMALL, force=True)
    rebuilt = [h(spark) for h in helpers]
    assert all(a is not b for a, b in zip(rebuilt, frames)), (
        "force=True must evict the memoized frames built from the old files"
    )
    # and the consumers transparently rebuild to the same answer
    assert [_rows(f) for f in rebuilt] == before


def test_evict_edge_cache_unpersists(spark):
    from pandas_td_spark.queries._model_cache import evict
    from pandas_td_spark.queries.advanced import _copurchase_edges
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF_SMALL)
    e = _copurchase_edges(spark)
    n = e.count()
    before = _persistent_rdds(spark)
    assert before > 0, "edge build must have left checkpoint blocks"
    evict()
    # r11 (ADVICE r10): eviction releases the checkpoint RDD blocks
    # EAGERLY, not at Python GC
    assert _persistent_rdds(spark) < before
    e2 = _copurchase_edges(spark)
    assert e2 is not e and e2.count() == n


def test_force_register_invalidates_bpe_merge_cache(spark):
    """ADVICE r9: the q265/q270 merge-table memo must be evicted by
    register_views(force=True) like the edge and pairs memos — a
    regenerated fixture dir under the same path would otherwise serve a
    stale merge table while the oracle recomputes from the new data.
    The memo holds a row list, not a frame: eviction must tolerate it."""
    from pandas_td_spark.queries.curation import _bpe_merges_cached
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF_SMALL)
    merges = _bpe_merges_cached(spark)
    assert merges, "fixture corpus should train at least one merge"
    assert _bpe_merges_cached(spark) is merges
    register_views(spark, SF_SMALL, force=True)
    retrained = _bpe_merges_cached(spark)
    assert retrained is not merges, "force=True must evict the merge table"
    # and the consumer transparently retrains to the same table
    assert retrained == merges


def test_force_register_invalidates_r10_model_caches(spark):
    """The memoized pair set, SimHash signatures, expression-bucket LSH
    index and DSIR weights share the eviction contract:
    register_views(force=True) drops all of them, and each rebuilds to
    the same rows."""
    from pandas_td_spark.queries.curation import _dsir_weights_cached
    from pandas_td_spark.queries.llm import (
        _lsh_index_cached,
        _near_dup_pairs_cached,
        _simhash_sigs_cached,
    )
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF_SMALL)
    helpers = (
        _near_dup_pairs_cached,
        _simhash_sigs_cached,
        _lsh_index_cached,
        _dsir_weights_cached,
    )
    frames = [h(spark) for h in helpers]
    before = [_rows(f) for f in frames]
    assert all(before[1:]), "signature/index/weight tables must be non-empty"
    assert [h(spark) for h in helpers] == frames, "a hit must not rebuild"
    register_views(spark, SF_SMALL, force=True)
    rebuilt = [h(spark) for h in helpers]
    assert all(a is not b for a, b in zip(rebuilt, frames)), (
        "force=True must evict every model memo"
    )
    assert [_rows(f) for f in rebuilt] == before


def test_view_dir_switch_releases_old_dir_blocks(spark):
    from pandas_td_spark.queries.advanced import _copurchase_edges
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF_SMALL)
    e = _copurchase_edges(spark)
    n = e.count()
    before = _persistent_rdds(spark)
    register_views(spark, SF_MED)  # no force: a plain dir switch
    try:
        assert _persistent_rdds(spark) < before, (
            "switching the view dir must release the old dir's blocks"
        )
    finally:
        register_views(spark, SF_SMALL)
    e2 = _copurchase_edges(spark)
    assert e2 is not e and e2.count() == n


def test_force_on_one_session_leaves_other_sessions_group(spark):
    from pandas_td_spark.queries._model_cache import evict
    from pandas_td_spark.queries.advanced import _copurchase_edges
    from pandas_td_spark.sources.io import register_views

    other = spark.newSession()
    register_views(spark, SF_SMALL)
    register_views(other, SF_SMALL)
    try:
        mine, theirs = _copurchase_edges(spark), _copurchase_edges(other)
        assert mine is not theirs, "each session memoizes its own frames"
        n = theirs.count()
        register_views(spark, SF_SMALL, force=True)
        assert _copurchase_edges(spark) is not mine
        assert _copurchase_edges(other) is theirs
        # its checkpoint blocks are still there: a released checkpoint
        # could not be recounted
        assert theirs.count() == n
    finally:
        evict(other, os.path.abspath(SF_SMALL))
