"""Lifecycle of the memoized state in engine/store.py (the co-purchase
edge checkpoint q121/q164/q166/q197 share, the pair, signature, index,
DSIR and BPE memos, the SemDeDup anchors): eviction must actually free
the localCheckpoint blocks, and a change to the bound files or a
view-dir switch must invalidate the memo so a rewritten fixture can't
serve stale state — while leaving other sessions' memos alone. File
changes are made on a writable copy of the sf0.001 fixture."""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow.parquet as pq
import pytest

from pandas_td_spark.sources.io import register_views, table_path
from tests.conftest import SF_MED, SF_SMALL


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _rows(df):
    return sorted(df.collect())


@pytest.fixture
def sf_copy(tmp_path) -> str:
    d = str(tmp_path / "sf")
    os.makedirs(d)
    for f in os.listdir(SF_SMALL):
        shutil.copyfile(os.path.join(SF_SMALL, f), os.path.join(d, f))
    return d


def _touch(sf_dir: str, *names: str) -> None:
    """Move the tables' mtimes on by a second: a rewrite with the same
    rows, as the views' content stamp sees it."""
    for name in names:
        p = table_path(sf_dir, name)
        st = os.stat(p)
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_force_register_invalidates_edge_cache(spark, sf_copy):
    from pandas_td_spark.queries.advanced import (
        _copurchase_adjacency,
        _copurchase_edges,
        _copurchase_oriented,
        distinct_order_parts,
    )

    register_views(spark, sf_copy)
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
    _touch(sf_copy, "lineitem")
    register_views(spark, sf_copy)
    rebuilt = [h(spark) for h in helpers]
    assert all(a is not b for a, b in zip(rebuilt, frames)), (
        "a file change must evict the memoized frames built from the old files"
    )
    # and the consumers transparently rebuild to the same answer
    assert [_rows(f) for f in rebuilt] == before


def test_evict_edge_cache_unpersists(spark):
    from pandas_td_spark.engine.store import evict
    from pandas_td_spark.queries.advanced import _copurchase_edges

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


def test_force_register_invalidates_bpe_merge_cache(spark, sf_copy):
    """ADVICE r9: the q265/q270 merge-table memo must be evicted by a
    re-registration after the files change, like the edge and pairs
    memos — a regenerated fixture dir under the same path would
    otherwise serve a stale merge table while the oracle recomputes
    from the new data. The memo holds a row list, not a frame: eviction
    must tolerate it."""
    from pandas_td_spark.queries.curation import _bpe_merges_cached

    register_views(spark, sf_copy)
    merges = _bpe_merges_cached(spark)
    assert merges, "fixture corpus should train at least one merge"
    assert _bpe_merges_cached(spark) is merges
    _touch(sf_copy, "documents")
    register_views(spark, sf_copy)
    retrained = _bpe_merges_cached(spark)
    assert retrained is not merges, "a file change must evict the merge table"
    # and the consumer transparently retrains to the same table
    assert retrained == merges


def test_force_register_invalidates_r10_model_caches(spark, sf_copy):
    """The memoized pair set, SimHash signatures, expression-bucket LSH
    index and DSIR weights share the eviction contract: a
    re-registration after the files change drops all of them, and each
    rebuilds to the same rows."""
    from pandas_td_spark.queries.curation import _dsir_weights_cached
    from pandas_td_spark.queries.llm import (
        _lsh_index_cached,
        _near_dup_pairs_cached,
        _simhash_sigs_cached,
    )

    register_views(spark, sf_copy)
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
    _touch(sf_copy, "documents", "embeddings")
    register_views(spark, sf_copy)
    rebuilt = [h(spark) for h in helpers]
    assert all(a is not b for a, b in zip(rebuilt, frames)), (
        "a file change must evict every model memo"
    )
    assert [_rows(f) for f in rebuilt] == before


def test_view_dir_switch_releases_old_dir_blocks(spark):
    from pandas_td_spark.queries.advanced import _copurchase_edges

    register_views(spark, SF_SMALL)
    e = _copurchase_edges(spark)
    n = e.count()
    before = _persistent_rdds(spark)
    register_views(spark, SF_MED)
    try:
        assert _persistent_rdds(spark) < before, (
            "switching the view dir must release the old dir's blocks"
        )
    finally:
        register_views(spark, SF_SMALL)
    e2 = _copurchase_edges(spark)
    assert e2 is not e and e2.count() == n


def test_force_on_one_session_leaves_other_sessions_group(spark, sf_copy):
    from pandas_td_spark.engine.store import evict
    from pandas_td_spark.queries.advanced import _copurchase_edges

    other = spark.newSession()
    register_views(spark, sf_copy)
    register_views(other, sf_copy)
    try:
        mine, theirs = _copurchase_edges(spark), _copurchase_edges(other)
        assert mine is not theirs, "each session memoizes its own frames"
        n = theirs.count()
        _touch(sf_copy, "lineitem")
        register_views(spark, sf_copy)
        assert _copurchase_edges(spark) is not mine
        assert _copurchase_edges(other) is theirs
        # its checkpoint blocks are still there: a released checkpoint
        # could not be recounted
        assert theirs.count() == n
    finally:
        evict(other)


def test_rewritten_table_rebuilds_stale_edges(spark, sf_copy):
    """Rewriting lineitem with its first half and re-registering the
    same dir must rebuild the edges from the new file (2726 edges at
    sf0.001), not serve the 8899 built from the old one."""
    from pandas_td_spark.engine.store import evict
    from pandas_td_spark.queries.advanced import _copurchase_edges

    register_views(spark, sf_copy)
    edges = _copurchase_edges(spark)
    n_before = edges.count()
    p = table_path(sf_copy, "lineitem")
    li = pq.read_table(p)
    pq.write_table(li.slice(0, li.num_rows // 2), p)
    register_views(spark, sf_copy)
    assert spark.table("lineitem").count() == li.num_rows // 2
    rebuilt = _copurchase_edges(spark)
    assert rebuilt is not edges, "the edges of the old file were served"
    fresh = spark.newSession()
    register_views(fresh, sf_copy)
    try:
        n_fresh = _copurchase_edges(fresh).count()
    finally:
        evict(fresh)
    assert rebuilt.count() == n_fresh < n_before


def test_rewritten_embeddings_rebuild_stale_anchors(spark, sf_copy):
    """Rewriting embeddings without its 8 anchor rows (the smallest
    md5(vec_id)) and re-registering the same dir must re-pick the
    anchors from the new file: q109 then finds the 17 pairs a fresh
    session finds, not the 14 the old anchors' cells give."""
    from pandas_td_spark.engine.store import evict
    from pandas_td_spark.queries.registry import spark_queries

    q109 = spark_queries()["q109_semdedup_pairs"]
    assert len(q109(spark, sf_copy).collect()) == 16
    p = table_path(sf_copy, "embeddings")
    emb = pq.read_table(p)
    ids = emb.column("vec_id").to_pylist()
    anchors = set(
        sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:8]
    )
    keep = [i not in anchors for i in ids]
    pq.write_table(emb.filter(keep), p)
    register_views(spark, sf_copy)
    assert spark.table("embeddings").count() == len(ids) - 8
    got = sorted(q109(spark, sf_copy).collect())
    fresh = spark.newSession()
    try:
        want = sorted(q109(fresh, sf_copy).collect())
    finally:
        evict(fresh)
    assert len(want) == 17
    assert got == want, "q109 served cells of the old file's anchors"


def test_unchanged_dir_binds_nothing(spark, sf_copy, monkeypatch):
    from pandas_td_spark.queries.advanced import _copurchase_edges
    from pandas_td_spark.sources import io

    register_views(spark, sf_copy)
    edges = _copurchase_edges(spark)
    bound = []
    real = io.read_table

    def spy(spark, sf_dir, name, *args, **kwargs):
        bound.append(name)
        return real(spark, sf_dir, name, *args, **kwargs)

    monkeypatch.setattr(io, "read_table", spy)
    register_views(spark, sf_copy)
    assert bound == [], "an unchanged dir must not rebind its views"
    assert _copurchase_edges(spark) is edges
    _touch(sf_copy, "region")
    register_views(spark, sf_copy)
    assert bound == io.table_names(sf_copy), "a change rebinds every view"


def test_removed_table_drops_its_view(spark, sf_copy):
    register_views(spark, sf_copy)
    assert spark.catalog.tableExists("region")
    os.remove(table_path(sf_copy, "region"))
    register_views(spark, sf_copy)
    assert not spark.catalog.tableExists("region")
    assert spark.table("nation").count() > 0
