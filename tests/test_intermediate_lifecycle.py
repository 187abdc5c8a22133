"""Lifetime of build intermediates: a registered build frees what the
previous one persisted (``loaders.cached``) or checkpointed
(``session.superstep_checkpoint``), so storage in a long session holds
one build's worth of blocks (``registry.release``), and a
``registry.scope()`` frees what its body recorded."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from pudatalake_spark import registry
from pudatalake_spark.loaders import cached

from tests.conftest import SF_DIR, assert_frames_match

# Keys that cache() or checkpoint while they build, cheap at sf0.001.
KEYS = [
    "q_agg_theil",
    "q_dedup_near_minhash",
    "q_graph_pagerank",
    "q_dedup_embedding",
    "q_agg_gini",
    "q_text_line_dedup",
    "q_graph_triangles",
    "q_text_span_dedup",
    "q_win_ntile",
    "q_text_containment",
    "q_graph_hits",
    "q_stats_mad",
    "q_graph_bfs_levels",
    "q_text_heaps_law",
    "q_dedup_groups",
    "q_sim_ndcg",
    "q_agg_lorenz_curve",
    "q_embeddings_pca_power",
    "q_graph_assortativity",
    "q_stats_dkw_band",
]


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def _blocks(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos)


def test_each_build_releases_the_previous_builds_blocks(spark):
    registry.load_all()
    registry.release()
    base_ids, base_blocks = _persistent(spark), _blocks(spark)
    prev: tuple[str, set[int]] | None = None
    holders = 0
    for key in KEYS:
        before = _persistent(spark)
        df = registry.QUERIES[key](spark, SF_DIR)
        if prev is not None:
            left = prev[1] & _persistent(spark)
            assert not left, f"{key}'s build kept {prev[0]}'s RDDs {sorted(left)}"
        df.collect()
        mine = _persistent(spark) - before - base_ids
        holders += bool(mine)
        prev = (key, mine)
    assert holders >= len(KEYS) // 2, f"only {holders} keys held any RDD"
    registry.release()
    assert _blocks(spark) == base_blocks
    assert not _persistent(spark) - base_ids


def test_nested_builders_release_nothing(spark, duck):
    """q_sim_recall_eval checkpoints the exact top-k, then calls the two
    ANN builders; the checkpoint must outlive those inner calls."""
    registry.load_all()
    registry.release()
    before = _persistent(spark)
    df = registry.QUERIES["q_sim_recall_eval"](spark, SF_DIR)
    made = _persistent(spark) - before
    assert made, "no checkpoint of q_sim_recall_eval outlived its build"
    assert_frames_match(
        df.toPandas(),
        duck.execute(registry.ORACLES["q_sim_recall_eval"]).df(),
        "q_sim_recall_eval",
    )
    assert made <= _persistent(spark)
    registry.release()
    assert not made & _persistent(spark)


def test_stream_batches_free_their_own_frames(spark, monkeypatch):
    """s_dedup_cross_corpus signs each micro-batch inside a
    ``registry.scope()``: every batch of the drain sees the same number
    of recorded frames, and the build ends with none of them recorded
    and storage back at its start, with no ``release()`` call."""
    from pudatalake_spark.llmops import dedup

    registry.load_all()
    registry.release()
    base_ids, base_blocks = _persistent(spark), _blocks(spark)
    held: list[int] = []
    signed = []
    probe = dedup.cross_corpus_probe

    def recording_probe(b_sh, b_banded, ref_sh, ref_banded):
        held.append(len(registry._HELD))
        signed.extend([b_sh, b_banded])
        return probe(b_sh, b_banded, ref_sh, ref_banded)

    monkeypatch.setattr(dedup, "cross_corpus_probe", recording_probe)
    registry.QUERIES["s_dedup_cross_corpus"](spark, SF_DIR).collect()
    assert len(held) >= 4, f"drain ran {len(held)} batches"
    assert len(set(held)) == 1, f"recorded frames per batch: {held}"
    assert not any(f is h for f in signed for h in registry._HELD)
    assert _blocks(spark) == base_blocks
    assert not _persistent(spark) - base_ids


def _persisted(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_scope_frees_what_its_body_recorded(spark):
    registry.release()
    outer = cached(spark.range(10))
    outer.count()
    with registry.scope():
        inner = cached(spark.range(20))
        inner.count()
        assert _persisted(inner)
    assert not _persisted(inner)
    assert _persisted(outer)

    with pytest.raises(RuntimeError), registry.scope():
        failed = cached(spark.range(30))
        failed.count()
        raise RuntimeError("inside the scope")
    assert not _persisted(failed)
    assert _persisted(outer)

    with registry.scope():
        early = cached(spark.range(40))
        registry.release()
        assert not _persisted(early)
        assert not _persisted(outer)
    assert registry._HELD == []
