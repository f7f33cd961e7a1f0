"""Round-3 correctness fixes:

- key_value: key shaping (transform_key / delete_key_regex / strict
  whitespace) can collapse distinct raw keys onto one shaped key; the map
  build must keep the first occurrence instead of raising
  DUPLICATED_MAP_KEY (reference KeyValueProcessor tolerates duplicates).
- ledger state filtering: compacted layered segments must not count as
  canonical stage-B groups after a layered-add/refresh/add cycle.
- code-version gate: an index written by an incompatible build must fail
  loudly at query time, not mis-decode block payloads.
"""

from __future__ import annotations

import pytest

from data_prepper_spark.operators.parse import key_value


def _kv(spark, s, **kw):
    df = spark.createDataFrame([(s,)], "kv string")
    out = key_value(df, source="kv", destination="m", **kw).collect()[0]["m"]
    return dict(out) if out is not None else None


def test_kv_transform_key_collision_keeps_first(spark):
    # 'A' and 'a' collapse under lowercase; keep-first => A=1 wins
    assert _kv(spark, "A=1&a=2", transform_key="lowercase") == {"a": "1"}


def test_kv_delete_key_regex_collision(spark):
    # 'x_k' and 'y_k' both shape to 'k'
    assert _kv(spark, "x_k=1&y_k=2", delete_key_regex=r"^[xy]_") == {"k": "1"}


def test_kv_strict_whitespace_collision(spark):
    assert _kv(spark, "k =1;k=2", field_split_characters=";", whitespace="strict") == {
        "k": "1"
    }


def test_shard_groups_stable_across_layered_cycles(spark, corpus_dir, tmp_path):
    """layered add -> refresh -> add again: the second add must see the
    ORIGINAL canonical group count, not count compacted segment ids."""
    import os
    import shutil

    from data_prepper_spark.index.build import add_to_index, build_index, refresh_index

    files = sorted(f for f in os.listdir(corpus_dir) if f.endswith(".parquet"))
    parts = [str(tmp_path / f"p{i}") for i in range(3)]
    for d in parts:
        os.makedirs(d)
    for i, f in enumerate(files):
        shutil.copy(os.path.join(corpus_dir, f), parts[i % 3])
    idx = str(tmp_path / "idx")
    build_index(spark, parts[0], idx, n_shards=8, units=1, shard_groups=2)
    add_to_index(spark, parts[1], idx, n_shards=8, units=1, remerge=False)
    refresh_index(spark, idx)
    seen = []
    add_to_index(
        spark, parts[2], idx, n_shards=8, units=1,
        fault_injector=lambda s, u: seen.append((s, u)),
    )
    # stage B re-merge ran over exactly the canonical groups {0, 1} — a
    # compacted-segment leak would have inflated this to 3 groups
    assert sorted(u for s, u in seen if s == "B") == [0, 1]


def _assert_rebuild_required(spark, corpus_dir, tmp_path, monkeypatch, version):
    import data_prepper_spark.index.build as b
    from data_prepper_spark.query.wand import bm25_topk_wand

    idx = str(tmp_path / "idx_oldver")
    monkeypatch.setattr(b, "CODE_VERSION", version)
    b.build_index(spark, corpus_dir, idx, n_shards=8, units=1, shard_groups=1)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="rebuild required"):
        bm25_topk_wand(spark, idx, "def return", 5).collect()


def test_incompatible_code_version_fails_loudly(spark, corpus_dir, tmp_path, monkeypatch):
    _assert_rebuild_required(spark, corpus_dir, tmp_path, monkeypatch, "dps-0.1")


def test_codec_tagged_version_fails_loudly(spark, corpus_dir, tmp_path, monkeypatch):
    """dps-0.3 blocks carry a codec-tag byte that the one-codec decoder
    would read as the bit width."""
    _assert_rebuild_required(spark, corpus_dir, tmp_path, monkeypatch, "dps-0.3")
