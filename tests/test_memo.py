"""The driver-side memo (engine/memo.py) serves a value only while the
files it was computed from keep their fingerprint."""

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pravega_flink_ai_flow_spark.engine import memo as memo_mod


class _Context:
    def __init__(self, app_id):
        self.applicationId = app_id


class _Session:
    def __init__(self, app_id):
        self.sparkContext = _Context(app_id)


class _Persisted:
    def __init__(self):
        self.unpersists = []

    def unpersist(self, blocking=False):
        self.unpersists.append(blocking)


def test_memo_recomputes_on_new_data_and_drops_other_apps(tmp_path,
                                                          monkeypatch):
    monkeypatch.setattr(memo_mod, "_STORE", {})
    monkeypatch.setattr(memo_mod, "_app", [None, None])
    src = tmp_path / "t.parquet"
    src.write_bytes(b"one")
    made = []

    def compute():
        made.append(_Persisted())
        return made[-1]

    spark = _Session("app-1")
    first = memo_mod.memo(spark, ("k", 1), [str(src)], compute)
    assert memo_mod.memo(spark, ("k", 1), [str(src)], compute) is first
    assert len(made) == 1

    src.write_bytes(b"two!")                 # same path, new data
    second = memo_mod.memo(spark, ("k", 1), [str(src)], compute)
    assert second is made[1] and second is not first
    assert first.unpersists == [False]
    assert memo_mod.memo(spark, ("k", 1), [str(src)], compute) is second
    assert list(memo_mod._STORE) == [("app-1", ("k", 1))]

    restarted = _Session("app-2")
    third = memo_mod.memo(restarted, ("k", 1), [str(src)], compute)
    assert third is made[2]
    assert list(memo_mod._STORE) == [("app-2", ("k", 1))]
    assert second.unpersists == []           # its context is gone


def test_fingerprint_reads_a_directory_by_its_inner_files(tmp_path):
    d = tmp_path / "events.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a")
    before = memo_mod.fingerprint(None, [str(d)])
    os.utime(d, ns=(1, 1))
    (d / "part-0.parquet").write_bytes(b"bb")
    os.utime(d, ns=(1, 1))                   # the directory's own stat lies
    assert memo_mod.fingerprint(None, [str(d)]) != before
    assert memo_mod.fingerprint(None, [str(tmp_path / "gone")]) == \
        ((str(tmp_path / "gone"), -1, -1),)


def _copy_tier(src, dst):
    dst.mkdir()
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), dst / name)   # writable
    return str(dst)


def test_test_split_follows_a_tier_rewritten_in_place(spark, tmp_path):
    from pravega_flink_ai_flow_spark.queries import ml_queries as mq

    sf = _copy_tier("/root/testdata/sf0.001", tmp_path / "tier")
    before = mq._test_rows(spark, sf)
    path = os.path.join(sf, "embeddings.parquet")
    t = pq.read_table(path)
    relabelled = pc.add(t.column("label"), 1).cast(
        t.schema.field("label").type)
    pq.write_table(t.set_column(t.schema.get_field_index("label"), "label",
                                relabelled), path)
    after = mq._test_rows(spark, sf)
    assert [r[2] + 1 for r in before] == [r[2] for r in after]


def _write_corpus(path, docs):
    pq.write_table(pa.table({"id": list(range(len(docs))),
                             "shingles": docs}), path)


def test_dedup_signals_follow_a_corpus_rewritten_in_place(spark, tmp_path,
                                                          monkeypatch):
    """One shingle in every doc reads a df head of 1.0; the same path
    rewritten flat must read 1/n, not the memoised 1.0, and the size
    table's broadcast decision must follow the new row count."""
    from pravega_flink_ai_flow_spark.ops import dedup

    monkeypatch.setattr(dedup, "_SIZES_BCAST_MAX_ROWS", 20)
    path = str(tmp_path / "corpus.parquet")
    _write_corpus(path, [["hot", f"s{i}"] for i in range(20)])
    skewed = spark.read.parquet(path)
    assert dedup.shingle_df_head_ratio(skewed) == 1.0
    assert dedup._sizes_fit_broadcast(skewed) is True

    _write_corpus(path, [[f"s{i}"] for i in range(40)])
    flat = spark.read.parquet(path)
    assert flat.semanticHash() == skewed.semanticHash()
    assert dedup.shingle_df_head_ratio(flat) == 1 / 40
    assert dedup._sizes_fit_broadcast(flat) is False

    # a persisted corpus (the l2 queries' shape) lists no inputFiles()
    # under its InMemoryRelation; the memo must still see the rewrite
    cached = spark.read.parquet(path).persist()
    assert dedup.shingle_df_head_ratio(cached) == 1 / 40
    cached.unpersist()
    _write_corpus(path, [["hot", f"s{i}"] for i in range(20)])
    cached = spark.read.parquet(path).persist()
    try:
        assert cached.inputFiles() == []
        assert dedup.shingle_df_head_ratio(cached) == 1.0
    finally:
        cached.unpersist()


def test_tier_readers_raise_naming_a_corrupt_parquet(tmp_path):
    from pravega_flink_ai_flow_spark.queries import _read_events, head_rows_fast

    tier = tmp_path / "tier"
    tier.mkdir()
    (tier / "embeddings.parquet").write_bytes(b"not a parquet file")
    (tier / "events.parquet").mkdir()
    (tier / "events.parquet" / "part-0.parquet").write_bytes(b"garbage")
    with pytest.raises(ValueError, match="embeddings.parquet"):
        head_rows_fast(str(tier), "embeddings", key_col="vec_id", bound=10,
                       cols=("vec_id",))
    with pytest.raises(ValueError, match="part-0.parquet"):
        _read_events(None, str(tier / "events.parquet"))
    assert head_rows_fast(str(tier), "documents", key_col="doc_id",
                          bound=10, cols=("doc_id",)) is None
