"""The seeded inputs: the same seed gives byte-identical files."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import gen, wl_stream

SIZES = dict(supplier=10, customer=150, part=200, orders=1500, lineitem=6000, events=1000, documents=60, embeddings=50)
NAMES = list(gen.TABLE_IDS)[:10]


def _fixture(seed, tmp_path, name):
    out = tmp_path / name
    gen.write_tables(gen.replicate(seed, gen.base_tables(seed, SIZES, NAMES)), str(out))
    return gen.content_hash(str(out))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fixture_is_byte_identical_per_seed(seed, tmp_path):
    assert _fixture(seed, tmp_path, "a") == _fixture(seed, tmp_path, "b")


def test_seeds_differ(tmp_path):
    assert _fixture(1, tmp_path, "a") != _fixture(2, tmp_path, "b")


def test_table_does_not_depend_on_which_others_are_generated():
    alone = gen.base_tables(5, SIZES, ["lineitem"])["lineitem"]
    together = gen.base_tables(5, SIZES, NAMES)["lineitem"]
    assert alone.equals(together)


def test_replication_follows_synth_scale():
    base = gen.base_tables(4, SIZES, NAMES)
    big = gen.replicate(4, base)
    assert big["lineitem"].num_rows == 10 * base["lineitem"].num_rows
    assert big["customer"].num_rows == base["customer"].num_rows
    keys = big["orders"].column("o_orderkey").to_numpy()
    assert len(np.unique(keys)) == len(keys)
    # every lineitem still joins to an order
    assert set(big["lineitem"].column("l_orderkey").to_numpy()) <= set(keys)
    texts = big["documents"].column("text").to_pylist()
    assert len(set(texts)) > len(set(base["documents"].column("text").to_pylist()))


@pytest.mark.parametrize("seed", [1, 2])
def test_count_matrix_is_seeded_sparse_counts(seed):
    a, b = gen.count_matrix(seed, 500), gen.count_matrix(seed, 500)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, gen.count_matrix(seed + 1, 500))
    assert a.shape == (500, 64)
    assert (a == np.round(a)).all() and (a >= 0).all()
    assert 0.5 < (a == 0).mean() < 0.95


def test_operation_order_is_seeded():
    ops = list("abcdefg")
    assert gen.shuffled(3, ops, 0) == gen.shuffled(3, ops, 0)
    assert sorted(gen.shuffled(3, ops, 1)) == ops
    assert any(gen.shuffled(3, ops, k) != ops for k in range(5))


@pytest.mark.parametrize("seed", [1, 2])
def test_event_files_are_seeded_and_never_late_for_the_watermark(seed, tmp_path):
    import pyarrow.parquet as pq

    a = wl_stream.make_files(seed, 100000, str(tmp_path / "a"))
    b = wl_stream.make_files(seed, 100000, str(tmp_path / "b"))
    assert a == b
    assert gen.content_hash(str(tmp_path / "a")) == gen.content_hash(str(tmp_path / "b"))
    assert a["file_order"] != sorted(a["file_order"])  # the seed reorders files
    # replaying the files in order, no row is older than the running
    # max event time by MAX_LATE_S or more
    top = None
    for f in sorted((tmp_path / "a").iterdir()):
        ts = pq.read_table(f).column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
        if top is not None:
            assert (top - ts.min()) / 1e6 < wl_stream.MAX_LATE_S
        top = ts.max() if top is None else max(top, ts.max())
