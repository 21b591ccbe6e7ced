"""The benchmark's generators and output checks, without Spark."""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

import checks
import gen
from probes import live, walk, written


def _file_digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha1(fh.read()).hexdigest()
    return out


def test_base_is_byte_identical_per_seed(tmp_path):
    a = gen.write_base(str(tmp_path / "a"), 0.001, seed=5)
    b = gen.write_base(str(tmp_path / "b"), 0.001, seed=5)
    c = gen.write_base(str(tmp_path / "c"), 0.001, seed=6)
    assert _file_digests(a) == _file_digests(b)
    assert _file_digests(a) != _file_digests(c)
    assert sorted(_file_digests(a)) == sorted(f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))


def test_corpus_is_byte_identical_and_plants_stated_shares(tmp_path):
    pa_ = gen.write_corpus(str(tmp_path / "a"), seed=3, n_docs=400)
    pb = gen.write_corpus(str(tmp_path / "b"), seed=3, n_docs=400)
    pc = gen.write_corpus(str(tmp_path / "c"), seed=4, n_docs=400)
    assert pa_ == pb and pa_ != pc
    assert _file_digests(str(tmp_path / "a")) == _file_digests(str(tmp_path / "b"))
    assert len(pa_) == int(400 * gen.EXACT_SHARE) + int(400 * gen.NEAR_SHARE)
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pandas().set_index("doc_id")
    exact = sum(docs.text[a] == docs.text[b] for a, b in pa_)
    assert exact == int(400 * gen.EXACT_SHARE)
    for a, b in pa_:  # near-dups differ in exactly one token
        ta, tb = docs.text[a].split(" "), docs.text[b].split(" ")
        assert len(ta) == len(tb) >= 60 and sum(x != y for x, y in zip(ta, tb)) <= 1


def _batches(base: str, seed: int, n: int):
    ex = gen.HourlyExtracts(base, seed)
    return [ex.next_batch() for _ in range(n)]


def test_hourly_extracts_are_seeded_and_follow_the_mix(tmp_path):
    base = gen.write_base(str(tmp_path / "base"), 0.01, seed=1)
    one, two, other = _batches(base, 9, 3), _batches(base, 9, 3), _batches(base, 10, 3)
    assert all(a[0].equals(b[0]) and a[1].equals(b[1]) for a, b in zip(one, two))
    assert not one[0][0].equals(other[0][0])
    per = int(15_000 * gen.BATCH_FRAC)
    lo = np.datetime64(gen.WINDOW_START)
    for orders, denorm in one:
        o = orders.to_pandas()
        assert len(o) == per and o.o_orderkey.is_unique
        assert (o.o_orderdate >= lo).all()
        assert (o.o_orderstatus == "D").sum() == int(per * gen.BATCH_MIX["delete"])
        d = denorm.to_pandas()
        assert set(d.o_orderkey) == set(o.o_orderkey)
        deleted = set(o.o_orderkey[o.o_orderstatus == "D"])
        assert d[d.o_orderkey.isin(deleted)].l_partkey.isna().all()
    base_years = pq.read_table(f"{base}/orders.parquet").to_pandas().set_index("o_orderkey").o_orderdate.dt.year
    moved = [k for k, y in zip(one[0][0].to_pandas().o_orderkey, one[0][0].to_pandas().o_orderdate.dt.year)
             if k in base_years.index and base_years[k] != y]
    assert len(moved) == int(per * gen.BATCH_MIX["move_year"])


def test_digest_is_order_insensitive_and_catches_a_corrupted_row():
    rows = [("a", 1, 2.5), ("b", 2, 3.25)]
    assert checks.digest(rows) == checks.digest(list(reversed(rows)))
    assert checks.digest(rows) != checks.digest([("a", 1, 2.5), ("b", 2, 3.26)])


def test_near_dup_expectations_fail_on_a_corrupted_result():
    pairs = [(0, 3), (2, 4), (5, 8)]
    rows = [(a, b, 0.9) for a, b in pairs]
    assert checks.q13_ids(rows) == checks.expected_q13(pairs)
    assert checks.q13_ids(rows[:-1]) != checks.expected_q13(pairs)
    n_linked, idsum = checks.expected_q121op(pairs, n_docs=10)
    assert (n_linked, idsum) == (2 + 1, 3 + 13 + 10 + 11)


def _apply_like_engine(base: str, land: str, out: str) -> tuple[str, str]:
    """Materialise the rebuild as the engine's output layout."""
    orders_dir, denorm_dir = os.path.join(out, "orders"), os.path.join(out, "denorm")
    os.makedirs(orders_dir)
    con = duckdb.connect()
    con.execute(f"COPY ({checks._orders_rebuild(base, land)}) TO '{orders_dir}/part-0.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY ({checks._denorm_rebuild(base, land)}) TO '{denorm_dir}' "
                "(FORMAT PARQUET, PARTITION_BY (order_year))")
    con.close()
    return orders_dir, denorm_dir


@pytest.fixture()
def landed(tmp_path):
    base = gen.write_base(str(tmp_path / "base"), 0.001, seed=2)
    land = tmp_path / "land"
    for sub in ("orders", "denorm"):
        (land / sub).mkdir(parents=True)
    for k, (orders, denorm) in enumerate(_batches(base, 4, 3)):
        pq.write_table(orders, land / "orders" / gen.batch_name(k))
        pq.write_table(denorm, land / "denorm" / gen.batch_name(k))
    return base, str(land), str(tmp_path / "out")


def _reads(orders_dir: str, denorm_dir: str) -> dict[str, list]:
    con = duckdb.connect()
    sales = con.execute(f"""
        SELECT category, CAST(order_year AS INTEGER), COUNT(*),
               CAST((SUM(_rev) + 50) // 100 AS DOUBLE) / 100
        FROM read_parquet('{denorm_dir}/*/*.parquet', hive_partitioning = true)
        GROUP BY 1, 2""").fetchall()
    orders = con.execute(checks.orders_read_sql(f"read_parquet('{orders_dir}/*.parquet')")).fetchall()
    con.close()
    return {"sales": sales, "orders": orders}


def test_incremental_rebuild_check_passes_on_the_rebuild_and_fails_on_corruption(landed):
    base, land, out = landed
    orders_dir, denorm_dir = _apply_like_engine(base, land, out)
    reads = _reads(orders_dir, denorm_dir)
    assert checks.incremental_mismatches(base, land, orders_dir, denorm_dir, reads) == {
        "orders": 0, "denorm": 0, "sales_read": 0, "orders_read": 0}

    path = os.path.join(orders_dir, "part-0.parquet")
    t = pq.read_table(path).to_pandas()
    t.loc[0, "o_totalprice"] += 0.01  # one corrupted row
    t.to_parquet(path, index=False)
    bad_reads = dict(reads, sales=reads["sales"][1:])
    got = checks.incremental_mismatches(base, land, orders_dir, denorm_dir, bad_reads)
    assert got["orders"] == 2 and got["denorm"] == 0 and got["sales_read"] == 1


def test_storage_walker_counts_new_and_rewritten_files(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    before = walk([str(tmp_path)])
    (tmp_path / "b").write_bytes(b"y" * 5)
    os.replace(tmp_path / "b", tmp_path / "c")
    (tmp_path / "a").unlink()
    (tmp_path / "a").write_bytes(b"z" * 7)  # rewritten under the same name
    after = walk([str(tmp_path)])
    assert written(before, after) == (12, 2)
    assert live(after) == (12, 2)
    assert written(after, after) == (0, 0)


def test_sf1_upsample_of_the_same_base_is_byte_identical(tmp_path):
    from tools import make_benchdata

    base = gen.write_base(str(tmp_path / "base"), 0.001, seed=8)
    a = make_benchdata.build(src=base, dst=str(tmp_path / "a"), copies=2)
    b = make_benchdata.build(src=base, dst=str(tmp_path / "b"), copies=2)
    assert _file_digests(a) == _file_digests(b)
    assert len(_file_digests(a)) == 2 + 2 * len(make_benchdata.REMAP)
