import pyarrow.parquet as pq

from perfbench import data


def test_request_stream_is_byte_identical_per_seed():
    a = data.api_requests(7, 500, 3_000)
    b = data.api_requests(7, 500, 3_000)
    assert data.stream_digest(a) == data.stream_digest(b)
    assert data.stream_digest(a) != data.stream_digest(data.api_requests(8, 500, 3_000))


def test_request_mix_and_skew():
    reqs = data.api_requests(3, 4_000, 3_000)
    block = [r["q"] for r in reqs[:10]]
    assert [block.count(q) for q, w in data.API_MIX] == [w // 10 for _, w in data.API_MIX]
    custs = [r["args"]["customer_id"] for r in reqs if r["q"] == "customer_purchase_history"]
    hottest = max(custs.count(c) for c in set(custs))
    assert hottest > 10 * len(custs) / 3_000  # Zipf: hot keys repeat
    assert 0 < data.repeat_share(reqs) < 1


def test_txn_operation_stream_is_byte_identical_and_valid():
    base = data.txn_base_rows(5, 1_000)
    a = data.txn_operations(5, base, 40, 100)
    assert data.stream_digest(a) == data.stream_digest(data.txn_operations(5, base, 40, 100))
    assert a[0]["op"] == "append"
    kinds = [o["op"] for o in a[:10]]
    assert [kinds.count(k) for k in ("append", "merge", "delete")] == [5, 3, 2]
    state = {r[0]: r for r in base}
    for op in a:
        if op["op"] == "merge":
            assert all(r[0] in state for r in op["rows"])
        if op["op"] == "delete":
            assert all(k in state for k in op["keys"])
        if op["op"] == "append":
            replayed = sum(r[0] in state for r in op["rows"])
            assert replayed == 100 // 5
        data.apply_txn_op(state, op)


def test_generated_files_are_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        data.write_star_schema(str(tmp_path / d), 9, 2_000)
        data.write_documents(str(tmp_path / d / "documents.parquet"), 9, 300)
    for name in ("orders", "lineitem", "part", "customer", "documents"):
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.equals(tb), name
    assert data.bm25_queries(9, 20) == data.bm25_queries(9, 20)
    assert data.probe_slice(9, 1_000) == data.probe_slice(9, 1_000)


def test_held_out_seed_is_reserved():
    assert data.HELD_OUT_SEED not in range(0, 1_000)
