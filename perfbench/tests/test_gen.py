"""Seeded generation: one seed, one set of inputs."""

import hashlib
import os

from perfbench import gen


def _digest(d):
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_tables_are_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_tpch(a, 5, 0.001)
    gen.write_tpch(b, 5, 0.001)
    gen.write_tpch(c, 6, 0.001)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_read_stream_is_deterministic_and_warmup_disjoint():
    w1, o1 = gen.read_stream(5, 1500, 500, 50, warm_blocks=2)
    w2, o2 = gen.read_stream(5, 1500, 500, 50, warm_blocks=2)
    assert [op.template for op in w1] == gen.READ_BLOCK * 2
    assert gen.fingerprint((w1, o1)) == gen.fingerprint((w2, o2))
    assert gen.fingerprint(o1) != gen.fingerprint(gen.read_stream(6, 1500, 500, 50)[1])
    # warm-up anchors never appear among the measured ones
    for t in gen.READ_TEMPLATES:
        warm = {op.anchor for op in w1 if op.template == t}
        assert warm and not warm & {op.anchor for op in o1 if op.template == t}


def test_read_blocks_keep_the_mix_and_only_the_designed_repeats():
    _, ops = gen.read_stream(5, 1500, 500, 50)
    pairs = [(op.template, op.anchor) for op in ops]
    assert len(pairs) - len(set(pairs)) == 50 * len(gen.REPEAT_OF)
    for b in range(0, len(ops), 12):
        block = ops[b:b + 12]
        assert [op.template for op in block] == gen.READ_BLOCK
        for i, j in gen.REPEAT_OF.items():
            assert block[i].anchor == block[j].anchor


def test_read_anchors_are_skewed():
    # Zipf draws favour the head of the seeded permutation
    for seed in range(5):
        _, ops = gen.read_stream(seed, 15000, 2000, 5)
        r = gen._rng(seed, "reads")
        head = set(r.permutation(15000)[:1500].tolist())
        points = [op.anchor for op in ops if op.template == "point"]
        assert sum(a in head for a in points) >= len(points) // 2


def test_tenant_graphs_and_streams_are_deterministic(tmp_path):
    m1 = gen.tenant_graph(5, "t0", 100)
    m2 = gen.tenant_graph(5, "t0", 100)
    assert gen.fingerprint(m1) == gen.fingerprint(m2)
    assert gen.fingerprint(m1) != gen.fingerprint(gen.tenant_graph(5, "t1", 100))
    s1 = gen.tenant_stream(5, "t0", m1, 20)
    s2 = gen.tenant_stream(5, "t0", m2, 20)
    assert gen.fingerprint(s1) == gen.fingerprint(s2)
    gen.write_tenant(str(tmp_path / "a"), "t0", m1)
    gen.write_tenant(str(tmp_path / "b"), "t0", m2)
    for t in ("nodes_Person.parquet", "edges_KNOWS.parquet"):
        assert _digest(str(tmp_path / "a" / "t0" / t)) == _digest(str(tmp_path / "b" / "t0" / t))


def test_batch_warmup_params_differ_from_the_measured_ones():
    sizes = gen.TpchSizes.at(0.01)
    for seed in range(20):
        warm, measured = gen.batch_params(seed, sizes)
        assert warm == gen.batch_params(seed, sizes)[0]
        assert warm["source"] != measured["source"]
        assert warm["query_row"] != measured["query_row"]
        assert 0 <= warm["source"] < sizes.customers
        assert 0 <= warm["query_row"] < sizes.embeddings


def test_held_out_seed_is_recorded():
    assert isinstance(gen.HELD_OUT_SEED, int)
