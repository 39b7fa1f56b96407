"""The tenant write model the serving workload checks tenant ops against."""

from perfbench import gen


def _op(kind, **args):
    return gen.TenantOp(kind, args)


def test_writes_update_the_model():
    m = gen.Model({"a": (30, "Oslo"), "b": (40, "Lima")}, {("a", "b")})
    m.apply(_op("create", name="c", age=20, city="Oslo"))
    m.apply(_op("merge_edge", a="b", b="c"))
    m.apply(_op("merge_edge", a="a", b="b"))  # MERGE of an existing edge
    m.apply(_op("set", name="a", age=31))
    assert m.people == {"a": (31, "Oslo"), "b": (40, "Lima"), "c": (20, "Oslo")}
    assert m.knows == {("a", "b"), ("b", "c")}
    assert m.read("lookup", "a") == [(31, "Oslo")]
    assert m.read("friends", "a") == [(1,)]
    assert m.read("fof", "a") == [(1,)]  # a -> b -> c
    assert m.read("city", "Oslo") == [(2, 51)]
    assert m.read("city", "Pune") == [(0, None)]
    m.apply(_op("delete", name="b"))  # DETACH DELETE drops b's edges
    assert "b" not in m.people and m.knows == set()
    assert m.read("friends", "a") == [(0,)]


def test_friends_of_friends_excludes_self():
    m = gen.Model({n: (1, "Oslo") for n in "abc"}, {("a", "b"), ("b", "a"), ("b", "c")})
    assert m.read("fof", "a") == [(1,)]


def test_copy_is_independent():
    m = gen.tenant_graph(3, "t0", 30)
    c = m.copy()
    c.apply(_op("create", name="new", age=1, city="Oslo"))
    assert "new" not in m.people


def test_stream_ops_are_valid_and_reads_match_replay():
    start = gen.tenant_graph(3, "t0", 60)
    blocks = gen.tenant_stream(3, "t0", start, 12)
    m = start.copy()
    saves = 0
    for i, block in enumerate(blocks):
        kinds = [op.kind for op in block if op.kind != "save"]
        assert len(kinds) == len(gen.TENANT_BLOCK)
        assert sum(k in gen.TENANT_READS for k in kinds) == 4
        for op in block:
            if op.kind == "save":
                saves += 1
            elif op.kind in gen.TENANT_READS:
                assert op.expect == m.read(op.kind, next(iter(op.args.values())))
            else:
                for key in ("name", "a", "b"):
                    if key in op.args and op.kind != "create":
                        assert op.args[key] in m.people
                m.apply(op)
        assert gen.fingerprint(m) == gen.fingerprint(gen.replay(start, blocks[: i + 1]))
    assert saves == 12 // gen.SAVE_EVERY_BLOCKS
