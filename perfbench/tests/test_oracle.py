"""The benchmark's oracles: row comparison and the materialized rewrite
of REGISTRY oracle SQL."""

import pytest

from perfbench import gen
from perfbench.oracle import Oracle, materialized, same_rows
from perfbench.workloads.batch import REGISTRY_ORACLES


def test_same_rows_tolerates_float_noise_only():
    assert same_rows([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not same_rows([(1, 0.31)], [(1, 0.3)])
    assert not same_rows([(1, None)], [(1, 0.3)])
    assert not same_rows([(2, "b"), (1, "a")], [(1, "a"), (2, "b")])
    assert not same_rows([(1,)], [(1,), (1,)])


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tpch"))
    gen.write_tpch(d, 4, 0.001)
    return Oracle(d)


@pytest.mark.parametrize("entry", REGISTRY_ORACLES)
def test_materialized_registry_oracle_gives_the_same_rows(oracle, entry):
    from samyama_graph_spark.workloads import load_all_workloads

    sql = load_all_workloads()[entry].oracle
    want = sorted(oracle.rows(sql), key=repr)
    assert want
    assert sorted(oracle.rows(materialized(sql)), key=repr) == want
