"""The same seed must give identical inputs; another seed, other ones."""

import gen
import workloads


def test_tables_repeat_for_a_seed():
    assert gen.fingerprint(gen.make_tables(7, 0.001)) == gen.fingerprint(gen.make_tables(7, 0.001))


def test_tables_differ_across_seeds():
    assert gen.fingerprint(gen.make_tables(7, 0.001)) != gen.fingerprint(gen.make_tables(8, 0.001))


def test_every_table_is_generated():
    assert set(gen.make_tables(1, 0.001)) == set(gen.TABLES)


def _query_order(seed):
    wl = workloads.NestedScan(None, seed, "", "", None)
    return [op.kind for _ in range(3) for op in wl.round()]


def test_query_order_follows_the_seed():
    assert _query_order(3) == _query_order(3)
    assert _query_order(3) != _query_order(4)
    assert sorted(_query_order(3)[:18]) == sorted(workloads.NESTED_QUERIES)


def _dml_rows(seed):
    wl = workloads.TableDml(None, seed, "", "", None)
    m = workloads._TableModel("t0", "")
    return wl._new_rows(m, 50)


def test_statement_values_follow_the_seed():
    assert _dml_rows(5) == _dml_rows(5)
    assert _dml_rows(5) != _dml_rows(6)
