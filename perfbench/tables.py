"""Seeded TPC-H-style tables for the operator_sweep workload.

The tables have the column names and types of the star schema that
`SparkEntry.queries` and their DuckDB oracles read (region, nation,
customer, supplier, part, orders, lineitem, events, plus the documents and
embeddings tables the oracle checker opens).  Row counts scale with `sf` as
in the reference tables: 150 000 customers, 10 orders per customer, 1-7
lines per order, 10 000 suppliers, 200 000 parts and 1 000 000 events at
sf 1.  The same (seed, sf) always gives the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
EVENT_TYPES = ['click', 'error', 'purchase', 'signup', 'view']
WORDS = ['red', 'small', 'ring', 'widget', 'steel', 'blue', 'frame', 'bolt']
TYPES = ['ECONOMY', 'STANDARD', 'PROMO', 'LARGE', 'MEDIUM']
ORDER_DAY0 = np.datetime64('1995-01-01', 'us')
ORDER_DAYS = (np.datetime64('2001-08-01') - np.datetime64('1995-01-01')).astype(int)
EVENT_T0 = np.datetime64('2024-01-01T00:00:00', 'us')
EVENT_SPAN_US = 30 * 24 * 3600 * 10**6


def _ts(values):
    return pa.array(values.astype('datetime64[us]'), type=pa.timestamp('us'))


def make_tables(seed, sf):
    """Return {table name: pyarrow.Table} for one seed and scale factor."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = 10 * n_cust
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    t = {}
    t['region'] = pa.table({
        'r_regionkey': pa.array(range(5), pa.int32()),
        'r_name': ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']})
    t['nation'] = pa.table({
        'n_nationkey': pa.array(range(25), pa.int32()),
        'n_name': [f'NATION_{i}' for i in range(25)],
        'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())})
    t['customer'] = pa.table({
        'c_custkey': pa.array(np.arange(n_cust), pa.int64()),
        'c_name': [f'Customer#{i:09d}' for i in range(n_cust)],
        'c_nationkey': pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        'c_acctbal': pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        'c_mktsegment': [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t['supplier'] = pa.table({
        's_suppkey': pa.array(np.arange(n_supp), pa.int64()),
        's_name': [f'Supplier#{i:09d}' for i in range(n_supp)],
        's_nationkey': pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        's_acctbal': pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    w = rng.integers(0, len(WORDS), (n_part, 2))
    t['part'] = pa.table({
        'p_partkey': pa.array(np.arange(n_part), pa.int64()),
        'p_name': [f'{WORDS[a]} {WORDS[b]}' for a, b in w],
        'p_brand': [f'Brand#{i}' for i in rng.integers(1, 26, n_part)],
        'p_type': [TYPES[i] for i in rng.integers(0, 5, n_part)],
        'p_size': pa.array(rng.integers(1, 51, n_part), pa.int32()),
        'p_retailprice': pa.array(np.round(900 + np.arange(n_part) % 1000 * 0.1, 2))})
    odate = ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, n_ord) * np.timedelta64(1, 'D')
    t['orders'] = pa.table({
        'o_orderkey': pa.array(np.arange(n_ord), pa.int64()),
        'o_custkey': pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        'o_orderstatus': [('F', 'O', 'P')[i] for i in rng.integers(0, 3, n_ord)],
        'o_totalprice': pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        'o_orderdate': _ts(odate),
        'o_orderpriority': [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    t['lineitem'] = pa.table({
        'l_orderkey': pa.array(okey, pa.int64()),
        'l_partkey': pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        'l_suppkey': pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        'l_linenumber': pa.array(lineno, pa.int32()),
        'l_quantity': pa.array(qty),
        'l_extendedprice': pa.array(np.round(qty * rng.uniform(900, 3000, n_li), 2)),
        'l_discount': pa.array(rng.integers(0, 11, n_li) / 100.0),
        'l_tax': pa.array(rng.integers(0, 9, n_li) / 100.0),
        'l_returnflag': [('A', 'N', 'R')[i] for i in rng.integers(0, 3, n_li)],
        'l_linestatus': [('F', 'O')[i] for i in rng.integers(0, 2, n_li)],
        'l_shipdate': _ts(odate[okey] + rng.integers(1, 122, n_li) * np.timedelta64(1, 'D'))})
    ev_ts = EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)) * np.timedelta64(1, 'us')
    t['events'] = pa.table({
        'event_id': pa.array(np.arange(n_ev), pa.int64()),
        'ts': _ts(ev_ts),
        'user_id': pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        'event_type': [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        'value': pa.array(np.round(rng.uniform(0, 100, n_ev), 2)),
        'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = 50
    texts = [' '.join(WORDS[j] for j in rng.integers(0, len(WORDS), 12)) for _ in range(n_doc)]
    t['documents'] = pa.table({
        'doc_id': pa.array(np.arange(n_doc), pa.int64()),
        'text': texts,
        'lang': ['en'] * n_doc,
        'source': [f'src{i % 3}' for i in range(n_doc)],
        'n_chars': pa.array([len(x) for x in texts], pa.int64())})
    t['embeddings'] = pa.table({
        'vec_id': pa.array(np.arange(n_doc), pa.int64()),
        'embedding': pa.array([rng.normal(0, 0.1, 64).astype(np.float32) for _ in range(n_doc)],
                              pa.list_(pa.float32())),
        'label': pa.array(rng.integers(0, 4, n_doc), pa.int32())})
    return t


def write_tables(seed, sf, out_dir):
    """Write the tables as <out_dir>/<name>.parquet unless already complete."""
    done = os.path.join(out_dir, '_SUCCESS')
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f'{name}.parquet'))
    open(done, 'w').close()
    return out_dir
