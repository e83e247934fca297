"""Seeded benchmark inputs, derived from the committed sf0.01 fixture.

The fixture (`perfbench/fixture/*.parquet`) is one copy of the project's
sf0.01 test tables. A benchmark input is a seeded remap and resample of it:

  - every BIGINT entity/foreign key gets `+ shift`, where
    `shift = (seed % 89) * 100_000` is the seeded key remap. One offset for
    every key keeps orders<->lineitem<->customer and part/supplier
    references consistent (the rule tools/make_sf1.py uses); the shift is a
    multiple of 100_000, so key residues modulo small numbers (which some
    queries use to pick probe sets) are preserved;
  - region/nation (tiny shared dims) are copied unremapped;
  - the seeded resample keeps a fact row iff a hash of (key, seed) falls
    under `keep_permille`. lineitem rows follow their order, so no line
    item ever points at a dropped order; dims are kept whole.

The same seed always yields the same bytes of data.
"""
import os

import duckdb

TABLES = ('region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings')


def generate(fixture, dst, seed, keep_permille):
    """Write every table under `dst`; return {table: rows}."""
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    # one thread: the hash-based resample is order-free, but a single
    # writer keeps the parquet layout (row-group boundaries) identical
    # across runs of the same seed
    con.execute('SET threads=1')
    shift = (int(seed) % 89) * 100_000

    def src(t):
        return f"read_parquet('{fixture}/{t}.parquet')"

    def k(c):
        return f'{c} + {shift}'

    def keep(c):
        return f'hash({c}, {int(seed)}) % 1000 < {int(keep_permille)}'

    sql = {
        'region': f'SELECT * FROM {src("region")}',
        'nation': f'SELECT * FROM {src("nation")}',
        'customer': f"""
            SELECT {k('c_custkey')} AS c_custkey, c_name, c_nationkey,
                   c_acctbal, c_mktsegment
            FROM {src('customer')}""",
        'supplier': f"""
            SELECT {k('s_suppkey')} AS s_suppkey, s_name, s_nationkey,
                   s_acctbal
            FROM {src('supplier')}""",
        'part': f"""
            SELECT {k('p_partkey')} AS p_partkey, p_name, p_brand, p_type,
                   p_size, p_retailprice
            FROM {src('part')}""",
        'orders': f"""
            SELECT {k('o_orderkey')} AS o_orderkey,
                   {k('o_custkey')} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM {src('orders')} WHERE {keep('o_orderkey')}""",
        'lineitem': f"""
            SELECT {k('l_orderkey')} AS l_orderkey,
                   {k('l_partkey')} AS l_partkey,
                   {k('l_suppkey')} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM {src('lineitem')} WHERE {keep('l_orderkey')}""",
        'events': f"""
            SELECT {k('event_id')} AS event_id, ts,
                   {k('user_id')} AS user_id, event_type, value, props
            FROM {src('events')} WHERE {keep('event_id')}""",
        'documents': f"""
            SELECT {k('doc_id')} AS doc_id, text, lang, source, n_chars
            FROM {src('documents')} WHERE {keep('doc_id')}""",
        'embeddings': f"""
            SELECT {k('vec_id')} AS vec_id, embedding, label
            FROM {src('embeddings')} WHERE {keep('vec_id')}""",
    }
    rows = {}
    for t in TABLES:
        out = f'{dst}/{t}.parquet'
        con.execute(f"COPY ({sql[t]} ORDER BY ALL) TO '{out}' (FORMAT PARQUET)")
        rows[t] = con.sql(f"SELECT count(*) FROM read_parquet('{out}')").fetchone()[0]
    con.close()
    return rows
