#!/usr/bin/env python3
"""Deterministic test tables for the benchmark's queries workload.

Writes the ten parquet tables the query suite reads (documents,
embeddings, events and the TPC-H-shaped relational tables), one file and
one row group each, with the schemas and row counts of the sf0.01 and
sf0.001 test tiers. The generator seed is fixed: a tier always has the
same bytes, so the expected row counts and digests in workloads.json stay
valid. The benchmark's --seed only reorders the query list.

Usage: tables.py OUT_DIR TIER   (TIER is sf0.01 or sf0.001)
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table in each tier, as in the repository's sf0.01 and sf0.001 test data
TIERS = {
    "sf0.01": dict(documents=500, embeddings=500, events=10000, customer=1500,
                   supplier=100, part=2000, orders=15000, lineitem=60000),
    "sf0.001": dict(documents=500, embeddings=500, events=1000, customer=150,
                    supplier=10, part=200, orders=1500, lineitem=6000),
}
SEED = 20240101

VOCAB = np.array([
    'a', 'agg', 'batch', 'big', 'column', 'customer', 'data', 'dup', 'fast',
    'filter', 'group', 'hash', 'join', 'key', 'line', 'merge', 'order',
    'part', 'query', 'row', 'scan', 'slow', 'small', 'sort', 'spark',
    'stream', 'table', 'the', 'value', 'vector', 'window'])
LANGS = ['en', 'zh', 'es', 'fr', 'de']
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']


def documents(rng, n):
    # word-salad texts, ~5% of them exact or near duplicates of others so
    # the dedup and clustering queries find real clusters
    n_base = int(n * 0.95)
    texts = [' '.join(rng.choice(VOCAB, size=rng.integers(8, 104)))
             for _ in range(n_base)]
    while len(texts) < n:
        src = texts[rng.integers(0, n_base)]
        if rng.random() < 0.05:
            texts.append(src)
        else:
            w = src.split()
            for _ in range(max(1, len(w) // 20)):
                w[rng.integers(0, len(w))] = str(rng.choice(VOCAB))
            texts.append(' '.join(w))
    texts = [texts[i] for i in rng.permutation(n)]
    return pa.table({
        'doc_id': pa.array(np.arange(n, dtype=np.int64)),
        'text': pa.array(texts),
        'lang': pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        'source': pa.array([f'src{i}' for i in rng.integers(0, 20, n)]),
        'n_chars': pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        'vec_id': pa.array(np.arange(n, dtype=np.int64)),
        'embedding': pa.array(list(v), type=pa.list_(pa.float32())),
        'label': pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(rng, n):
    t0 = np.datetime64('2024-01-01T00:00:00', 'us').astype(np.int64)
    span = np.int64(30 * 24 * 3600) * 1_000_000
    ts = np.sort(t0 + (rng.random(n) * span).astype(np.int64))
    return pa.table({
        'event_id': pa.array(np.arange(n, dtype=np.int64)),
        'ts': pa.array(ts, type=pa.timestamp('us')),
        'user_id': pa.array(rng.integers(0, max(1, n // 67), n).astype(np.int64)),
        'event_type': pa.array(rng.choice(
            ['view', 'click', 'purchase', 'signup', 'error'], size=n)),
        'value': pa.array(np.round(rng.exponential(50.0, n), 2)),
        'props': pa.array([f'{{"k": {v}}}' for v in rng.integers(1, 100, n)]),
    })


def days(rng, n, lo, hi):
    d = rng.integers(0, (np.datetime64(hi) - np.datetime64(lo)).astype(int), n)
    us = (np.datetime64(lo).astype('datetime64[us]')
          + d.astype('timedelta64[D]').astype('timedelta64[us]'))
    return pa.array(us, type=pa.timestamp('us'))


def relational(rng, c):
    segs = ['MACHINERY', 'BUILDING', 'AUTOMOBILE', 'HOUSEHOLD', 'FURNITURE']
    adjectives = ['large', 'hot', 'blue', 'red', 'small', 'green', 'dark', 'light']
    nouns = ['ring', 'bolt', 'cog', 'washer', 'plate', 'gear', 'pin', 'rod']
    nc, ns, npart, no, nl = (c['customer'], c['supplier'], c['part'],
                             c['orders'], c['lineitem'])
    return {
        'region': pa.table({
            'r_regionkey': pa.array(np.arange(5, dtype=np.int32)),
            'r_name': pa.array(REGIONS)}),
        'nation': pa.table({
            'n_nationkey': pa.array(np.arange(25, dtype=np.int32)),
            'n_name': pa.array([f'NATION_{i}' for i in range(25)]),
            'n_regionkey': pa.array((np.arange(25) % 5).astype(np.int32))}),
        'customer': pa.table({
            'c_custkey': pa.array(np.arange(nc, dtype=np.int64)),
            'c_name': pa.array([f'Customer#{i:09d}' for i in range(nc)]),
            'c_nationkey': pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            'c_acctbal': pa.array(np.round(rng.uniform(-1000, 10000, nc), 2)),
            'c_mktsegment': pa.array(rng.choice(segs, size=nc))}),
        'supplier': pa.table({
            's_suppkey': pa.array(np.arange(ns, dtype=np.int64)),
            's_name': pa.array([f'Supplier#{i:09d}' for i in range(ns)]),
            's_nationkey': pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            's_acctbal': pa.array(np.round(rng.uniform(-1000, 10000, ns), 2))}),
        'part': pa.table({
            'p_partkey': pa.array(np.arange(npart, dtype=np.int64)),
            'p_name': pa.array([f'{rng.choice(adjectives)} {rng.choice(nouns)}'
                                for _ in range(npart)]),
            'p_brand': pa.array([f'Brand#{i}' for i in rng.integers(1, 26, npart)]),
            'p_type': pa.array(rng.choice(
                ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'],
                size=npart)),
            'p_size': pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            'p_retailprice': pa.array(np.round(rng.uniform(900, 2000, npart), 2))}),
        'orders': pa.table({
            'o_orderkey': pa.array(np.arange(no, dtype=np.int64)),
            'o_custkey': pa.array(rng.integers(0, nc, no).astype(np.int64)),
            'o_orderstatus': pa.array(rng.choice(['F', 'O', 'P'], size=no,
                                                 p=[0.49, 0.49, 0.02])),
            'o_totalprice': pa.array(np.round(rng.uniform(900, 400000, no), 2)),
            'o_orderdate': days(rng, no, '1995-01-01', '2001-08-02'),
            'o_orderpriority': pa.array(rng.choice(
                ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'],
                size=no))}),
        'lineitem': pa.table({
            'l_orderkey': pa.array(np.sort(rng.integers(0, no, nl)).astype(np.int64)),
            'l_partkey': pa.array(rng.integers(0, npart, nl).astype(np.int64)),
            'l_suppkey': pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            'l_linenumber': pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            'l_quantity': pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            'l_extendedprice': pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
            'l_discount': pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
            'l_tax': pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
            'l_returnflag': pa.array(rng.choice(['A', 'N', 'R'], size=nl,
                                                p=[0.25, 0.5, 0.25])),
            'l_linestatus': pa.array(rng.choice(['F', 'O'], size=nl)),
            'l_shipdate': days(rng, nl, '1995-01-02', '2001-11-05')}),
    }


def write(out, tier):
    c = TIERS[tier]
    rng = np.random.default_rng(SEED)
    tables = {
        'documents': documents(rng, c['documents']),
        'embeddings': embeddings(rng, c['embeddings']),
        'events': events(rng, c['events']),
    }
    tables.update(relational(rng, c))
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f'{name}.parquet'))


if __name__ == '__main__':
    write(sys.argv[1], sys.argv[2])
