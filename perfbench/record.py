#!/usr/bin/env python3
"""Records the expected output of every listed query into workloads.json.

    python3 perfbench/record.py [TIER ...]     (default: sf0.01 sf0.001)

For each table tier: runs every query of the queries workload once
(perfbench.Main --record), keeps its row count and order-independent
digest, and cross-checks each query that has SparkEntry.oracleSql
against DuckDB on the same tables. The cross-check follows
tools/check_oracle.py: columns sorted by name, equal row counts, and a
per-value hash over rows in output order (floats by repr). A query that
disagrees with DuckDB is reported and nothing is written.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

sys.dont_write_bytecode = True
import run  # noqa: E402  (perfbench/run.py: build and table helpers)


def value_hash(df):
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        for v in row:
            h.update((repr(v) if isinstance(v, float) else str(v)).encode())
        h.update(b'\x00')
    return h.hexdigest()[:16]


def cross_check(tables, out, names):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables, '*.parquet')):
        t = os.path.basename(p)[:-len('.parquet')]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out, 'oracle_sql.json')) as f:
        oracles = json.load(f)
    verdict = {}
    for name in names:
        if name not in oracles:
            verdict[name] = 'no-oracle'
            continue
        got = pd.concat([pd.read_parquet(p) for p in
                         sorted(glob.glob(os.path.join(out, name, '*.parquet')))],
                        ignore_index=True)
        exp = con.sql(oracles[name]).df()
        got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns):
            verdict[name] = f'MISMATCH columns {list(got.columns)} vs {list(exp.columns)}'
        elif len(got) != len(exp):
            verdict[name] = f'MISMATCH rows {len(got)} vs {len(exp)}'
        elif value_hash(got) != value_hash(exp):
            verdict[name] = 'MISMATCH values'
        else:
            verdict[name] = 'duckdb'
    return verdict


def main(tiers):
    spec_path = run.SPEC
    with open(spec_path) as f:
        spec = json.load(f)
    names = [q for g in ('iterative', 'single_pass')
             for q in spec['workloads']['queries'][g]]
    bdir = run.build_dir()
    for d in ('logs', 'tmp', 'spark-local'):
        os.makedirs(os.path.join(bdir, d), exist_ok=True)
    classes = run.build(bdir)
    cp = os.pathsep.join([classes, run.PROGRAM_RES, os.path.join(run.spark_jars(), '*')])
    bad = []
    for tier in tiers:
        tables = run.tables(bdir, tier)
        out = os.path.join(bdir, 'record', tier)
        with open(os.path.join(bdir, 'logs', f'record-{tier}.log'), 'w') as err:
            subprocess.check_call(
                ['java'] + run.JVM_FLAGS + [
                    '-Djava.io.tmpdir=' + os.path.join(bdir, 'tmp'),
                    '-Dspark.local.dir=' + os.path.join(bdir, 'spark-local'),
                    '-cp', cp, 'perfbench.Main', '--record', out,
                    '--spec', spec_path, '--tables', tables],
                stderr=err, cwd=bdir)
        with open(os.path.join(out, 'expected.json')) as f:
            expected = json.load(f)
        verdict = cross_check(tables, out, names)
        for name in names:
            expected[name]['oracle'] = verdict[name]
            print(f'{tier} {name:28s} rows={expected[name]["rows"]:<6} {verdict[name]}')
            if verdict[name].startswith('MISMATCH'):
                bad.append(f'{tier} {name}')
        spec.setdefault('expected', {})[tier] = expected
    if bad:
        sys.exit('disagrees with DuckDB, nothing written: ' + ', '.join(bad))
    with open(spec_path, 'w') as f:
        json.dump(spec, f, indent=2)
        f.write('\n')


if __name__ == '__main__':
    main(sys.argv[1:] or ['sf0.01', 'sf0.001'])
