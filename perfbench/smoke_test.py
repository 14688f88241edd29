#!/usr/bin/env python3
"""Tiny-scale smoke test of every workload (about three minutes).

    python3 perfbench/smoke_test.py

Runs each workload on the sf0.001 tables and a one-file-per-format corpus,
once untraced and once traced, and checks that the last stdout line is
the result object: all output checks passed, and the metrics are exactly
BENCHMARK.json's end-to-end metrics (untraced) or per-layer metrics
(traced), each with its unit and a finite value. Also checks that a copy
holding only BENCHMARK.json and the benchmark's directory fails without
printing a result. Exits 1 on the first failure.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg):
    sys.exit('smoke FAILED: ' + msg)


def check_result(out, want, label):
    lines = out.strip().splitlines()
    if not lines:
        fail(f'{label}: no output')
    res = json.loads(lines[-1])
    if set(res) != {'correct', 'attempted', 'failed', 'metrics'}:
        fail(f'{label}: result keys {sorted(res)}')
    if res['correct'] is not True or res['failed'] != 0 or res['attempted'] < 1:
        fail(f'{label}: checks did not pass: {lines[-1][:300]}')
    got = {n: m['unit'] for n, m in res['metrics'].items()}
    if got != want:
        fail(f'{label}: metrics differ from BENCHMARK.json: '
             f'missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, '
             f'units {[(n, got[n], want[n]) for n in want if n in got and got[n] != want[n]]}')
    for n, m in res['metrics'].items():
        if not isinstance(m['value'], (int, float)) or not math.isfinite(m['value']):
            fail(f'{label}: {n} = {m["value"]}')


def main():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        bench = json.load(f)
    want = {'0': {m['name']: m['unit'] for m in bench['end_to_end']},
            '1': {m['name']: m['unit'] for m in bench['per_layer']}}
    for w in (x['name'] for x in bench['workloads']):
        for trace in ('0', '1'):
            cmd = bench['command'] + ['--workload', w, '--seed', '7', '--seconds', '1',
                                      '--trace', trace, '--tier', 'sf0.001', '--corpus', 'tiny']
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, timeout=900)
            label = f'{w} trace {trace}'
            if p.returncode != 0:
                fail(f'{label}: exit {p.returncode}')
            check_result(p.stdout.decode(), want[trace], label)
            print(f'ok  {label}', flush=True)

    # without the program the benchmark must fail and print no result
    bare = tempfile.mkdtemp(prefix='bare-', dir=os.path.join(ROOT, '.bench_build'))
    try:
        shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), bare)
        for path in bench['paths']:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns('__pycache__'))
        p = subprocess.run(bench['command'] + ['--workload', bench['workloads'][0]['name'],
                                               '--seed', '1', '--seconds', '1', '--trace', '0'],
                           cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           env=dict(os.environ, CARGO_TARGET_DIR='.bench_build'), timeout=180)
        if p.returncode == 0 or p.stdout.strip():
            fail('a copy without the program did not fail cleanly')
        print('ok  fails without the program')
    finally:
        shutil.rmtree(bare)


if __name__ == '__main__':
    main()
