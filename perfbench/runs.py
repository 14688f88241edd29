#!/usr/bin/env python3
"""Runs the benchmark once per seed and appends each result to a file.

    python3 perfbench/runs.py OUT.jsonl --workload NAME [--workload NAME ...]
                              [--seeds 1-10] [--trace 0]

Each line of OUT.jsonl is {"workload", "seed", "elapsed_s", "result"},
with the run's result line as "result" (null if the run failed). Seeds
run in order, workload by workload. compare.py reads these files.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition('-')
    return range(int(lo), int(hi or lo) + 1)


def main():
    with open(os.path.join(os.path.dirname(HERE), 'BENCHMARK.json')) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument('out')
    ap.add_argument('--workload', action='append', required=True)
    ap.add_argument('--seeds', default='1-10')
    ap.add_argument('--trace', choices=('0', '1'), default='0')
    a = ap.parse_args()
    for w in a.workload:
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, 'run.py'), '--workload', w,
                 '--seed', str(s), '--seconds', str(bench['run_seconds']),
                 '--trace', a.trace],
                stdout=subprocess.PIPE)
            lines = p.stdout.decode().strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            rec = {'workload': w, 'seed': s, 'elapsed_s': round(time.time() - t0, 3),
                   'result': result}
            with open(a.out, 'a') as f:
                f.write(json.dumps(rec) + '\n')
            print(json.dumps(rec), flush=True)


if __name__ == '__main__':
    main()
