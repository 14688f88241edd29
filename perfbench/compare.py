#!/usr/bin/env python3
"""Summarises one set of benchmark runs, or compares two.

    python3 perfbench/compare.py A.jsonl            one set: spread per metric
    python3 perfbench/compare.py A.jsonl B.jsonl    B (change) against A (base)

The files are written by runs.py. For each workload and end-to-end metric
of BENCHMARK.json it prints each side's median and quartiles
(statistics.quantiles, n=4) and the spread, the distance between the
quartiles as a share of the median. With two sets it pairs runs by seed
and adds the share of pairs B won (ties count for neither side) and a
verdict:

  unresolved  a side's spread exceeds the metric's bound, and B does not
              beat A on every run
  worse       B's median is worse than A's by more than the bound
  better      B won at least 9/10 of the pairs and the medians differ by
              more than A's quartile distance
  same        otherwise

setup_s's spread is shown but, as the bound governs only its median, it
never makes the verdict unresolved. A run that failed or reported
correct: false is listed and left out of the figures. The exit code is 1
if any verdict is worse or unresolved, or any run failed; two sets of
runs of the same code should exit 0.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs, bad = {}, []
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            res = r['result']
            if not res or not res.get('correct') or res.get('failed'):
                bad.append((r['workload'], r['seed']))
                continue
            runs.setdefault(r['workload'], {})[r['seed']] = res['metrics']
    return runs, bad


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summary(xs):
    q1, q2, q3 = quartiles(xs)
    return q2, q1, q3, (q3 - q1) / q2 if q2 else float('inf')


def main(argv):
    with open(os.path.join(os.path.dirname(HERE), 'BENCHMARK.json')) as f:
        metrics = json.load(f)['end_to_end']
    sets = [load(p) for p in argv]
    failed = [b for _, bad in sets for b in bad]
    for w, s in failed:
        print(f'failed run: {w} seed {s}')
    status = 1 if failed else 0
    a_runs = sets[0][0]
    b_runs = sets[1][0] if len(sets) > 1 else None
    for w in sorted(a_runs):
        for m in metrics:
            name, bound, lower = m['name'], m['bound'], m['better'] == 'lower'
            a = [r[name]['value'] for _, r in sorted(a_runs[w].items())]
            am, a1, a3, asp = summary(a)
            line = (f'{w:20s} {name:10s} A n={len(a):<2} median {am:<10.4g} '
                    f'q1 {a1:<10.4g} q3 {a3:<10.4g} spread {asp:6.3f}')
            if b_runs is None:
                flag = '' if asp <= bound or name == 'setup_s' else '  over bound'
                if flag:
                    status = 1
                print(line + f' (bound {bound}){flag}')
                continue
            bw = b_runs.get(w, {})
            b = [r[name]['value'] for _, r in sorted(bw.items())]
            if not b:
                print(line + '  B: no runs')
                status = 1
                continue
            bm, b1, b3, bsp = summary(b)
            seeds = sorted(set(a_runs[w]) & set(bw))
            wins = sum(1 for s in seeds
                       if (bw[s][name]['value'] < a_runs[w][s][name]['value']) == lower
                       and bw[s][name]['value'] != a_runs[w][s][name]['value'])
            worse_by = (bm - am) / am if lower else (am - bm) / am
            b_beats_all = (max(b) < min(a)) if lower else (min(b) > max(a))
            spread_ok = name == 'setup_s' or (asp <= bound and bsp <= bound)
            if not spread_ok and not b_beats_all:
                verdict = 'unresolved'
            elif worse_by > bound:
                verdict = 'worse'
            elif seeds and wins >= 0.9 * len(seeds) and abs(bm - am) > (a3 - a1):
                verdict = 'better'
            else:
                verdict = 'same'
            if verdict in ('unresolved', 'worse'):
                status = 1
            print(line + f' | B n={len(b):<2} median {bm:<10.4g} q1 {b1:<10.4g} '
                  f'q3 {b3:<10.4g} spread {bsp:6.3f} | B won {wins}/{len(seeds)} '
                  f'| {worse_by:+.3f} worse (bound {bound}) | {verdict}')
    return status


if __name__ == '__main__':
    if not 2 <= len(sys.argv) <= 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
