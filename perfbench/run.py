#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from source (scalac from the Spark distribution at $SPARK_HOME or
beside spark-submit, into
$CARGO_TARGET_DIR, default .bench_build) and writes the query tables; later
runs reuse both while the sources are unchanged. Spark's scratch space, the
JVM temp dir and the workload's inputs all stay under the build dir. The
JVM's log goes to <build>/logs/.

Extra flags, for the smoke test: --tier (table tier, default from
workloads.json) and --corpus tiny (one small file per format).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(HERE, 'workloads.json')
PROGRAM_SRC = os.path.join(ROOT, 'src', 'main', 'scala')
PROGRAM_RES = os.path.join(ROOT, 'src', 'main', 'resources')
WORKLOADS = ('ingest-mixed', 'queries')
RUN_TIMEOUT_S = 170
JVM_FLAGS = [
    '-Xmx3g', '-Xss8m', '-XX:ReservedCodeCacheSize=512m', '-XX:-UsePerfData',
    '-Duser.timezone=UTC', '-Dspark.ui.enabled=false',
] + ['--add-opens=java.base/%s=ALL-UNNAMED' % p for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io',
    'java.net', 'java.nio', 'java.util', 'java.util.concurrent',
    'java.util.concurrent.atomic', 'sun.nio.ch', 'sun.nio.cs',
    'sun.security.action', 'sun.util.calendar')]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME's, else those beside the
    first spark-submit on PATH that has them."""
    homes = [os.environ['SPARK_HOME']] if os.environ.get('SPARK_HOME') else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, 'spark-submit'))))
        for d in os.environ.get('PATH', '').split(os.pathsep)
        if os.path.isfile(os.path.join(d, 'spark-submit'))]
    for home in homes:
        if os.path.isdir(os.path.join(home, 'jars')):
            return os.path.join(home, 'jars')
    sys.exit('perfbench: no Spark distribution found; set SPARK_HOME')


def build_dir():
    return os.path.join(ROOT, os.environ.get('CARGO_TARGET_DIR') or '.bench_build')


def sources():
    out = []
    for top in (PROGRAM_SRC, os.path.join(HERE, 'src')):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith('.scala')]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, 'rb') as f:
            h.update(f.read())
    return h.hexdigest()


def fresh(stamp, want):
    try:
        with open(stamp) as f:
            return f.read() == want
    except OSError:
        return False


def build(bdir):
    """Compiles the program and the benchmark unless the sources are unchanged."""
    srcs = sources()
    want = digest(srcs)
    classes = os.path.join(bdir, 'classes')
    stamp = os.path.join(bdir, 'classes.stamp')
    if fresh(stamp, want):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log = os.path.join(bdir, 'logs', 'build.log')
    with open(log, 'w') as out:
        rc = subprocess.call(
            ['java', '-Xss8m', '-Xmx2g', '-XX:-UsePerfData',
             '-Djava.io.tmpdir=' + os.path.join(bdir, 'tmp'),
             '-cp', os.path.join(spark_jars(), '*'), 'scala.tools.nsc.Main',
             '-usejavacp', '-nowarn', '-d', classes] + srcs,
            stdout=out, stderr=subprocess.STDOUT, timeout=800)
    if rc != 0:
        sys.exit('perfbench: build failed, see ' + log)
    with open(stamp, 'w') as f:
        f.write(want)
    return classes


def tables(bdir, tier):
    """Writes the query tables of `tier` unless tables.py is unchanged."""
    gen = os.path.join(HERE, 'tables.py')
    out = os.path.join(bdir, 'tables', tier)
    stamp = out + '.stamp'
    want = digest([gen])
    if not fresh(stamp, want):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.check_call([sys.executable, gen, out, tier])
        with open(stamp, 'w') as f:
            f.write(want)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=int, required=True)
    ap.add_argument('--trace', choices=('0', '1'), default='0')
    ap.add_argument('--tier', default='sf0.01')
    ap.add_argument('--corpus', choices=('full', 'tiny'), default='full')
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit('perfbench: no program sources at ' + PROGRAM_SRC)
    bdir = build_dir()
    for d in ('logs', 'tmp', 'spark-local'):
        os.makedirs(os.path.join(bdir, d), exist_ok=True)
    classes = build(bdir)
    tdir = tables(bdir, a.tier)
    work = os.path.join(bdir, 'work', a.workload)
    os.makedirs(work, exist_ok=True)
    cp = os.pathsep.join([classes, PROGRAM_RES, os.path.join(spark_jars(), '*')])
    cmd = ['java'] + JVM_FLAGS + [
        '-Djava.io.tmpdir=' + os.path.join(bdir, 'tmp'),
        '-Dspark.local.dir=' + os.path.join(bdir, 'spark-local'),
        '-Dspark.sql.warehouse.dir=' + os.path.join(bdir, 'warehouse'),
        '-cp', cp, 'perfbench.Main',
        '--workload', a.workload, '--seed', str(a.seed),
        '--seconds', str(a.seconds), '--trace', a.trace, '--spec', SPEC,
        '--tables', tdir, '--tier', a.tier, '--work', work, '--corpus', a.corpus]
    log = os.path.join(bdir, 'logs', '%s-%d-%s.log' % (a.workload, a.seed, a.trace))
    with open(log, 'w') as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                               timeout=RUN_TIMEOUT_S, cwd=bdir)
        except subprocess.TimeoutExpired:
            sys.exit('perfbench: run timed out, see ' + log)
    out = p.stdout.decode()
    if p.returncode != 0 or not out.strip():
        sys.exit('perfbench: run failed (exit %d), see %s' % (p.returncode, log))
    sys.stdout.write(out)


if __name__ == '__main__':
    main()
