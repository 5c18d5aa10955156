#!/usr/bin/env python3
"""Benchmark entry point: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload crawl_pagerank --seed 1 --seconds 10 --trace 0

Run from the repository root.  It compiles the library sources and the
benchmark's Scala driver into .bench_build/ (once per source change),
prepares the seeded inputs under .bench_build/data/ (once per seed and
size), runs the workload in one local[4] Spark JVM, checks the outputs and
prints {"correct", "attempted", "failed", "metrics"} as the last line.
With --trace 1 the metrics are the per-layer ones and the spans are written
to .bench_build/traces/.  The exit code is non-zero when any output check
fails or the run cannot complete.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ('crawl_pagerank', 'linkgraph_scale', 'operator_sweep')
SWEEP_SF = 0.002
DEADLINE_S = 170
HEAP = '3g'
ADD_OPENS = ['java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
             'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
             'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar']


def fail(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get('SPARK_HOME', '/opt/spark')
    jars = os.path.join(home, 'jars')
    if not glob.glob(os.path.join(jars, 'scala-compiler-*.jar')):
        fail(f'no Spark jars with a Scala compiler under {jars}')
    return os.path.join(jars, '*')


def build(root, build_dir, jars):
    """Compile src/main/scala and the benchmark driver into one jar, unless
    the sources are unchanged since the last build."""
    sources = sorted(glob.glob(os.path.join(root, 'src/main/scala/**/*.scala'), recursive=True)
                     + glob.glob(os.path.join(HERE, 'scala/**/*.scala'), recursive=True))
    if not any('/src/main/scala/' in s for s in sources):
        fail('library sources src/main/scala not found; run from the repository root')
    digest = hashlib.sha256()
    for s in sources:
        digest.update(s.encode())
        with open(s, 'rb') as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    jar = os.path.join(build_dir, 'perfbench.jar')
    stamp_file = os.path.join(build_dir, 'perfbench.jar.stamp')
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    for stale in (stamp_file, jar, archive_of(jar)):
        if os.path.exists(stale):
            os.remove(stale)
    classes = os.path.join(build_dir, 'classes')
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ['java', '-Xss8m', '-Xmx2g', '-XX:-UsePerfData', f'-Djava.io.tmpdir={build_dir}',
           '-cp', jars, 'scala.tools.nsc.Main', '-nowarn',
           '-d', classes, '-cp', jars] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail('compilation failed:\n' + r.stdout[-4000:])
    # a jar, because class-data sharing archives classes from jars only
    with zipfile.ZipFile(jar, 'w', zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    with open(stamp_file, 'w') as f:
        f.write(stamp)
    return jar


def archive_of(jar):
    return jar + '.jsa'


def java(jar, jars, work_dir):
    """The command prefix and environment of a benchmark JVM whose scratch
    files all stay under `work_dir`.  The first JVM after a build archives
    the classes it loaded; later ones map that archive, which halves JVM and
    Spark start-up.  The JIT stops at its first tier (C1): a run is too short
    for the optimising compiler to settle, and with it the first timed pass
    shares the cores with about two cores of compilation and each later pass
    is faster than the one before; with C1 alone the passes are level from
    the first and the JVM burns about half the CPU.  The code cache keeps the
    size it has with both tiers: C1 alone would shrink it to 48 MB, and the
    sweep's generated classes then keep the sweeper flushing and recompiling."""
    local = os.path.join(work_dir, 'local')
    tmp = os.path.join(work_dir, 'tmp')
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ('--add-opens', f'java.base/{p}=ALL-UNNAMED')]
    archive = archive_of(jar)
    cds = (f'-XX:SharedArchiveFile={archive}' if os.path.exists(archive)
           else f'-XX:ArchiveClassesAtExit={archive}')
    cmd = ['java'] + opens + [cds,
        f'-Xms{HEAP}', f'-Xmx{HEAP}', '-Xmn1g', '-XX:+UseParallelGC', '-XX:-UseAdaptiveSizePolicy',
        '-XX:TieredStopAtLevel=1', '-XX:ReservedCodeCacheSize=240m', '-XX:-UsePerfData', f'-Djava.io.tmpdir={tmp}',
        f'-Dspark.local.dir={local}', f'-Dderby.system.home={tmp}',
        '-cp', f'{jar}:{jars}', 'graft.perfbench.Main']
    return cmd, dict(os.environ, SPARK_LOCAL_DIRS=local)


def run_jvm(args, jar, jars, data_dir, work_dir, log_path, deadline):
    cmd, env = java(jar, jars, work_dir)
    cmd += [args.workload, str(args.seed), str(args.seconds), str(args.trace), data_dir, work_dir]
    with open(log_path, 'w') as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                                cwd=work_dir)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f'the workload did not finish in time; log: {log_path}')
    lines = [l for l in out.splitlines() if l.startswith('{')]
    if proc.returncode != 0 or not lines:
        fail(f'the benchmark JVM exited with {proc.returncode}; log: {log_path}')
    with open(log_path, 'a') as log:
        log.write(lines[-1] + '\n')
    return json.loads(lines[-1])


def prepare_link_graph(args, jar, jars, data_dir, work_dir, log_path):
    """Make the seeded link-graph inputs in a JVM of their own, so that the
    benchmark JVM's peak RSS is the same whether or not they were cached."""
    with open(jar + '.stamp') as f:
        marker = os.path.join(data_dir, f'{args.workload}-s{args.seed}-{f.read()[:16]}.ready')
    if os.path.exists(marker):
        return
    cmd, env = java(jar, jars, os.path.join(work_dir, 'prepare'))
    with open(log_path, 'w') as log:
        r = subprocess.run(cmd + ['prepare', args.workload, str(args.seed), data_dir], env=env,
                           cwd=work_dir, stdout=subprocess.DEVNULL, stderr=log, timeout=DEADLINE_S)
    if r.returncode != 0:
        fail(f'input preparation failed; log: {log_path}')
    open(marker, 'w').close()


def check_oracles(root, sf_dir, out_dir):
    """Run the repository's DuckDB oracle check; return the failing lines."""
    r = subprocess.run([sys.executable, os.path.join(root, 'tools', 'check_oracles.py'), sf_dir, out_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = [l for l in r.stdout.splitlines() if l.startswith('FAIL')]
    if r.returncode != 0 and not bad:
        bad = ['oracle check failed: ' + r.stdout[-2000:]]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=int, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get('CARGO_TARGET_DIR', '.bench_build'))
    jars = spark_jars()
    jar = build(root, build_dir, jars)
    # the first run in a checkout may spend its time compiling
    deadline = max(deadline, time.time() + DEADLINE_S - 10)

    data_dir = os.path.join(build_dir, 'data')
    if args.workload == 'operator_sweep':
        data_dir = tables.write_tables(args.seed, SWEEP_SF, os.path.join(
            data_dir, f'tpch-sf{SWEEP_SF}-s{args.seed}'))
    work_dir = os.path.join(build_dir, 'work', f'{args.workload}-{os.getpid()}')
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    log_dir = os.path.join(build_dir, 'logs')
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, f'{args.workload}-s{args.seed}-t{args.trace}.log')
    try:
        if args.workload != 'operator_sweep':
            os.makedirs(data_dir, exist_ok=True)
            prepare_link_graph(args, jar, jars, data_dir, work_dir, log_path + '.prepare')
        res = run_jvm(args, jar, jars, data_dir, work_dir, log_path, deadline)
        failures = list(res['failures'])
        attempted, failed = res['attempted'], res['failed']
        if args.workload == 'operator_sweep':
            bad = check_oracles(root, data_dir, os.path.join(work_dir, 'sweep-out'))
            attempted += len(layers.SWEEP_QUERIES)
            failed += len(bad)
            failures += bad
        jvm = res['metrics']
        if args.trace:
            with open(res['trace']) as f:
                spans = json.load(f)
            metrics, trace_doc = layers.per_layer(args.workload, spans, jvm)
            trace_doc['untraced_wall_s'] = layers.remember(build_dir, args.workload, None)
            if trace_doc['untraced_wall_s']:
                trace_doc['overhead_frac'] = jvm['wall_s'] / trace_doc['untraced_wall_s'] - 1
            trace_dir = os.path.join(build_dir, 'traces')
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f'{args.workload}-s{args.seed}.json'), 'w') as f:
                json.dump(trace_doc, f, indent=1)
            units = dict(layers.PER_LAYER)
        else:
            metrics = {k: jvm[k] for k, _ in layers.END_TO_END}
            layers.remember(build_dir, args.workload, jvm['wall_s'])
            units = dict(layers.END_TO_END)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    for f in failures:
        print(f'FAILED: {f}', file=sys.stderr)
    print(json.dumps({
        'correct': failed == 0,
        'attempted': attempted,
        'failed': failed,
        'metrics': {k: {'value': v, 'unit': units[k]} for k, v in metrics.items()},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == '__main__':
    main()
