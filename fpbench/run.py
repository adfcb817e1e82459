#!/usr/bin/env python3
"""FP-Growth engine benchmark: one workload per run, printed as one JSON line.

Usage (from the repository root):
    python3 fpbench/run.py --workload mine-zipf --seed 1 --seconds 20 --trace 0

Builds the engine together with the benchmark harness (fpbench/build.sbt)
when a source changed, runs the workload in one JVM at local[<nproc>],
checks the DuckDB oracle rows the run wrote, prints a table of every
metric with its unit and sample count, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. Exits non-zero
on any correctness mismatch. Every file it writes is under .bench_build/.
See fpbench/README.md for the workloads and the metric glossary.
"""
import argparse, hashlib, json, os, shutil, statistics, subprocess, sys, time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')
# Input generators: the seed drives these and nothing else.
GENERATORS = {
    'mine-zipf': {'transactions': 30000, 'held_out': 3000, 'vocabulary': 1000,
                  'zipf_exponent': 1.0, 'mean_length': 10},
    'serve-baskets': {'orders': 30000, 'max_lines_per_order': 7, 'parts': 20000},
}
WORKLOADS = tuple(GENERATORS)
END_TO_END = [  # name, unit, sample key in the JVM's result; bounded in BENCHMARK.json
    ('setup_s', 's', 'setup_s'),
    ('pass_s', 's', 'pass_s'),
    ('retained_heap_mb', 'MB', 'retained_heap_mb'),
]
# Printed with the end-to-end metrics but not in the JSON line: on a 4-vCPU
# host their run-to-run spread on serve-baskets (sub-second ops, 2-3 passes
# a run) is 0.2-0.3, above any bound a regression gate can use. The traced
# run reports them per layer as fpm.fit_s, fpm.rules_s and fpm.predict_s.
OP_METRICS = [
    ('fit_s', 's', 'fit_s'),
    ('rules_s', 's', 'rules_s'),
    ('predict_rows_per_s', 'rows/s', 'predict_rows_per_s'),
]
ADD_OPENS = [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
    'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
    'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar')]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    dirs = [os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src'), os.path.join(HERE, 'project')]
    files = [os.path.join(HERE, 'build.sbt')]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ('target', 'project'))
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def build():
    """Compile engine + harness with sbt when any source changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala', 'graft')):
        sys.exit('fpbench: the engine sources (src/main/scala/graft) are not in this checkout')
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(BUILD, 'stamp'), os.path.join(BUILD, 'classpath')
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    if 'SBT_OPTS' not in env:
        opts = ['-Dsbt.offline=true', '-Xmx2g']
        repos = os.path.expanduser('~/.sbt/repositories')
        if os.path.exists(repos):
            opts += ['-Dsbt.override.build.repos=true', f'-Dsbt.repository.config={repos}']
        env['SBT_OPTS'] = ' '.join(opts)
    log('fpbench: building engine + harness with sbt ...')
    p = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true', '-Dsbt.server.forcestart=false',
                        'compile', 'export Runtime/fullClasspath'],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith('[')]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:], p.stderr[-4000:])
        sys.exit('fpbench: build failed')
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, 'w') as f:
        f.write(lines[-1])
    with open(stamp, 'w') as f:
        f.write(h.hexdigest())
    return lines[-1]


def generate(workload, seed, out):
    """Write the workload's inputs, made only from the seed, as parquet under `out`."""
    import numpy as np, pyarrow as pa, pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    if workload == 'mine-zipf':
        p = GENERATORS[workload]
        n, vocab = p['transactions'] + p['held_out'], p['vocabulary']
        cdf = np.cumsum(np.arange(1, vocab + 1) ** -p['zipf_exponent'])
        cdf /= cdf[-1]
        names = [f'i{k:04d}' for k in range(vocab)]
        lengths = np.minimum(1 + rng.poisson(p['mean_length'] - 1, n), vocab)
        pool, at, baskets = np.searchsorted(cdf, rng.random(4 * int(lengths.sum()))), 0, []
        for length in lengths:  # distinct items, drawn until the basket is full
            picked = set()
            while len(picked) < length:
                picked.add(int(pool[at]))
                at += 1
            baskets.append([names[i] for i in sorted(picked)])
        train = baskets[:p['transactions']]
        pq.write_table(pa.table({'items': train}), f'{out}/train.parquet')
        held = baskets[p['transactions']:]
        pq.write_table(pa.table({'id': np.arange(len(held), dtype=np.int64), 'items': held}),
                       f'{out}/held_out.parquet')
    else:
        p = GENERATORS[workload]
        brands = [f'Brand#{m}{k}' for m in range(1, 6) for k in range(1, 6)]
        part_brand = rng.integers(0, len(brands), p['parts'])
        pq.write_table(pa.table({'p_partkey': np.arange(1, p['parts'] + 1, dtype=np.int64),
                                 'p_brand': [brands[b] for b in part_brand]}), f'{out}/part.parquet')
        lines = rng.integers(1, p['max_lines_per_order'] + 1, p['orders'])
        pq.write_table(pa.table({
            'l_orderkey': np.repeat(np.arange(1, p['orders'] + 1, dtype=np.int64), lines),
            'l_partkey': rng.integers(1, p['parts'] + 1, int(lines.sum()), dtype=np.int64)}),
            f'{out}/lineitem.parquet')


def oracle_check(res, data_dir, oracle_dir):
    """Compare each oracle row the run wrote against DuckDB, the way tools/check.py does."""
    import duckdb
    bad = []
    con = duckdb.connect()
    for t in ('lineitem', 'part'):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for row in res['oracle_rows']:
        exp = con.execute(res['oracle_sql'][row]).df()
        got = duckdb.connect().execute(f"SELECT * FROM '{oracle_dir}/{row}/*.parquet'").df()
        exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
        cols = list(exp.columns)
        if cols != list(got.columns) or len(exp) != len(got) or not \
                exp.sort_values(cols, ignore_index=True).equals(got.sort_values(cols, ignore_index=True)):
            bad.append(f'{row} differs from its DuckDB oracle')
        else:
            log(f'fpbench: oracle {row}: OK ({len(exp)} rows)')
    return bad


def describe(xs):
    """Median plus the highest of p90/p95/p99 that has at least ten samples above it."""
    s = sorted(xs)
    pct = next((p for p in (99, 95, 90) if len(s) * (100 - p) / 100 >= 10), None)
    tail = f'p{pct} {s[int(len(s) * pct / 100)]:.4f}' if pct else 'no percentile with >=10 samples above'
    return f'median {statistics.median(s):.4f}, {tail}, n={len(s)}'


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.environ.get('SPARK_HOME'):
        submit = shutil.which('spark-submit')
        if not submit:
            sys.exit('fpbench: set SPARK_HOME to a Spark 4.1 install')
        os.environ['SPARK_HOME'] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    cp = build()
    work = os.path.join(BUILD, 'work', f'{a.workload}-{a.seed}-{os.getpid()}')
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, 'result.json')
    inputs = os.path.join(work, 'inputs')
    t0 = time.perf_counter()
    generate(a.workload, a.seed, inputs)
    generate_s = time.perf_counter() - t0
    # C1 only: with C2, profile-driven recompilation kept speeding passes up
    # through the whole run, and ten-run spreads of the pass medians were
    # 0.10-0.45 on a 4-vCPU host; C1 code is flat after the warm-up.
    cmd = ['java', *ADD_OPENS, '-Xmx3g', '-XX:+UseParallelGC', '-XX:TieredStopAtLevel=1',
           f'-Djava.io.tmpdir={tmp}',
           '-Dspark.ui.enabled=false', '-cp', cp, 'fpbench.Main', '--workload', a.workload,
           '--seconds', str(a.seconds), '--trace', str(a.trace),
           '--inputs', inputs, '--work', work, '--out', out]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=150)
    except subprocess.TimeoutExpired:
        sys.exit('fpbench: the benchmark JVM timed out')
    with open(os.path.join(work, 'jvm.log'), 'w') as f:
        f.write(p.stdout)
    if p.returncode != 0 or not os.path.exists(out):
        log(p.stdout[-6000:])
        sys.exit(f'fpbench: the benchmark JVM failed (exit {p.returncode})')
    res = json.load(open(out))
    failures = list(res['failures'])
    if res['oracle_rows']:
        failures += oracle_check(res, inputs, os.path.join(work, 'oracle'))
    for d in ('oracle', 'tmp', 'inputs', 'spark-local', 'warehouse'):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    params = {'seed': a.seed, **GENERATORS[a.workload], **res['params']}

    attempted = res['attempted'] + len(res['oracle_rows'])
    failed = len(failures)
    print(f"workload {a.workload}  params {json.dumps(params, sort_keys=True)}")
    print(f"host {json.dumps(res['host'], sort_keys=True)}")
    print(f"timeline (s since JVM start) {json.dumps(res['timeline_s'])}")
    print(f"{'fail_share':22s} {'ratio':7s} {failed / attempted:.4f} ({failed} of {attempted} ops)")
    metrics = {}
    if a.trace == 0:
        for name, unit, key in END_TO_END:
            xs = res[key]
            print(f'{name:22s} {unit:7s} {describe(xs)}')
            metrics[name] = {'value': statistics.median(xs), 'unit': unit}
        for name, unit, key in OP_METRICS:
            print(f'{name:22s} {unit:7s} {describe(res[key])}')
        print(f"{'caches.clear_s':22s} {'s':7s} {describe(res['caches_clear_s'])} (outside pass_s)")
        print(f"{'reference_s':22s} {'s':7s} {res['reference_s']:.4f} (MLlib, once, outside setup_s)")
        print(f"{'generate_s':22s} {'s':7s} {generate_s:.4f} (input generation, before the JVM starts)")
        for op, xs in res['op_s'].items():
            print(f"{'op ' + op:22s} {'s':7s} {describe(xs)}")
    else:
        for name, v in sorted(res['per_layer'].items()):
            unit = per_layer_unit(name)
            print(f'{name:34s} {unit:7s} {v:.4f}')
            metrics[name] = {'value': v, 'unit': unit}
        print(f"spans {res['spans_file']}")
    for f in failures:
        print(f'FAILED {f}')
    correct = not failures
    print(json.dumps({'correct': correct, 'attempted': attempted, 'failed': failed,
                      'metrics': metrics}))
    sys.exit(0 if correct else 1)


def per_layer_unit(name):
    if name.endswith('_mb'):
        return 'MB'
    if name.endswith(('_s', '.s', '_s_p50')):
        return 's'
    if name.endswith(('cpu_util', 'imbalance', 'share', 'over_wall', 'over_mean')):
        return 'ratio'
    return 'count'


if __name__ == '__main__':
    main()
